package graft

import graft.dedup.Dedup
import graft.textstats.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** duplicateClusters' rows at the default cap (the driver union-find)
    * and at driverEdgeCap = 0 (the distributed loop). */
  private def bothBranches(pairs: DataFrame): (Seq[Row], Seq[Row]) =
    (Dedup.duplicateClusters(pairs).collect().toSeq,
      Dedup.duplicateClusters(pairs, driverEdgeCap = 0).collect().toSeq)

  // a 2,000-node path numbered in path order: the distributed loop needs
  // 8 rounds, enough for each checkpoint's inherited size estimate to
  // have stalled the loop had it been kept
  private def pathEdges: Seq[(Long, Long)] = (1L until 2000L).map(i => (i, i + 1))

  // docs 1/2: near-dups (one token changed); 3: exact dup of 1; 4: unrelated
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"),
    (4L, "completely different content with nothing shared whatsoever here now"),
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under one representative") {
    val groups = Dedup.exactDuplicates(corpus)
      .as[(String, Long, Long)].collect()
    assert(groups.length == 3) // 1&3 merge
    val dupGroup = groups.find(_._3 == 2L).get
    assert(dupGroup._2 == 1L) // min doc_id representative
  }

  test("incremental exact dedup tags dup_store, dup_batch, novel correctly") {
    import org.apache.spark.sql.functions.{col, md5}
    // store = hashes of docs 1 and 4; batch: 10 = copy of 1 (dup_store),
    // 11 and 12 identical novel texts (first novel, second dup_batch),
    // 13 novel singleton
    val store = corpus.filter(col("doc_id").isin(1L, 4L))
      .select(md5(col("text")).as("content_hash"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "fresh text never seen before in the stored corpus at all"),
      (12L, "fresh text never seen before in the stored corpus at all"),
      (13L, "another brand new document body entirely its own"),
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(batch, store)
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out == Map(10L -> "dup_store", 11L -> "novel",
      12L -> "dup_batch", 13L -> "novel"))
    // idempotence of ingestion: appending the novel hashes and re-running
    // the same batch turns every doc into dup_store
    val appended = store.unionByName(
      Dedup.incrementalExactDedup(batch, store)
        .filter(col("status") === "novel")
        .select("content_hash"))
    val again = Dedup.incrementalExactDedup(batch, appended)
      .as[(Long, String, String)].collect()
    assert(again.forall(_._3 == "dup_store"))
  }

  test("LSH-against-store finds the stored near-dup without stored text") {
    // store signatures built once from the corpus; the batch re-uses doc 1's
    // text verbatim and adds an unrelated doc
    val storedSigs = Dedup.minhashSignatures(corpus, 32)
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again today"),
      (21L, "entirely unrelated wording sharing no shingles with anything stored"),
    ).toDF("doc_id", "text")
    val cand = Dedup.lshCandidatesAgainstStore(batch, storedSigs, 32, 8, 3, 0.3)
      .as[(Long, Long, Double)].collect()
    // doc 20 must hit its verbatim twins (1 and 3) with estimate 1.0
    val hits = cand.filter(_._1 == 20L)
    assert(hits.map(_._2).toSet.intersect(Set(1L, 3L)) == Set(1L, 3L))
    assert(hits.filter(c => c._2 == 1L || c._2 == 3L).forall(_._3 == 1.0))
    // the unrelated doc surfaces no candidates
    assert(!cand.exists(_._1 == 21L))
  }

  test("n-gram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.jaccardPairs(corpus, 3, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val exact = pairs.find(p => (p._1, p._2) == (1L, 3L)).get
    assert(exact._3 == 1.0) // identical docs -> jaccard exactly 1
    val near = pairs.find(p => (p._1, p._2) == (1L, 2L)).get
    assert(near._3 > 0.3 && near._3 < 1.0)
  }

  test("minhash+LSH recovers high-jaccard pairs and skips unrelated docs") {
    val pairs = Dedup.minhashLshPairs(corpus, 32, 8, 3, 0.3)
      .as[(Long, Long, Double)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 3L))) // identical -> identical signatures
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature similarity approximates jaccard") {
    val sigs = Dedup.minhashSignatures(corpus, 64)
      .as[(Long, Seq[Long])].collect().toMap
    def simEst(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(simEst(sigs(1L), sigs(3L)) == 1.0)
    assert(simEst(sigs(1L), sigs(2L)) > simEst(sigs(1L), sigs(4L)))
  }

  test("simhash: identical docs identical, near-dups close, unrelated far") {
    val sigs = Dedup.simhashSignatures(corpus).as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) == 0)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(4L)))
  }

  test("simhash pair search honors the hamming threshold") {
    val pairs = Dedup.simhashPairs(corpus, 0).as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 3L)))
  }

  test("shingle df-cap removes boilerplate-only pairs and bounds candidates") {
    // 4 unrelated docs sharing ONLY one boilerplate trigram ("copyright
    // all rights...") — the web-scale quadratic hazard in miniature.
    val boiler = Seq(
      (10L, "copyright all rights reserved alpha unique words one"),
      (11L, "copyright all rights reserved beta distinct tokens two"),
      (12L, "copyright all rights reserved gamma other stuff three"),
      (13L, "copyright all rights reserved delta final filler four"),
    ).toDF("doc_id", "text")
    val docs = corpus.unionByName(boiler)
    // Uncapped: no shingle's df exceeds the doc count, so a cap at the
    // doc count drops nothing, and the shared shingles generate
    // cross-boilerplate candidates.
    val uncapped = Dedup.jaccardPairs(docs, 3, 0.01,
      maxShingleDf = docs.count().toInt)
      .as[(Long, Long, Double)].collect()
    assert(uncapped.exists(p => p._1 >= 10L && p._2 >= 10L))
    // Capped at df<=3: "copyright all rights" (df=4) is dropped, so the
    // boilerplate docs share nothing and produce ZERO candidate pairs,
    // while the genuinely-near-dup pairs (1,2,3) survive untouched.
    val capped = Dedup.jaccardPairs(docs, 3, 0.01, maxShingleDf = 3)
      .as[(Long, Long, Double)].collect()
    assert(!capped.exists(p => p._1 >= 10L || p._2 >= 10L))
    assert(capped.map(p => (p._1, p._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // Same cap threaded through the LSH path.
    val lsh = Dedup.minhashLshPairs(docs, 32, 16, 3, 0.3, maxShingleDf = 3)
      .as[(Long, Long, Double)].collect()
    assert(!lsh.exists(p => p._1 >= 10L || p._2 >= 10L))
    assert(lsh.map(p => (p._1, p._2)).toSet.contains((1L, 3L)))
  }

  test("minhash LSH pairs match exact jaccard pairs on the sf0.001 corpus") {
    // The dedup_minhash_lsh_pairs oracle contract: with 16 bands of 2 rows,
    // every >=0.5-jaccard pair collides in some band (p~1), and the exact
    // verify removes sub-threshold candidates, so LSH output == exact.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = 100)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, 32, 16, 3, 0.5, maxShingleDf = 100)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty && lsh == exact)
  }

  test("duplicate clustering closes transitive chains to min-id components") {
    // chain 1-2, 2-3, plus isolated pair 7-9: component {1,2,3} needs TWO
    // propagation rounds (3 only reaches 1 via 2) — exercises the loop.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    val docs = (1L to 10L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val keep = Dedup.keepList(docs,
        Dedup.duplicateClusters(pairs)).as[Long].collect().toSeq
    // drop non-representatives 2, 3, 9; keep everything else
    assert(keep == Seq(1L, 4L, 5L, 6L, 7L, 8L, 10L))
  }

  test("clustering releases every cache it takes (no session-lifetime pins)") {
    // round-2 review: the returned labels frame stayed persisted forever
    // because no caller honored the unpersist contract. Now the result is an
    // eager localCheckpoint and the loop caches are all released — after the
    // downstream action completes, the session cache manager must be empty.
    // the cache manager is shared JVM-wide: only a clean-before state makes
    // the clean-after assertion attributable to duplicateClusters (another
    // suite's legitimate cache would otherwise fail this test spuriously)
    assume(spark.sharedState.cacheManager.isEmpty,
      "another suite left a persisted frame; cannot attribute cache state")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // both branches: the driver union-find and (cap 0) the distributed loop
    for (cap <- Seq(Dedup.DriverEdgeCap, 0)) {
      val keep = Dedup.keepList(docs, Dedup.duplicateClusters(
        Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = 100),
        driverEdgeCap = cap))
      assert(keep.count() > 0)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"duplicateClusters (cap $cap) pinned a frame in the session cache manager")
    }
  }

  test("driver union-find and distributed loop label every graph identically") {
    val fixtures = Seq(
      "chain and 7-9" -> Seq((1L, 2L), (2L, 3L), (7L, 9L)),
      "bridged triangles" -> Seq((1L, 2L), (1L, 3L), (2L, 3L),
        (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)),
      "2,000-node path" -> pathEdges)
    for ((name, edges) <- fixtures) {
      val (driver, distributed) = bothBranches(edges.toDF("doc_a", "doc_b"))
      assert(driver == distributed, name)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      assert(driver.map(_.getLong(0)) == nodes, name)
    }
    val path = bothBranches(pathEdges.toDF("doc_a", "doc_b"))._1
    assert(path.forall(_.getLong(1) == 1L))
  }

  test("maxIter bounds only the distributed loop, which still throws") {
    val pairs = pathEdges.toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.duplicateClusters(pairs, maxIter = 2, driverEdgeCap = 0)
    }
    assert(e.getMessage.contains("not converged after 2 rounds"))
    // under the cap the union-find needs no rounds
    assert(Dedup.duplicateClusters(pairs, maxIter = 2).count() == 2000L)
  }

  test("both branches drop pairs with a null endpoint") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
      (None, None), (Some(3L), Some(4L))).toDF("doc_a", "doc_b")
    val (driver, distributed) = bothBranches(pairs)
    assert(driver == distributed)
    assert(driver.map(r => r.getLong(0) -> r.getLong(1)) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("under the cap, clustering a materialized pair frame runs <= 2 jobs") {
    // the benchmark's shape: the pairs are persisted and counted first,
    // so every job in the call is the clustering's own
    val pairs = Dedup.jaccardPairs(corpus, 3, 0.5, maxShingleDf = 100).persist()
    try {
      assert(pairs.count() > 0)
      val (clusters, jobs) =
        jobsIn("graft-cluster-jobs")(Dedup.duplicateClusters(pairs))
      val ran = jobs.keySet
      assert(ran.size <= 2, s"duplicateClusters ran ${ran.size} jobs $ran")
      // the labels are driver-side rows: no lineage, no cache pin
      assert(clusters.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(clusters.count() > 0)
    } finally pairs.unpersist()
  }

  test("capped path bounds per-bucket candidate fan-out at df <= cap") {
    // A shingle at exactly the cap must survive and emit at most
    // C(cap, 2) ordered pairs — the per-task memory bound the default cap
    // derivation in Dedup.DefaultMaxShingleDf relies on.
    val boiler = Seq(
      (10L, "copyright all rights reserved alpha unique words one"),
      (11L, "copyright all rights reserved beta distinct tokens two"),
      (12L, "copyright all rights reserved gamma other stuff three"),
      (13L, "copyright all rights reserved delta final filler four"),
    ).toDF("doc_id", "text")
    // cap = 4 keeps the df=4 boilerplate shingles: every cross-boilerplate
    // pair appears exactly once (C(4,2) = 6), nothing beyond the bound
    val pairs = Dedup.jaccardPairs(boiler, 3, 0.0, maxShingleDf = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 6)
    assert(pairs.map(p => (p._1, p._2)).distinct.length == 6)
    assert(Dedup.DefaultMaxShingleDf == 1000) // derivation in the scaladoc
  }

  test("contamination report flags shared-shingle docs and only those") {
    val evalSet = Seq(
      (100L, "the capital of france is paris everyone knows"),
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // shares "the capital of", "capital of france", "of france is" ... -> flagged
      (1L, "we all know the capital of france is a lovely city"),
      // shares exactly ONE trigram ("capital of france") -> below minShared=2
      (2L, "name a capital of france quiz question"),
      // no overlap at all
      (3L, "completely unrelated text about spark joins and windows"),
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(corpus, evalSet, 3, 2)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L))
    assert(got(1L) >= 2)
  }

  test("embedding near-dup pairs by cosine threshold") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
  }

  test("banded LSH equals brute force on planted dups, never invents pairs") {
    // planted: 5 base vectors + exact copies — identical sign bits in every
    // band, so the banded generator MUST catch each planted pair; nothing
    // else comes close to cosine 0.99, so banded == brute exactly.
    val base = (0 until 5).map { i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat))
    }
    val dups = base.map { case (id, v) => (id + 100L, v.clone()) }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDupPairs(emb, 0.99)
      .as[(Long, Long, Double)].collect().toSet
    val banded = Dedup.embeddingNearDupPairsBanded(emb, 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.map(p => (p._1, p._2)) ==
      (0 until 5).map(i => (i.toLong, i + 100L)).toSet)
    assert(banded == brute)
    // on the realistic corpus: every banded pair is a brute pair with the
    // identical verified cosine (LSH can miss, it can never invent)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bruteMap = Dedup.embeddingNearDupPairs(corpus, 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val bandedC = Dedup.embeddingNearDupPairsBanded(corpus, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(bandedC.nonEmpty)
    bandedC.foreach(p => assert(bruteMap((p._1, p._2)) == p._3))
  }

  test("LSH near-dup pairs are a same-cosine subset of brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Dedup.embeddingNearDupPairs(emb, 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { p => assert(brute((p._1, p._2)) == p._3) }
  }

  test("blocked edit-distance finds small in-place edits, block-bounded") {
    // 1&2: one-word edit, same 8-char prefix + length band -> paired.
    // 1&3: exact dup -> distance 0. 4: shares nothing. 5: same prefix but
    // >100 chars longer -> different length band, correctly out of reach.
    val docs = (corpus.as[(Long, String)].collect().toSeq :+
      (5L, "the quick brown fox jumps over the lazy dog " + ("padding " * 20)))
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 3L), (1L, 3L, 0L), (2L, 3L, 3L)))
  }

  test("edit-distance blocking drops hot blocks at the cap like jaccard's df-cap") {
    // 60 boilerplate docs share one block; cap 50 must anti-join the whole
    // block out rather than emit 60*59/2 pairs from one bucket
    val boiler = (1 to 60).map(i => (100L + i, s"boilerplate header all the same text v$i"))
    val docs = (Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")) ++ boiler)
      .toDF("doc_id", "text")
    val capped = Dedup.editDistancePairs(docs, maxBlockSize = 50)
      .as[(Long, Long, Long)].collect().toSeq
    assert(capped.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    val uncapped = Dedup.editDistancePairs(docs, maxBlockSize = 0)
      .as[(Long, Long, Long)].collect()
    assert(uncapped.length > 1000) // the fan-out the cap is there to stop
  }

  test("shared n-gram windows flag copied docs and spare originals") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "totally different words appear here in this unique document body"),
      (4L, "short doc")).toDF("doc_id", "text")
    val r = Dedup.sharedNgramStats(docs, 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // 10 tokens -> 3 distinct 8-token windows; docs 1/2 share all of them
    assert(r(1L) == ((3L, 3L, 1.0)))
    assert(r(2L) == ((3L, 3L, 1.0)))
    assert(r(3L) == ((3L, 0L, 0.0))) // unique text: windows, none shared
    assert(r(4L) == ((0L, 0L, 0.0))) // < n tokens: no windows at all
  }

  test("shared n-gram stats: all-short corpus reports all zeros, one row per doc") {
    val docs = Seq((1L, "too short"), (2L, ""), (3L, "tiny"))
      .toDF("doc_id", "text")
    val r = Dedup.sharedNgramStats(docs, 8)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1L, 0L, 0L, 0.0), (2L, 0L, 0L, 0.0), (3L, 0L, 0L, 0.0)))
  }

  test("similarity PageRank: the template hub outranks its satellites") {
    // hub = 14 distinct tokens (12 trigram shingles); each satellite
    // changes ONE token >= 3 positions apart, killing 3 disjoint
    // shingles: hub-sat Jaccard = 9/15 = 0.6, sat-sat = 6/18 = 0.33 —
    // with threshold 0.5 the graph is exactly a 3-spoke star
    val base = (1 to 14).map(i => s"w$i").toArray
    def mut(p: Int, r: String) = { val a = base.clone(); a(p - 1) = r; a.mkString(" ") }
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, mut(4, "xx")), (3L, mut(8, "yy")), (4L, mut(12, "zz")),
      (5L, "totally different island text entirely unrelated")) // isolated: no pairs, not ranked
      .toDF("doc_id", "text")
    val pr = Dedup.similarityPageRank(docs, minJaccard = 0.5,
        maxShingleDf = 100)
      .as[(Long, Double)].collect().toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L)) // only graph nodes ranked
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L)) // symmetric satellites
    assert(pr(1L) > pr(2L), s"hub ${pr(1L)} not above satellite ${pr(2L)}")
    // undirected graph, no dangling nodes: rank mass is conserved
    assert(math.abs(pr.values.sum - 1.0) < 1e-5, pr.values.sum.toString)
  }

  test("cluster representatives: the centrality hub is the kept copy") {
    // same 3-spoke star: one cluster {1,2,3,4}; min-id would also pick 1,
    // so shift ids so the hub is NOT the minimum — rep must still be it
    val base = (1 to 14).map(i => s"w$i").toArray
    def mut(p: Int, r: String) = { val a = base.clone(); a(p - 1) = r; a.mkString(" ") }
    val docs = Seq(
      (9L, base.mkString(" ")), // hub, deliberately the HIGHEST id
      (2L, mut(4, "xx")), (3L, mut(8, "yy")), (4L, mut(12, "zz")))
      .toDF("doc_id", "text")
    val reps = Dedup.clusterRepresentatives(docs, minJaccard = 0.5,
        maxShingleDf = 100)
      .as[(Long, Long, Long, Double)].collect()
    assert(reps.length == 1)
    val (clusterId, nMembers, repDoc, repPr) = reps(0)
    assert(clusterId == 2L) // min-label component id
    assert(nMembers == 4L)
    assert(repDoc == 9L, s"picked $repDoc, not the hub") // NOT min-id
    assert(repPr > 0.25) // hub holds more than a uniform share
  }

  test("duplicatedSpans emits maximal cross-doc repeated spans") {
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    // doc1 tokens 0..29; doc2 copies doc1's tokens [5,15) then diverges,
    // and separately copies [20,28) — with k=4 the shared windows must
    // coalesce into exactly those two maximal spans on BOTH docs
    val d1 = words(0, 30)
    val d2 = words(5, 15) + " zzz qqq xxx yyy " + words(20, 28)
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 5L, 15L, 10L), (1L, 20L, 28L, 8L),
      (2L, 0L, 10L, 10L), (2L, 14L, 22L, 8L)))
  }

  test("duplicatedSpans: within-doc repeats alone do not trigger spans") {
    val rep = ((0 until 8).map(i => s"a$i").mkString(" ") + " ") * 2
    val docs = Seq((1L, rep), (2L, "completely different tokens here"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, k = 4).count() == 0L)
  }

  test("paragraphDupFraction flags exactly the cross-doc shared paragraph") {
    val boiler = (0 until 30).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 30).map(i => s"a$i").mkString(" ") + "\n\n" + boiler),
      (2L, (0 until 30).map(i => s"c$i").mkString(" ") + "\n\n" + boiler),
      (3L, (0 until 30).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDupFraction(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(out == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)))
  }

  test("bloom triage admits no false negatives and labels forced FPs at m=1") {
    import org.apache.spark.sql.functions.{col, md5}
    val store = corpus.filter(col("doc_id").isin(1L, 4L))
      .select(md5(col("text")).as("content_hash"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "fresh text never seen before in the stored corpus at all"),
      (13L, "another brand new document body entirely its own"),
    ).toDF("doc_id", "text")
    val out = Dedup.bloomIncrementalDedup(batch, store)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    // default m = 2^20: the exact dup is flagged by BOTH paths (exact =>
    // bloom, the no-false-negative guarantee), the novels by neither
    assert(out == Seq((10L, 1, 1, 0), (11L, 0, 0, 0), (13L, 0, 0, 0)))
    // m = 1: the single bit is set, every probe is a maybe — the novels
    // become LABELED false positives, the dup stays a true positive
    val tiny = Dedup.bloomIncrementalDedup(batch, store, m = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3))).toSeq
    assert(tiny == Seq((10L, 1, 0), (11L, 1, 1), (13L, 1, 1)))
  }

  test("containment flags the embedded excerpt that Jaccard dilutes") {
    // doc 2 = first half of doc 1 (strict subset); doc 3 unrelated
    val words = (0 until 40).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.take(20).mkString(" ")),
      (3L, (0 until 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // exactly the (1,2) pair: containment 1.0 (all 18 excerpt shingles in
    // doc 1), jaccard 18/38 — far below the same 0.9 threshold
    assert(out.toSeq == Seq((1L, 2L, 1.0, 0.4737)))
    // symmetric Jaccard at the same threshold finds nothing
    assert(Dedup.jaccardPairs(docs, 3, 0.9).count() == 0)
  }

  test("withSyntheticExcerpts plants first-half subset docs at the key base") {
    val docs = Seq(
      (0L, (0 until 10).map(i => s"a$i").mkString(" ")),
      (1L, (0 until 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.withSyntheticExcerpts(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.size == 3) // only doc 0 matches every=2
    assert(out(Dedup.ExcerptKeyBase) == (0 until 5).map(i => s"a$i").mkString(" "))
  }

  test("withSyntheticParagraphs materializes blank-line breaks paragraphs() recovers") {
    val docs = Seq((1L, (0 until 60).map(i => s"w$i").mkString(" ")),
      (2L, "short doc"))
      .toDF("doc_id", "text")
    val paras = Dedup.paragraphs(Dedup.withSyntheticParagraphs(docs, 25))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    // 60 tokens at 25/para -> 3 paragraphs; 2 tokens -> 1
    assert(paras == Seq((1L, 0), (1L, 1), (1L, 2), (2L, 0)))
  }

  test("winnowing: density, the gap guarantee, and the short-doc floor") {
    val k = Dedup.DefaultWinnowK
    val w = Dedup.DefaultWinnowW
    val docs = Seq(
      (1L, (0 until 80).map(i => s"tok${i % 37}x$i").mkString(" ")),
      // fewer than w windows (k+1 tokens = 2 windows) -> exactly 1 fp
      (2L, (0 until (k + 1)).map(i => s"s$i").mkString(" ")),
      // fewer than k tokens -> no windows, no fingerprints
      (3L, "a b c"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1)
    // doc 1: 80 tokens -> 76 windows; selected count strictly between the
    // 2/(w+1) expectation's floor and the window count, and the winnowing
    // guarantee holds: consecutive selected positions differ by <= w
    val pos1 = byDoc(1L).map(_._2).sorted
    assert(pos1.length > 76 / (w + 1) && pos1.length < 76)
    assert(pos1.head <= w - 1)
    assert(pos1.sliding(2).forall(p => p.length < 2 || p(1) - p(0) <= w))
    assert(byDoc(2L).length == 1) // truncated-frame global min
    assert(!byDoc.contains(3L))
    // every fingerprint replays the degree-(k-1) polynomial over the
    // md5-prefix token hashes at its recorded position
    import graft.functions.RollingHashExpr.{HashB, HashM}
    def th(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % HashM
    }
    val toks1 = (0 until 80).map(i => s"tok${i % 37}x$i")
    byDoc(1L).foreach { case (_, pos, fp) =>
      val expect = toks1.slice(pos.toInt, pos.toInt + k)
        .foldLeft(0L)((h, t) => (h * HashB + th(t)) % HashM)
      assert(fp == expect, s"fingerprint mismatch at pos $pos")
    }
  }

  test("line dedup removes cross-doc boilerplate and rebuilds cleaned text") {
    val docs = Seq(
      (1L, "promo line\nunique body one"),
      (2L, "promo line\nunique body two"),
      (3L, "promo line\nunique body three\npromo line"),
      (4L, "unique body four"),
      (5L, "promo line"))
      .toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Dedup.lineDedup(docs, minDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // "promo line" reaches df 3 on DISTINCT docs (doc 3's second copy
    // doesn't inflate df) and every occurrence is cut, including both in
    // doc 3 and doc 5's only line (cleaned text = "")
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, md5hex("unique body one")),
      (2L, 2L, 1L, md5hex("unique body two")),
      (3L, 3L, 2L, md5hex("unique body three")),
      (4L, 1L, 0L, md5hex("unique body four")),
      (5L, 1L, 1L, md5hex(""))))
  }

  test("winnow pairs recover the planted near-dup and skip unrelated docs") {
    // winnowing guarantee: a shared run of >= w+k-1 tokens shares a
    // fingerprint; docs 1/2 share all but one token, 3 is exact, 4 disjoint
    val pairs = Dedup.winnowPairs(corpus, 3, 2, 0.2, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L))) // exact dup: identical sketch
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding contamination: catches the planted eval twin, skips orthogonal") {
    // vec 0 is eval (0 % 17 == 0); vec 1 is a scaled copy (cosine 1, same
    // sign buckets in every band -> MUST surface); vec 2 is orthogonal
    // (cosine 0 -> below any threshold even when bucket-matched)
    val v0 = Array.tabulate(64)(d => math.sin(d + 1).toFloat)
    val v1 = v0.map(x => x * 2f)
    val v2 = Array.tabulate(64)(d => (if (d % 2 == 0) v0(d + 1) else -v0(d - 1)))
    val emb = Seq((0L, v0), (1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingContamination(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 0L, 1.0)))
  }

  test("source overlap: syndicated trigrams score between feed pairs") {
    // feeds a/b share one doc verbatim; c is disjoint (absent from output)
    val docs = Seq(
      (1L, "alpha beta gamma delta", "a"),
      (2L, "alpha beta gamma delta", "b"),
      (3L, "epsilon zeta eta theta", "b"),
      (4L, "iota kappa lambda mu nu", "c"),
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlapMatrix(docs)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // a: {abg, bgd} (2); b: {abg, bgd, ezh, zht} (4); inter = 2
    // jaccard = 2/(2+4-2) = 0.5; containment = 2/min(2,4) = 1.0
    assert(out == Seq(("a", "b", 2L, 0.5, 1.0)))
  }

  test("triangles: 4-clique is fully clustered, each vertex in 3 triangles") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.triangleStatsFromPairs(pairs)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == (1L to 4L).map(id => (id, 3L, 3L, Some(1.0))))
  }

  test("triangles: path has zero triangles; deg-1 clustering is NULL not 0") {
    // 1-2-3 path: node 2 has deg 2 and no triangle -> coefficient 0.0;
    // leaves have deg 1 -> undefined (NULL)
    val out = Dedup.triangleStatsFromPairs(
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 1L, 0L, None), (2L, 2L, 0L, Some(0.0)),
      (3L, 1L, 0L, None)))
  }

  test("triangles: hub orientation — star plus one closing edge") {
    // star center 10 with spokes 1,2,3 plus edge (1,2): one triangle
    // {10,1,2}. The hub (deg 3) receives oriented edges, so wedge width
    // stays bounded; coefficients: hub 2*1/(3*2)=0.3333, nodes 1,2
    // (deg 2) = 1.0, node 3 (deg 1) NULL.
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 2L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.triangleStatsFromPairs(pairs)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 2L, 1L, Some(1.0)), (2L, 2L, 1L, Some(1.0)),
      (3L, 1L, 0L, None), (10L, 3L, 1L, Some(0.3333))))
  }

  test("triangles: near-dup corpus — the 1~2~3 dup group closes one triangle") {
    // corpus: docs 1,2,3 mutually near-dup (>=0.05 jaccard), 4 isolated
    // (not in the graph at all)
    val out = Dedup.triangleStats(corpus, 0.05, maxShingleDf = 100)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 2L, 1L, Some(1.0)), (2L, 2L, 1L, Some(1.0)),
      (3L, 2L, 1L, Some(1.0))))
  }

  test("k-core peel: cliques and cycles survive, stars and paths peel away") {
    // clique {1,2,3}; path 4-5; star 6-{7,8}; 4-cycle {10,11,12,13}.
    // 2-core: the clique (deg 2 each) and the cycle (deg 2 each) — the
    // star peels in TWO rounds (leaves 7,8 first, then the stranded hub
    // 6), which is exactly the multi-round case the loop must handle.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L),
      (6L, 7L), (6L, 8L), (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.kCoreFromPairs(pairs, 2).as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 2L), (3L, 2L), (10L, 2L), (11L, 2L),
      (12L, 2L), (13L, 2L)))
  }

  test("k-core: k=3 empties a graph whose densest piece is a 3-clique") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Dedup.kCoreFromPairs(pairs, 3).count() == 0L)
  }

  test("LPA keeps two bridged triangles distinct where CC merges them") {
    // triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4:
    // the modal-label vote isolates the bridge, min-label CC follows it
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val lpa = Dedup.lpaCommunities(pairs)
      .as[(Long, Long)].collect().toMap
    // hand-unrolled 3 rounds (count DESC, label ASC tie-break)
    assert(lpa == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    val cc = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1) // the contrast: CC fuses via the bridge
    // layout invariance
    val re = Dedup.lpaCommunities(pairs.repartition(5))
      .as[(Long, Long)].collect().toMap
    assert(re == lpa)
    // deep-rounds lineage guard (round-9 ADVICE): a call crossing the
    // Fixpoint.CheckpointEvery block boundary must propagate identically —
    // the checkpoint truncates lineage, never the label state. This
    // graph converges by round 3, so rounds=CheckpointEvery+1 (which
    // checkpoints once mid-loop) must equal the round-3 fixpoint.
    val deep = Dedup.lpaCommunities(pairs, rounds = Fixpoint.CheckpointEvery + 1)
      .as[(Long, Long)].collect().toMap
    assert(deep == lpa)
    // a 30-node path keeps relabeling for dozens of rounds, so a block
    // boundary that dropped or repeated a round would change its labels
    val path = (1L until 30L).map(i => (i, i + 1))
    val every = Fixpoint.CheckpointEvery
    for (r <- Seq(every, every + 1, 2 * every + 1)) {
      assert(lpaReplay(path, r) != lpaReplay(path, r - 1) &&
        lpaReplay(path, r) != lpaReplay(path, r + 1), s"round $r: replay settled")
      assert(Dedup.lpaCommunities(path.toDF("doc_a", "doc_b"), rounds = r)
        .as[(Long, Long)].collect().toMap == lpaReplay(path, r), s"rounds = $r")
    }
  }

  // driver replays of the fixed-round updates, for the block-boundary cases
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** lpaCommunities' update rule: every node takes its neighbors' modal
    * label, highest count then lowest label, over the distinct edges. */
  private def lpaReplay(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val init = edges.map(_._1).distinct.map(n => n -> n).toMap
    (1 to rounds).foldLeft(init) { (label, _) =>
      edges.groupBy(_._1).map { case (src, out) =>
        src -> out.groupBy(e => label(e._2)).toSeq
          .maxBy { case (l, es) => (es.size, -l) }._1
      }
    }
  }

  /** pageRankFromPairs' update rule over both orientations of every pair,
    * duplicates kept, as (doc_id, round(pr, 6)) by doc_id. */
  private def pageRankReplay(pairs: Seq[(Long, Long)], rounds: Int,
                             d: Double = 0.85): Seq[(Long, Double)] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toDouble
    val pr = (1 to rounds).foldLeft(deg.map { case (k, _) => k -> 1.0 / n }) {
      (pr, _) => edges.groupBy(_._2).map { case (dst, in) =>
        dst -> ((1.0 - d) / n + d * in.map { case (src, _) => pr(src) / deg(src) }.sum)
      }
    }
    pr.toSeq.sorted.map { case (k, v) => k -> round6(v) }
  }

  test("PageRank past a checkpoint boundary equals the driver replay at round(6)") {
    // a star 1-{2..5} with a doubled spoke, then a path 5-6-7-8: the
    // graph is bipartite, so the ranks still swing at round 9
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L))
    val r = Fixpoint.CheckpointEvery + 1
    assert(pageRankReplay(pairs, r) != pageRankReplay(pairs, r - 1) &&
      pageRankReplay(pairs, r) != pageRankReplay(pairs, r + 1))
    val got = Dedup.pageRankFromPairs(pairs.toDF("doc_a", "doc_b"), iters = r)
      .as[(Long, Double)].collect().toSeq
    assert(got == pageRankReplay(pairs, r))
  }

  test("PageRank and TextRank run their default-depth rounds as one lazy plan: no per-round job") {
    // building at the default depth launches exactly the jobs of building
    // at depth 0 (the edge and degree checkpoints and the node count):
    // the rounds themselves run only when the result is collected
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("doc_a", "doc_b")
    val docs = (1 to 8).map(i => (i.toLong, s"leaf$i core leaf${i % 8 + 1}"))
      .toDF("doc_id", "text")
    // both operators default to 3 rounds
    val builds = Seq[(String, Int => DataFrame)](
      "pageRankFromPairs" -> (i => Dedup.pageRankFromPairs(pairs, iters = i)),
      "textRankKeywords" -> (i => TextAnalysis.textRankKeywords(docs, iters = i)))
    for ((name, build) <- builds) {
      val (_, none) = jobsIn(s"$name-depth-0")(build(0))
      val (out, default) = jobsIn(s"$name-default-depth")(build(3))
      assert(none.nonEmpty && default.size == none.size,
        s"$name: ${default.size} jobs at the default depth, ${none.size} at depth 0")
      assert(out.collect().nonEmpty, name)
    }
  }

  // brute-force reference for the prefix-filter parity tests: rep-collapse
  // identical shingle sets, then pairwise exact Jaccard between reps
  private def bruteRepJaccard(rows: Seq[(Long, String)], n: Int,
                              t: Double): Set[(Long, Long, Double)] = {
    def shingleSet(s: String): Set[String] = {
      val tk = "[a-z0-9_']+".r.findAllIn(s.toLowerCase).toVector
      if (tk.length < n) Set.empty
      else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s) => id -> shingleSet(s) }
      .filter(_._2.nonEmpty)
    val reps = sets.groupBy(_._2).map { case (set, members) =>
      members.map(_._1).min -> set
    }.toSeq
    (for {
      Seq((a, sa), (b, sb)) <- reps.sortBy(_._1).combinations(2)
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (a, b, BigDecimal(j).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  test("prefix jaccard: exact parity with the brute-force definition") {
    // identical-set pair (1, 3), a high-overlap pair (1, 2) at J = 11/15
    // (13 shingles each, 11 shared), an excerpt-grade pair, an unrelated doc
    val rows = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "the quick brown fox jumps over the lazy dog again and again today",
      4L -> "completely different content with nothing shared whatsoever here now",
      5L -> "the quick brown fox jumps over the lazy dog",
    )
    val out = Dedup.prefixJaccardPairs(rows.toDF("doc_id", "text"), 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(out == bruteRepJaccard(rows, 3, 0.5))
    assert(out.exists { case (a, b, _) => a == 1L && b == 2L }) // non-trivial pair
    assert(!out.exists { case (a, b, _) => a == 3L || b == 3L }) // collapsed into rep 1
  }

  test("prefix jaccard: all-identical corpus collapses to one rep, zero pairs") {
    val rows = (1L to 50L).map(i => i -> "same text for every single document here")
    val out = Dedup.prefixJaccardPairs(rows.toDF("doc_id", "text"), 3, 0.5)
    assert(out.count() == 0)
  }

  test("prefix jaccard: broadcast and shuffle_hash verify paths agree") {
    // broadcastMaxBytes 0 forces the shuffle_hash attach path the
    // corpus-scale gate takes; output must be identical to the default
    // (broadcast) path
    val rows = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy cat again and again today",
      3L -> "the quick brown fox jumps over the lazy dog again and again today",
      4L -> "completely different content with nothing shared whatsoever here now",
      5L -> "the quick brown fox jumps over the lazy dog",
    )
    val df = rows.toDF("doc_id", "text")
    val bcast = Dedup.prefixJaccardPairs(df, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val shuffled = Dedup.prefixJaccardPairs(df, 3, 0.5, broadcastMaxBytes = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(bcast == shuffled)
    assert(bcast.nonEmpty)
  }

  test("prefix jaccard: threshold sweep keeps parity (the ceil boundary)") {
    // sizes chosen to sit ON the ceil(t*sz) boundary at t = 0.5
    val rows = Seq(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10",
      2L -> "a1 a2 a3 a4 a5 a6 a7 b8 b9 b10",
      3L -> "a1 a2 a3 a4 z5 z6 z7 z8 z9 z10",
    )
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val out = Dedup.prefixJaccardPairs(rows.toDF("doc_id", "text"), 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(out == bruteRepJaccard(rows, 3, t), s"threshold $t")
    }
  }

  test("cdc chunks: partition the token stream exactly, short/empty docs degrade") {
    import org.apache.spark.sql.functions.col
    val text = (1 to 200).map(i => s"tok${i % 37}w$i").mkString(" ")
    val docs = Seq(10L -> text, 11L -> "only three tokens", 12L -> "")
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs)
      .as[(Long, Long, Long, Long, String)].collect()
    val byDoc = ch.groupBy(_._1)
    // chunks tile [0, n) contiguously: starts follow previous end + 1
    val big = byDoc(10L).sortBy(_._2)
    assert(big.head._3 == 0L)
    big.sliding(2).foreach {
      case Array(p, q) => assert(q._3 == p._3 + p._4)
      case _ => ()
    }
    assert(big.map(_._4).sum == 200L)
    assert(big.length > 3) // mask 16 over 200 tokens must actually cut
    // sub-k doc: one whole-doc chunk; empty doc: no chunks
    assert(byDoc(11L).toSeq == Seq((11L, 0L, 0L, 3L, byDoc(11L).head._5)))
    assert(!byDoc.contains(12L))
    // determinism across layout
    val re = Dedup.cdcChunks(docs.repartition(5))
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(re == ch.toSet)
  }

  test("cdc chunks: boundaries are content-local — a prepended prefix re-chunks only the head") {
    val base = (1 to 300).map(i => s"w${i * 7 % 101}x$i").mkString(" ")
    val docs = Seq(20L -> base, 21L -> s"zz yy xx $base")
      .toDF("doc_id", "text")
    val shared = Dedup.cdcSharedChunks(docs)
      .as[(String, Long, Long, Long)].collect()
    // the suffix beyond the first boundary chunks identically: shared
    // md5s must appear even though the copy is shifted by three tokens
    assert(shared.nonEmpty)
    assert(shared.forall(_._3 == 2L))
    // and the shared chunks cover most of the doc (content-defined
    // boundaries resynchronize right after the perturbation)
    val ch20 = Dedup.cdcChunks(docs).as[(Long, Long, Long, Long, String)]
      .collect().filter(_._1 == 20L)
    val sharedTokens = ch20.filter(c => shared.exists(_._1 == c._5)).map(_._4).sum
    assert(sharedTokens > 200L, s"only $sharedTokens of 300 tokens in shared chunks")
  }

  test("boundary stitch: a doc split across shards is found, direction preserved, short docs skipped") {
    val full = (1 to 40).map(i => s"tok$i").mkString(" ")
    // shard cut at token 20 with an 8-token overlap (the crawler-budget
    // pattern: the cutter re-emits the seam at the head of the next part)
    val partA = (1 to 20).map(i => s"tok$i").mkString(" ")
    val partB = (13 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, partA), (2L, partB),
      (3L, "unrelated words entirely different content here now ok fine"),
      (4L, "shorty"), // < 8 tokens: no seam at all
    ).toDF("doc_id", "text")
    val got = Dedup.boundaryStitchPairs(docs)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(full.contains("tok13 tok14")) // sanity: seam really is shared
  }

  test("boundary stitch: a boilerplate seam (same header == same footer everywhere) is capped, not n^2") {
    // every doc ends with the 8 tokens it starts with (template framing):
    // uncapped, every tail matches every head -> n*(n-1) ordered pairs
    val frame = (1 to 8).map(i => s"f$i").mkString(" ")
    val docs = (1L to 20L).map(d => (d, s"$frame middle$d $frame"))
      .toDF("doc_id", "text")
    assert(Dedup.boundaryStitchPairs(docs).count() == 0L)
    assert(Dedup.boundaryStitchPairs(docs, maxSeamDf = 0).count() == 380L)
  }
}
