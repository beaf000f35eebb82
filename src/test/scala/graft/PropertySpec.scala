package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.index.InvertedIndex
import graft.rank.BM25

/** SURVEY.md §5.3 — property-based invariants over generated corpora.
  * Raw scalacheck Gen with fixed seeds (the scalatest+scalacheck bridge
  * artifact isn't in the offline cache); 5 samples per property, each
  * sample running real Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "it's", "x9")
  private val docGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.listOf(wordGen).map(_.mkString(" ")))

  private def samples(n: Int): Seq[List[String]] =
    (1 to n).map(i => docGen.apply(Gen.Parameters.default, Seed(i.toLong)).get)

  test("df(term) == |{docs : tf(doc,term) > 0}| and dl == sum(tf)") {
    samples(5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val tf = InvertedIndex.termFrequency(docs).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val df = InvertedIndex.docFrequency(docs).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val dl = InvertedIndex.docInfo(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap

      val docsPerTerm = tf.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
      docsPerTerm.foreach { case (term, n) => assert(df(term) == n.toLong) }
      val tfSumPerDoc = tf.groupBy(_._1).view.mapValues(_.map(_._3).sum)
      tfSumPerDoc.foreach { case (d, s) => assert(dl(d) == s) }
      // docs absent from tf have zero-length text
      (dl.keySet -- tfSumPerDoc.keySet).foreach(d => assert(dl(d) == 0L))
    }
  }

  test("corpus totals equal the sum of per-doc lengths") {
    samples(5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val row = InvertedIndex.corpusInfo(docs).collect().head
      val dl = InvertedIndex.docInfo(docs).collect().map(_.getLong(1))
      assert(row.getLong(0) == dl.length.toLong)
      assert(row.getLong(1) == dl.sum)
    }
  }

  test("top-k is a prefix of the full ranking (O1)") {
    samples(3).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val full = BM25.search(spark, docs, "alpha beta", topK = 1000)
        .as[(Long, Double)].collect().toSeq
      Seq(1, 3).foreach { k =>
        val topK = BM25.search(spark, docs, "alpha beta", topK = k)
          .as[(Long, Double)].collect().toSeq
        assert(topK == full.take(k))
      }
    }
  }

  test("deterministic sample: prefix-of-larger-n and seed stability (S3)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(1L, 42L, 1234L).foreach { seed =>
      val small = graft.sources.Sampling.deterministicSample(docs, "doc_id", 20, seed)
        .select("doc_id").as[Long].collect().toSeq
      val large = graft.sources.Sampling.deterministicSample(docs, "doc_id", 60, seed)
        .select("doc_id").as[Long].collect().toSeq
      // growing n only APPENDS to the sample — the property that lets a
      // pipeline scale a corpus sample up without resampling everything
      assert(large.take(20) == small)
    }
  }

  test("cluster labels are component minima; representatives self-label") {
    samples(5).zipWithIndex.foreach { case (texts, si) =>
      // random small edge lists derived from the generated words' lengths
      val ids = texts.indices.map(_.toLong)
      val edges = ids.zip(ids.drop(1)).filter { case (a, _) => (a + si) % 2 == 0 }
      if (edges.nonEmpty) {
        val pairs = edges.toDF("doc_a", "doc_b")
        val labels = graft.dedup.Dedup.duplicateClusters(pairs)
          .as[(Long, Long)].collect().toMap
        // every label is itself a node that self-labels (the representative)
        labels.values.toSet.foreach { c: Long => assert(labels(c) == c) }
        // labels never exceed the node id (min semantics)
        labels.foreach { case (d, c) => assert(c <= d) }
        // endpoints of every edge share a label (connectivity respected)
        edges.foreach { case (a, b) => assert(labels(a) == labels(b)) }
        // the distributed loop (cap 0) labels exactly as the driver
        // union-find does
        assert(graft.dedup.Dedup.duplicateClusters(pairs, driverEdgeCap = 0)
          .as[(Long, Long)].collect().toMap == labels)
        pairs.sparkSession.catalog.clearCache()
      }
    }
  }

  test("incremental merge == full recompute (A8 as re-aggregation)") {
    samples(5).foreach { texts =>
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (oldDocs, newDocs) = all.splitAt(all.size / 2)
      val merged = InvertedIndex.mergeTermFrequency(
        InvertedIndex.termFrequency(oldDocs.toDF("doc_id", "text")),
        newDocs.toDF("doc_id", "text"))
        .as[(Long, String, Long)].collect().toSet
      val full = InvertedIndex.termFrequency(all.toDF("doc_id", "text"))
        .as[(Long, String, Long)].collect().toSet
      assert(merged == full)
    }
  }

  test("budget sample: monotone in budget, and the kept set is a prefix") {
    samples(3).foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, s"src${i % 2}") }
        .toDF("doc_id", "text", "source")
      val small = graft.curate.Curation.budgetSample(docs, 10L)
        .as[(String, Long, Long)].collect().map(r => (r._1, r._2)).toSet
      val big = graft.curate.Curation.budgetSample(docs, 1000L)
        .as[(String, Long, Long)].collect().map(r => (r._1, r._2)).toSet
      assert(small.subsetOf(big)) // raising the budget never evicts a doc
    }
  }

  test("shared n-gram fraction: 1.0 iff a doc's windows all reappear") {
    samples(3).foreach { texts =>
      // duplicate every doc under a shifted id: every window that exists
      // is shared, so every doc with any window must score exactly 1.0
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val dup = base.map { case (i, t) => (i + 1000L, t) }
      val stats = graft.dedup.Dedup.sharedNgramStats(
        (base ++ dup).toDF("doc_id", "text"), 3)
        .as[(Long, Long, Long, Double)].collect()
      stats.foreach { case (_, nw, nsw, frac) =>
        if (nw > 0) assert(nsw == nw && frac == 1.0) else assert(frac == 0.0)
      }
    }
  }

  test("phrase occurrences equal a substring replay of the token stream") {
    // count of "alpha beta" phrase starts == occurrences of the token pair
    // in the canonical (tokenized) sequence, replayed scala-side
    samples(5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = InvertedIndex.phraseMatch(docs, "alpha beta")
        .as[(Long, Long)].collect().toMap
      val expected = texts.zipWithIndex.flatMap { case (t, i) =>
        val toks = "[a-z0-9_']+".r.findAllIn(t.toLowerCase).toVector
        val n = toks.sliding(2).count(_ == Vector("alpha", "beta"))
        if (n > 0) Some(i.toLong -> n.toLong) else None
      }.toMap
      assert(out == expected, s"corpus: $texts")
    }
  }

  test("forward as-of == backward as-of under time negation") {
    // picking the EARLIEST right row at-or-after t over times T is the
    // same as picking the LATEST at-or-before -t over -T; the duplicate
    // tie-breaks (smallest vs greatest value) coincide when (key, time)
    // right rows are unique, which the generator guarantees
    import graft.relational.TemporalJoins
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    // left times range past every right time (right < 50) so some rows
    // genuinely have no following match
    val leftRows = (1 to 40).map(i =>
      (i.toLong, (i % 4).toLong, rnd.between(0L, 60L) * 1000000L))
    val rightRows = rnd.shuffle((0 until 4).flatMap(k =>
      rnd.shuffle((0L until 50L).toList).take(12).map(t =>
        (k.toLong, t * 1000000L, rnd.nextInt(1000).toDouble))))
    val l = leftRows.toDF("id", "k", "t")
      .select(col("id"), col("k"), org.apache.spark.sql.functions
        .timestamp_micros(col("t")).as("lt"))
    def rts(neg: Boolean) = rightRows.toDF("k", "t", "v")
      .select(col("k"), org.apache.spark.sql.functions
        .timestamp_micros(if (neg) -col("t") else col("t")).as("rt"), col("v"))
    val fwd = TemporalJoins.asOfJoinForward(l, rts(neg = false), "k",
        "lt", "rt", "v", "nxt")
      .select("id", "nxt").as[(Long, Option[Double])].collect().toMap
    val lNeg = l.select(col("id"), col("k"), org.apache.spark.sql.functions
      .timestamp_micros(-org.apache.spark.sql.functions.unix_micros(col("lt")))
      .as("lt"))
    val bwd = TemporalJoins.asOfJoin(lNeg, rts(neg = true), "k",
        "lt", "rt", "v", "nxt")
      .select("id", "nxt").as[(Long, Option[Double])].collect().toMap
    assert(fwd == bwd)
    assert(fwd.values.exists(_.isDefined) && fwd.values.exists(_.isEmpty))
  }

  test("ANN recall is bounded by 1 and exact when buckets degenerate") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // nPlanes=1 gives only 2 buckets: recall still in [0,1] and n_hits
    // consistent; more planes can only shrink buckets (recall never rises
    // above the brute bound of 1.0)
    Seq(1, 4, 8).foreach { p =>
      graft.similarity.Similarity.annRecallAtK(e, Seq(0L, 5L), 10, nPlanes = p)
        .as[(Long, Long, Long, Double)].collect().foreach {
          case (_, kEff, hits, rec) =>
            assert(hits <= kEff && rec >= 0.0 && rec <= 1.0)
        }
    }
  }
}
