package graft

import java.nio.file.Files

import graft.curate.{Curation, IncrementalCuration}

/** The incremental-≡-full claim (round-3 verdict item #6): after any
  * snapshot mutation, update() must produce EXACTLY the keep-set a full
  * re-curation of the new snapshot produces — including the hard cases:
  * a removed representative resurrecting its surviving duplicate, and a
  * new lower-id duplicate evicting a stored kept doc. */
class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  private val P = IncrementalCuration.Params(minJaccard = 0.3)

  private def fullTags(docs: org.apache.spark.sql.DataFrame): Map[Long, String] =
    Curation.curationTags(docs, P.minTokens, P.maxDupTrigramFrac, P.n,
      P.minJaccard, P.maxShingleDf).as[(Long, String)].collect().toMap

  private val v0 = Seq(
    (1L, "zz yy xx ww vv uu"),                                          // langid drop
    (3L, "the spam spam spam spam spam spam spam spam spam spam spam"), // quality drop
    (4L, "the quick brown fox jumps over the lazy dog again today"),    // kept rep
    (5L, "the quick brown fox jumps over the lazy dog again today"),    // exact dup of 4
    (6L, "the quick brown fox jumps over the lazy cat again today"),    // near dup of 4
    (7L, "a completely different clean document about sparkling windows"),
    (9L, "some other clean prose with plenty of tokens in it here"),
  )

  test("initialize reproduces full curation on the initial snapshot") {
    val dir = Files.createTempDirectory("inc-cur-a").toString
    val docs = v0.toDF("doc_id", "text")
    val inc = IncrementalCuration.initialize(spark, docs, dir, P)
      .as[(Long, String)].collect().toMap
    assert(inc == fullTags(docs))
  }

  test("update ≡ full re-curation across add/remove/change, incl. " +
    "eviction and resurrection") {
    val dir = Files.createTempDirectory("inc-cur-b").toString
    IncrementalCuration.initialize(spark, v0.toDF("doc_id", "text"), dir, P)
    val v1 = Seq(
      (1L, "zz yy xx ww vv uu"),
      // 3 removed entirely
      // 4 REMOVED: exact-dup 5 must resurrect as its hash's new rep, and
      // near-dup 6's blocker is gone via the cluster re-election
      (5L, "the quick brown fox jumps over the lazy dog again today"),
      (6L, "the quick brown fox jumps over the lazy cat again today"),
      (7L, "a completely different clean document about sparkling windows"),
      // 8 ADDED as an exact dup of stored 9: 8 < 9 EVICTS the stored doc
      (8L, "some other clean prose with plenty of tokens in it here"),
      (9L, "some other clean prose with plenty of tokens in it here"),
      // 10 ADDED clean
      (10L, "fresh unrelated content discussing mountains rivers and clouds"),
      // 11 ADDED failing quality (short)
      (11L, "the cat sat"),
    )
    val newDocs = v1.toDF("doc_id", "text")
    val inc = IncrementalCuration.update(spark, newDocs, dir, P)
      .as[(Long, String)].collect().toMap
    val full = fullTags(newDocs)
    assert(inc == full, s"incremental $inc vs full $full")
    // the interesting verdicts, pinned explicitly
    assert(inc(5L) == "5_kept")               // resurrected (rep 4 gone)
    assert(inc(6L) == "4_dropped_near_dup")   // now near-dups 5 instead
    assert(inc(8L) == "5_kept")               // new lower-id rep
    assert(inc(9L) == "3_dropped_exact_dup")  // evicted by 8
  }

  // rows at the edges of the stage-1/2 verdict: no trigram at all, no
  // token at all, a single trigram repeated, and no language marker in a
  // long-enough doc
  private val edges = Seq(
    (20L, "the end"),
    (21L, ""),
    (22L, "the the the the the the"),
    (23L, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
  )

  test("initialize and update ≡ full re-curation on verdict edge rows") {
    val docs = (v0 ++ edges).toDF("doc_id", "text")
    val full = fullTags(docs)
    assert(edges.map(e => full(e._1)) == Seq("2_dropped_quality",
      "1_dropped_langid", "2_dropped_quality", "1_dropped_langid"))
    val initDir = Files.createTempDirectory("inc-cur-d").toString
    val init = IncrementalCuration.initialize(spark, docs, initDir, P)
      .as[(Long, String)].collect().toMap
    assert(init == full, s"initialize $init vs full $full")
    // the same rows arriving as a delta over stored state
    val updDir = Files.createTempDirectory("inc-cur-e").toString
    IncrementalCuration.initialize(spark, v0.toDF("doc_id", "text"), updDir, P)
    val upd = IncrementalCuration.update(spark, docs, updDir, P)
      .as[(Long, String)].collect().toMap
    assert(upd == full, s"update $upd vs full $full")
  }

  test("update is idempotent: replaying the same snapshot changes nothing") {
    val dir = Files.createTempDirectory("inc-cur-c").toString
    val docs = v0.toDF("doc_id", "text")
    IncrementalCuration.initialize(spark, docs, dir, P)
    val a = IncrementalCuration.update(spark, docs, dir, P)
      .as[(Long, String)].collect().toMap
    val b = IncrementalCuration.update(spark, docs, dir, P)
      .as[(Long, String)].collect().toMap
    assert(a == b && a == fullTags(docs))
  }
}
