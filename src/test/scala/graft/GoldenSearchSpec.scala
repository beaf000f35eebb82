package graft

import java.nio.file.Files

import graft.index.IndexStore
import graft.rank.BM25

/** End-to-end golden test at the reference's own entry point
  * (app/app.sh:26 runs `search.sh "football game"`): build the persisted
  * index, serve the query from it, pin the exact top-10.
  *
  * The synthetic corpus has no "football"/"game" tokens, so the pinned
  * ranking uses the flagship query (same 3-term shape); "football game"
  * itself exercises the reference's S9 empty-result path end-to-end
  * through the STORED index.
  *
  * Golden values independently computed by DuckDB over sf0.01 with the
  * identical BM25 formula (k1=1, b=0.75, ln(N/df)) — not copied from the
  * engine's own output.
  */
class GoldenSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft-golden-idx").toString
    IndexStore.write(table(spark, "/root/testdata/sf0.01", "documents"), dir)
    dir
  }

  test("stored-index search reproduces the pinned top-10 at sf0.01") {
    val got = BM25.searchStored(spark, indexDir, "spark join window")
      .as[(Long, Double)].collect().toSeq
    val golden = Seq(
      (38L, 1.1939), (174L, 1.1761), (97L, 1.1609), (427L, 1.1572),
      (396L, 1.1568), (3L, 1.1527), (376L, 1.1518), (403L, 1.1511),
      (77L, 1.15), (293L, 1.1493))
    assert(got == golden)
  }

  test("reference demo query 'football game' is OOV -> empty, schema intact") {
    val res = BM25.searchStored(spark, indexDir, "football game")
    assert(res.count() == 0)
    assert(res.columns.toSeq == Seq("doc_id", "doc_rank"))
  }

  test("recompute path agrees with the stored path on the golden query") {
    val docs = table(spark, "/root/testdata/sf0.01", "documents")
    val recompute = BM25.search(spark, docs, "spark join window")
      .as[(Long, Double)].collect().toSeq
    // the driver read (default cap) and the Spark plan (cap 0)
    for (cap <- Seq(IndexStore.DriverReadMaxBytes, 0L)) {
      val stored = BM25.searchStored(spark, indexDir, "spark join window",
        driverReadMaxBytes = cap).as[(Long, Double)].collect().toSeq
      assert(recompute == stored, s"cap $cap")
    }
  }

  test("phrase boost lifts exact-phrase docs above their bag-of-words ties") {
    // two docs with IDENTICAL token multisets (same BM25 for any query):
    // only one has them in phrase order
    val docs = Seq(
      (1L, "alpha beta gamma filler filler"),
      (2L, "beta alpha filler gamma filler"),
      (3L, "unrelated words entirely here now"),
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-phrase-idx").toString
    IndexStore.write(docs, dir)
    val base = BM25.searchStored(spark, dir, "alpha beta gamma")
      .as[(Long, Double)].collect().toSeq
    // unboosted: the tie breaks by doc_id, 1 before 2, equal scores
    assert(base.take(2).map(_._1) == Seq(1L, 2L))
    assert(base(0)._2 == base(1)._2)
    val boosted = BM25.searchStoredPhraseBoosted(spark, dir, "alpha beta gamma")
      .as[(Long, Double, Long)].collect().toSeq
    // boosted: doc 1 (exact phrase, n_phrase=1) strictly above doc 2
    assert(boosted.head._1 == 1L && boosted.head._3 == 1L)
    val doc2 = boosted.find(_._1 == 2L).get
    assert(doc2._3 == 0L && boosted.head._2 > doc2._2)
    // docs without all terms score on what they have; doc 3 has none
    assert(!boosted.exists(_._1 == 3L))
  }
}
