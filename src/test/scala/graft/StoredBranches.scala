package graft

import graft.index.{IndexStore, InvertedIndex}
import graft.rank.BM25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The both-branch check of the stored serving paths: a stored request at
  * cap 0 (the Spark plan) and at the default cap (the driver read) equals
  * the recompute answer row for row and column for column (names and
  * types), the two branches' schemas are equal, and the default one is a
  * LocalRelation. */
trait StoredBranches extends SparkSpec {

  /** `stored(cap)` at both caps against `fresh`. A request that touches no
    * bucket file (OOV terms only, a zero-row store) has nothing to read:
    * at any cap it is answered on the driver. */
  protected def checkBranches(d: String, terms: Seq[String], label: String,
                              fresh: DataFrame)(stored: Long => DataFrame): Unit = {
    val want = fresh.collect().toSeq
    val buckets = IndexStore.storedBuckets(spark, d)
    val reads = terms.exists(t =>
      new java.io.File(s"$d/postings/term_bucket=${IndexStore.bucketOf(t, buckets)}")
        .exists())
    val got = Seq(0L, IndexStore.DriverReadMaxBytes).map { cap =>
      val g = stored(cap)
      assert(g.queryExecution.analyzed.isInstanceOf[LocalRelation] == (cap > 0 || !reads),
        s"$label at cap $cap planned\n${g.queryExecution.analyzed}")
      // doc_id's nullability is the input's: the stored postings' is true
      assert(g.schema.map(f => (f.name, f.dataType)) ==
        fresh.schema.map(f => (f.name, f.dataType)), s"$label at cap $cap")
      assert(g.collect().toSeq == want, s"$label at cap $cap")
      g.schema
    }
    assert(got.distinct.size == 1, s"$label: the branches' schemas differ: $got")
  }

  /** searchStored against BM25.search. */
  protected def bothBranches(d: String, docs: DataFrame, queries: Seq[String],
                             topK: Int = 10): Unit = queries.foreach { q =>
    checkBranches(d, q.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq, s"'$q'",
      BM25.search(spark, docs, q, topK = topK))(cap =>
      BM25.searchStored(spark, d, q, topK = topK, driverReadMaxBytes = cap))
  }

  /** phraseMatchStored against InvertedIndex.phraseMatch. */
  protected def phraseBranches(d: String, docs: DataFrame, phrases: String*): Unit =
    phrases.foreach { p =>
      checkBranches(d, InvertedIndex.phraseTerms(p), s"phrase '$p'",
        InvertedIndex.phraseMatch(docs, p))(cap =>
        IndexStore.phraseMatchStored(spark, d, p, driverReadMaxBytes = cap))
    }

  /** proximityMatchStored against InvertedIndex.proximityMatch, for each
    * (termA, termB, window). */
  protected def proximityBranches(d: String, docs: DataFrame,
                                  requests: (String, String, Int)*): Unit =
    requests.foreach { case (a, b, w) =>
      checkBranches(d, Seq(a, b).map(_.toLowerCase), s"proximity ($a, $b, $w)",
        InvertedIndex.proximityMatch(docs, a, b, w))(cap =>
        IndexStore.proximityMatchStored(spark, d, a, b, w, driverReadMaxBytes = cap))
    }
}
