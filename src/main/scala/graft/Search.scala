package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.rank.BM25
import graft.sources.Sources

/** `search.sh` parity (app/search.sh -> app/query.py): rank a query
  * against an EXISTING stored index — no rebuild, the serving path only.
  * The reference prints `doc_id<TAB>title<TAB>score`; we emit the ranked
  * frame and a TSV copy. */
object Search {

  def run(spark: SparkSession, indexDir: String, query: String,
          topK: Int = 10): DataFrame =
    BM25.searchStored(spark, indexDir, query, topK = topK)

  /** Exact-phrase mode: consecutive-position match served from the stored
    * postings' positions (graft.index.IndexStore.phraseMatchStored): on
    * the driver, with no Spark job, when the chain terms' bucket files sum
    * to at most `IndexStore.DriverReadMaxBytes`. */
  def runPhrase(spark: SparkSession, indexDir: String, phrase: String): DataFrame =
    graft.index.IndexStore.phraseMatchStored(spark, indexDir, phrase)

  /** CLI: <indexDir> [--phrase] <query words...>. The TSV copy lands NEXT
    * TO the index root, never inside it — IndexStore.ingest swaps the
    * whole root directory and would silently delete anything else stored
    * there. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Search <indexDir> [--phrase] <query words...>")
    val indexDir = args(0)
    val phraseMode = args(1) == "--phrase"
    val rest = if (phraseMode) args.drop(2) else args.drop(1)
    require(rest.nonEmpty, "usage: Search <indexDir> [--phrase] <query words...>")
    val query = rest.mkString(" ")
    val spark = Cli.session()
    // one execution for both outputs: the serving plan is the latency the
    // stored path exists to minimize, so don't pay it twice
    val result = (if (phraseMode) runPhrase(spark, indexDir, query)
      else run(spark, indexDir, query)).persist()
    try {
      Sources.writeTsv(result, s"$indexDir.search_out")
      result.show(truncate = false)
    } finally result.unpersist()
    spark.stop()
  }
}
