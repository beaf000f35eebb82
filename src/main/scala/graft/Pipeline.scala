package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexStore
import graft.rank.BM25
import graft.sources.{DocFileSink, Sampling, Sources}

/** End-to-end pipeline driver — the reference's `app.sh` stages
  * (app/app.sh:19-26: prepare_data.sh -> index.sh -> search.sh "query") as
  * ONE composable entry point, so a reference user keeps their one-command
  * workflow instead of hand-wiring four calls (round-2 review gap #1).
  *
  * Stages map 1:1:
  *  - prepare (app/prepare_data.py:16-26): deterministic seeded sample of
  *    the corpus + one `{id}_{title}.txt` file per doc;
  *  - index (app/index.sh:53-73): build + persist the IndexStore tables,
  *    postings term-hash-bucketed for partition-pruned serving;
  *  - search (app/search.sh -> app/query.py): BM25 top-10 served from the
  *    stored index.
  */
object Pipeline {

  /** prepare -> index -> search; returns the ranked result frame. */
  def run(spark: SparkSession, docs: DataFrame, workDir: String,
          query: String, sampleN: Int = 1000, seed: Long = 0L): DataFrame = {
    // persist the sample across the eager stages: the seeded TakeOrdered is
    // a full corpus scan, and the file sink and the index build would
    // otherwise each re-run it.
    // Released before returning — the search frame reads the STORED index,
    // not this lineage.
    val sampled = Sampling.deterministicSample(docs, "doc_id", sampleN, seed)
      .drop("sample_key").persist()
    try {
      // the reference corpus carries a title per doc; ours doesn't — derive
      // a stable one for the per-doc file names
      val titled =
        if (sampled.columns.contains("doc_title")) sampled
        else sampled.withColumn("doc_title",
          concat(lit("doc"), col("doc_id").cast("string")))
      DocFileSink.writeDocFiles(titled, s"$workDir/data")
      IndexStore.write(sampled, s"$workDir/index")
    } finally sampled.unpersist()
    BM25.searchStored(spark, s"$workDir/index", query)
  }

  /** CLI parity with `app.sh`: <sfDir> <workDir> [query words...]; ranked
    * result also lands as TSV (the reference's query.py:144 output shape). */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val workDir =
      if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val query =
      if (args.length > 2) args.drop(2).mkString(" ")
      else SparkEntry.FlagshipQuery
    val spark = Cli.session()
    val result = run(spark, table(spark, sfDir, "documents"), workDir, query)
    Sources.writeTsv(result, s"$workDir/result")
    result.show(truncate = false)
    spark.stop()
  }
}
