package graft.tools

import org.apache.spark.sql.DataFrame

/** Serving-latency micro-bench for the STORED query paths (round-6
  * verdict item #7): the numbers a "query engine" headline needs that
  * the throughput bench can't show — per-request cold-vs-warm latency
  * percentiles against a PERSISTED store, build paid exactly once.
  *
  * Method: build the inverted-index store once (timed separately, as in
  * Bench); then for each serving op run `reps` requests, ROTATING the
  * request input (query strings composed from the store's own top-df
  * vocabulary; ANN queries rotate vec_ids) so the warm numbers measure
  * the serving PLAN, not one literal's cached shuffle. Request 1 is
  * reported as `cold_sec` (plan compile + first store touch); requests
  * 2..reps give warm p50/p95/p99. Each request executes to a noop sink
  * (full plan runs, rows discarded executor-side — the Bench contract).
  *
  * Output: one JSON line on stdout, and also written to the file named by
  * the optional first argument (`runMain graft.tools.ServeBench out.json`):
  * {"metric":"serve","build_sec":…,"reps":N,
  *  "ops":{name:{"cold_sec":…,"p50":…,"p95":…,"p99":…}}}
  * With reps ~40 the p99 is the warm max — honest at this sample size;
  * raise SPARK_GRAFT_SERVE_REPS for tighter tails. */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SERVE_REPS", "40").toInt
    val spark = graft.Cli.session()
    spark.range(100000).selectExpr("sum(id)").collect()

    val idx = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_servebench_" + spark.sparkContext.applicationId).toString
    val t0 = System.nanoTime()
    graft.index.IndexStore.write(
      graft.table(spark, sfDir, "documents"), idx)
    val buildSec = (System.nanoTime() - t0) / 1e9

    // Request mix from the store itself: top-16 df terms, paired into
    // two-term queries — guaranteed in-vocabulary at any scale factor.
    val topTerms = graft.index.IndexStore.postings(spark, idx)
      .groupBy("term").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("term"))
      .limit(16).select("term").collect().map(_.getString(0)).toSeq
    val termQueries: Seq[String] =
      topTerms.grouped(2).map(_.mkString(" ")).toSeq
    val vecIds: Seq[Long] = (0L until 8L)
    val emb = graft.table(spark, sfDir, "embeddings")

    def pct(sorted: Seq[Double], p: Double): Double =
      sorted(math.min(sorted.size - 1,
        math.max(0, math.ceil(p * sorted.size).toInt - 1)))
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

    // Each op maps request index i -> a serving DataFrame.
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "bm25_stored" -> { i: Int =>
        graft.rank.BM25.searchStored(spark, idx,
          termQueries(i % termQueries.size)) },
      "bm25_multi_stored" -> { i: Int =>
        graft.rank.BM25.searchManyStored(spark, idx, Seq(
          (1L, termQueries(i % termQueries.size)),
          (2L, termQueries((i + 1) % termQueries.size)))) },
      "idx_phrase_stored" -> { i: Int =>
        graft.index.IndexStore.phraseMatchStored(spark, idx,
          "row column sort") },
      "idx_proximity_stored" -> { i: Int =>
        val Array(a, b) =
          termQueries(i % termQueries.size).split(" ").padTo(2, "spark")
            .take(2)
        graft.index.IndexStore.proximityMatchStored(spark, idx, a, b, 8) },
      "bm25_phrase_boost" -> { i: Int =>
        graft.rank.BM25.searchStoredPhraseBoosted(spark, idx,
          "row column sort") },
      "sim_ann_lsh" -> { i: Int =>
        graft.similarity.Similarity.annCosineLsh(emb,
          vecIds(i % vecIds.size), 10) },
      "sim_ann_ivf" -> { i: Int =>
        graft.similarity.Similarity.annCosineIvf(emb,
          vecIds(i % vecIds.size), 10) })

    val results = ops.map { case (name, mk) =>
      val lat = (0 until reps).map { i =>
        val s = System.nanoTime()
        mk(i).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }
      val warm = lat.drop(1).sorted
      (name, lat.head, pct(warm, 0.50), pct(warm, 0.95), pct(warm, 0.99))
    }
    val opsJson = results.map { case (n, c, p50, p95, p99) =>
      s""""$n":{"cold_sec":${fmt(c)},"p50":${fmt(p50)},"p95":${fmt(p95)},"p99":${fmt(p99)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"serve","build_sec":${fmt(buildSec)},""" +
      s""""reps":$reps,"sf":"$sfDir","ops":$opsJson}"""
    println(line)
    args.headOption.foreach(out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n"))
    spark.stop()
  }
}
