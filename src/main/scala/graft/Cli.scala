package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for every runnable entry point (Pipeline,
  * Search, Ingest, Verify, Bench, Plans, PlansExec and the tools), so the
  * local-mode configuration is decided in one place.
  *
  *  - `SPARK_GRAFT_CPUS` (default 4): the `local[n]` thread count, and the
  *    shuffle partition count.
  *  - `SPARK_GRAFT_MAX_PART_BYTES` (default Spark's 128 MB): scan split
  *    size. Scaled fixtures are flattened to ONE parquet file per table, so
  *    at 128 MB a 10x/100x documents/embeddings scan gets 1-2 input
  *    partitions and every scan-shaped stage runs near-serial — unlike a
  *    real corpus at that size, which arrives as proportionally many files.
  *    The scale gates export a smaller value to restore the scan
  *    parallelism the fixture's layout (not the plans) took away.
  *  - session time zone UTC, UI off, log level WARN.
  */
object Cli {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "134217728"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
