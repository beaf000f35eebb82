package graft.sql

import org.apache.spark.sql.SparkSession

/** SQL surface: register the testdata tables as temp views so the whole
  * engine is reachable through `spark.sql(...)` — including the native
  * `graft_*` functions when the session carries GraftExtensions (or after
  * `graft.functions.FunctionTable.register`).
  */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit =
    Names.foreach { n =>
      graft.table(spark, dir, n).createOrReplaceTempView(n)
    }
}
