package graft
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Cli.session()
    // FormattedMode: the round-9+ plan evidence files (plans/rNN/) must
    // carry PushedFilters/ReadSchema/join build sides, which SimpleMode
    // omits. Override the fixture dir with SPARK_GRAFT_SF_DIR if needed.
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (name <- args) {
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
