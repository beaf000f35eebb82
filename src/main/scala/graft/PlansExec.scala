package graft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Executed-plan dump: runs each query and prints the RUNTIME (post-AQE)
  * plan plus the shuffle-exchange count and records — exactly what
  * BenchInvariantsSpec pins, for recalibrating a pin after a deliberate
  * plan change. */
object PlansExec extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val spark = Cli.session()
    val dir = "/root/testdata/sf0.01"
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val sh = collect(df.queryExecution.executedPlan) {
        case s: ShuffleExchangeLike => s }
      val rec = sh.flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
      println(s"===== $name exchanges=${sh.size} records=$rec")
      println(df.queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
