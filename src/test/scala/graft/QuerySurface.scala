package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType

/** The declared query surface over a fixture dir, built once per test
  * JVM: each query's executed-plan string, output schema and unpartitioned
  * windows. Building all 275 queries takes minutes (some run eager jobs
  * while they build), so every spec that sweeps the surface reads this one
  * build. */
object QuerySurface extends AdaptiveSparkPlanHelper {
  private final case class Built(plan: String, schema: StructType,
                                 unpartitionedWindows: Seq[String])

  private val built = TrieMap.empty[(String, String), Built]

  private def apply(dir: String, name: String): Built =
    built.getOrElseUpdate((dir, name), {
      val df = SparkEntry.queries(name)(SparkSpec.session, dir)
      val plan = df.queryExecution.executedPlan
      Built(plan.toString, df.schema, collectWithSubqueries(plan) {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          w.windowExpression.map(_.name).mkString(",")
      })
    })

  def plan(dir: String, name: String): String = apply(dir, name).plan

  def schema(dir: String, name: String): StructType = apply(dir, name).schema

  /** The output columns of each `WindowExec` in the query's final plan
    * (subqueries included) that has no PARTITION BY: Spark runs such a
    * window's whole input in one task. Windows inside the eager jobs a
    * query runs while it builds (checkpoints, collects) are not seen. */
  def unpartitionedWindows(dir: String, name: String): Seq[String] =
    apply(dir, name).unpartitionedWindows
}
