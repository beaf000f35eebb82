package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types.StructType

/** The declared query surface over a fixture dir, built once per test
  * JVM: each query's executed-plan string and output schema. Building all
  * 275 queries takes minutes (some run eager jobs while they build), so
  * every spec that sweeps the surface reads this one build. */
object QuerySurface {
  private val built = TrieMap.empty[(String, String), (String, StructType)]

  private def apply(dir: String, name: String): (String, StructType) =
    built.getOrElseUpdate((dir, name), {
      val df = SparkEntry.queries(name)(SparkSpec.session, dir)
      (df.queryExecution.executedPlan.toString, df.schema)
    })

  def plan(dir: String, name: String): String = apply(dir, name)._1

  def schema(dir: String, name: String): StructType = apply(dir, name)._2
}
