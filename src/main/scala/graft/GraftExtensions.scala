package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.FunctionTable

/** Library packaging for graft's SQL surface: sessions built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) get every `graft_*` kernel of
  * `FunctionTable` by name in SQL and the as-of join planner strategy —
  * the idiomatic way to ship Catalyst extensions with a Spark library.
  * DataFrame code needs none of it for the kernels: their Column helpers
  * build the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    FunctionTable.entries.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder))
    }
    // planner strategy: AsOfJoinNode -> AsOfJoinExec (sort-merge as-of)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
