package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessors for package-private classic-Spark API — the
  * standard bridge a Spark extension library needs to hand a custom
  * LogicalPlan (here: graft.plans.AsOfJoinNode) back to the user as a
  * DataFrame, and to move between a Column and its Catalyst expression
  * (the graft_* Column helpers build their expressions directly). These
  * are the only main files outside the `graft` namespace, and they
  * contain no logic of their own.
  */
object GraftSqlBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def column(e: Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): Expression =
    ExpressionUtils.expression(c)
}
