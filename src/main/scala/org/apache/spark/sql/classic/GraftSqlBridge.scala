package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal accessors for package-private classic-Spark API — the
  * standard bridge a Spark extension library needs to hand a custom
  * LogicalPlan (here: graft.plans.AsOfJoinNode) back to the user as a
  * DataFrame, and to move between a Column and its Catalyst expression
  * (the graft_* Column helpers build their expressions directly), and to
  * drop the plan-estimate statistics a checkpoint inherits. These
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

  /** A checkpointed frame without the statistics its checkpoint inherited
    * from the plan it materialized: Catalyst sizes it at
    * spark.sql.defaultSizeInBytes, as any RDD-backed relation. */
  def withoutPlanStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    df.queryExecution.logical match {
      case r: LogicalRDD => Dataset.ofRows(session, r.copy()(session, None, None))
      case other => throw new IllegalArgumentException(
        s"withoutPlanStats needs a checkpointed frame, got ${other.nodeName}")
    }
  }
}
