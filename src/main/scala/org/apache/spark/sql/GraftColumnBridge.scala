package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column↔Expression and plan→DataFrame
  * converters — the supported path for third-party Catalyst expressions and
  * logical plans in Spark 4's column-node world — and to the error builders
  * those expressions share with Spark's own.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan (e.g. graft.plans.AsofJoinPlan) as a
    * DataFrame on the session's classic implementation.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `element_at`'s ANSI out-of-bounds error (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). */
  def elementAtIndexError(index: Int, numElements: Int): RuntimeException =
    errors.QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
