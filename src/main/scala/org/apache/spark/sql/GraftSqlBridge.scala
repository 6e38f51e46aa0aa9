package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface: constructing a DataFrame
  * from a custom `LogicalPlan` (`Dataset.ofRows`) has no public
  * equivalent, and every Spark extension library ships a shim like this
  * one. Nothing else crosses the boundary.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a catalyst `Expression` as a user-facing `Column` — the
    * Spark-4 `Column(ColumnNode)` split removed the public
    * `new Column(expr)` constructor; `classic.ExpressionUtils.column`
    * is the sanctioned internal equivalent (used by Spark's own
    * classic DataFrame implementation). Needed by the SQL MERGE
    * routing, which re-evaluates the statement's parsed clause
    * conditions / SET values against a prefixed join frame.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The reverse direction: unwrap a `Column` to its catalyst
    * `Expression` (Spark 4 removed the public `.expr`). Used to detect
    * SortOrder-wrapped sort keys in the terasort helpers.
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The error an ANSI-mode division by zero raises (`DIVIDE_BY_ZERO`),
    * for driver-side arithmetic that must fail as the SQL it replaces.
    */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
}
