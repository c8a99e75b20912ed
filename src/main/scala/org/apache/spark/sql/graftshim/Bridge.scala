package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. In Spark 4 the public `Column` no longer
  * exposes its Catalyst expression; the conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`.
  * This shim (in an org.apache.spark.sql subpackage, the standard pattern
  * for Spark extension libraries) re-exports just the two conversions the
  * graft custom expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Decompose a sort Column (e.g. `col("x").desc`) into its value column
    * plus (descending?, nullsLast?) flags — the node-level SortOrder lives
    * in the `private[sql]` internal package.
    */
  def sortSpec(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (new Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Descending,
        so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsLast)
    case _ => (c, false, false)
  }

  /** The bare single-part column name a Column refers to, if it is a plain
    * attribute reference (`col("x")`) rather than a computed expression.
    */
  def attributeName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute if a.nameParts.size == 1 =>
      Some(a.nameParts.head)
    case _ => None
  }

  /** The strategies a session's planner runs, extension-injected ones
    * included (`SessionState` is `private[sql]`).
    */
  def plannerStrategies(
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner.strategies

  /** Build a DataFrame from a custom LogicalPlan (triggers analysis — the
    * standard entry point for library-defined logical operators;
    * `Dataset.ofRows` is `private[sql]` in Spark 4's classic module).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
