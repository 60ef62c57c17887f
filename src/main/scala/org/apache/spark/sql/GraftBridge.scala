package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to `private[sql]` constructors needed by custom
  * operators (graft.plans.*): building a DataFrame from a hand-built
  * LogicalPlan. Same pattern every Spark extension library uses. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column over a hand-built Catalyst Expression (the classic-API
    * internal `ExpressionUtils.column`) — how the typed constructors in
    * `graft.functions` reach their expressions without the session's
    * function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[column]] — Spark 4's Column wraps a ColumnNode and
    * no longer exposes `.expr` publicly. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
