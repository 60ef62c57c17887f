package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Typed constructors over Spark's internal bloom-filter pair
  * (`BloomFilterAggregate` / `BloomFilterMightContain`), the machinery
  * the optimizer injects for runtime semi-join filters, exposed for
  * EXPLICIT pre-filtering: build a bloom from a selective side's join
  * keys and drop non-matching rows before the exact join, which then
  * removes the bloom's false positives, so the composite stays exact.
  *
  * `mightContain` needs its sketch as a constant or an uncorrelated
  * scalar subquery (`Dataset.scalar()`); keys are `xxhash64` values.
  * The SQL names `graft_bloom_agg` / `graft_might_contain` come from
  * [[graft.plans.GraftExtensions]].
  */
object BloomFuncs {
  def agg(key: Column, estItems: Long, numBits: Long): Column =
    column(aggExpr(expression(key), Literal(estItems), Literal(numBits)))

  def mightContain(sketch: Column, key: Column): Column =
    column(BloomFilterMightContain(expression(sketch), expression(key)))

  private[graft] def aggExpr(key: Expression, estItems: Expression,
      numBits: Expression): Expression =
    new BloomFilterAggregate(key, estItems, numBits).toAggregateExpression()
}
