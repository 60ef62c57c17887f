package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over an input of at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (the size AQE
  * packs into one partition under `parallelismFirst`) sorts in one
  * partition: `SortExec(global = false)` over `CoalesceExec(1)`. That is
  * the same total order with no range exchange, no `RangePartitioner`
  * sampling job and no AQE re-plan of its shuffle. Above the size this
  * strategy plans nothing, and Spark's range sort stays.
  *
  * The size is the input's `stats.sizeInBytes` at planning. The first
  * pass reads Catalyst's estimate, which is all there is when no exchange
  * sits under the sort. AQE plans again after each stage finishes, and
  * then the materialized stages under the sort are `LogicalQueryStage`s
  * carrying their measured bytes; a sort whose input was over-estimated
  * (the size-only estimate of a join is the product of its sides) takes
  * the one-partition form then, and AQE adopts that plan because it has
  * one shuffle fewer. The choice follows the data: at scale the measured
  * input is large and the range sort stays.
  *
  * `CoalesceExec` runs the sort's input stage, back to the previous
  * exchange, in one task too. A `Generate` can make that stage much
  * larger than the input bytes say.
  */
object OnePartitionSort extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if child.stats.sizeInBytes <=
        SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      SortExec(order, global = false, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Appends the strategy to a session built without [[GraftExtensions]];
    * a session whose planner already has it is left alone. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies :+= this
  }
}
