package graft.plans

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Plans work whose input is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (the size AQE
  * packs into one partition under `parallelismFirst`) in one partition.
  * Two cases read that one gate:
  *
  *  - A global sort over such an input sorts in one partition:
  *    `SortExec(global = false)` over `CoalesceExec(1)`. That is the same
  *    total order with no range exchange, no `RangePartitioner` sampling
  *    job and no AQE re-plan of its shuffle.
  *  - A scan of a non-streaming, unbucketed file relation whose one
  *    input file is at most the gate reports its one partition:
  *    `CoalesceExec(1)` over `FileSourceStrategy`'s plan. A file no larger
  *    than `spark.sql.files.openCostInBytes` and
  *    `spark.sql.files.maxPartitionBytes` is never split and packs into
  *    one `FilePartition`, so the scan already runs in one task and the
  *    coalesce merges nothing. What changes is that the scan reports
  *    `SinglePartition`, which satisfies every clustered, ordered and
  *    all-tuples requirement: `EnsureRequirements` plans no exchange
  *    above it until a join meets a side with more partitions.
  *
  * Above the gate this strategy plans nothing, and Spark's range sort and
  * file scan stay.
  *
  * The sort's size is its input's `stats.sizeInBytes` at planning. The
  * first pass reads Catalyst's estimate, which is all there is when no
  * exchange sits under the sort. AQE plans again after each stage
  * finishes, and then the materialized stages under the sort are
  * `LogicalQueryStage`s carrying their measured bytes; a sort whose input
  * was over-estimated (the size-only estimate of a join is the product
  * of its sides) takes the one-partition form then, and AQE adopts that
  * plan because it has one shuffle fewer. The choice follows the data: at
  * scale the measured input is large and the range sort stays.
  *
  * `CoalesceExec` runs the sort's input stage, back to the previous
  * exchange, in one task too. A `Generate` can make that stage much
  * larger than the input bytes say. A one-split scan carries its single
  * task up to the first exchange, which is why the scan case also reads
  * the shape of the plan above the scan ([[oneTaskReads]]): an exchange
  * that runtime reuse shares between two reads of the same scan, or where
  * AQE re-plans a shuffled join, is worth more than the task it costs.
  */
object OnePartition extends Strategy with JoinSelectionHelper {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) =>
      oneTask.set(oneTaskReads(root))
      Nil
    case Sort(order, true, child, _) if child.stats.sizeInBytes <= gate =>
      SortExec(order, global = false, CoalesceExec(1, planLater(child))) :: Nil
    case ScanOperation(_, _, _, r @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
        if oneTask.get.exists(_ eq r) && oneSplit(fs) =>
      FileSourceStrategy(plan).map(CoalesceExec(1, _))
    case _ => Nil
  }

  private def gate: Long =
    SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** The scans of the plan being planned on this thread that may report
    * one partition. A planning pass starts at the `ReturnAnswer` that
    * `QueryExecution` and each AQE re-plan wrap the plan in, and the
    * planner hands that node to the strategies before any node under it. */
  private val oneTask = ThreadLocal.withInitial[Seq[LogicalRelation]](() => Nil)

  /** The file relations `root` reads once, from a scan with no join above
    * it that broadcasts neither side.
    * Reads are compared as whole scans (the relation with the projections
    * and filters over it), canonicalized: two equal scans are where
    * runtime reuse makes one exchange serve both. Subqueries are planned
    * in passes of their own and read as plans of their own. */
  private def oneTaskReads(root: LogicalPlan): Seq[LogicalRelation] = {
    val scans = mutable.ArrayBuffer.empty[(LogicalPlan, LogicalRelation, Boolean)]
    def visit(p: LogicalPlan, spread: Boolean): Unit = p match {
      case ScanOperation(_, _, _, r @ LogicalRelation(_: HadoopFsRelation, _, _, _, _)) =>
        scans += ((p.canonicalized, r, spread))
      case j: Join if !broadcast(j) => p.children.foreach(visit(_, spread = true))
      case _ => p.children.foreach(visit(_, spread))
    }
    visit(root, spread = false)
    val reads = scans.groupMapReduce(_._1)(_ => 1)(_ + _)
    val kept = scans.collect { case (s, r, spread) if spread || reads(s) > 1 => r }
    scans.collect { case (_, r, _) if !kept.exists(_ eq r) => r }.toSeq
  }

  /** A side of `j` is broadcast, by hint or by size, as `JoinSelection`
    * picks it: an equi-join as a broadcast-hash join, any other as a
    * broadcast nested-loop join. */
  private def broadcast(j: Join): Boolean =
    Seq(true, false).exists(getBroadcastBuildSide(j, _, SQLConf.get).isDefined)

  /** One file within the gate, the open cost and the split size. The
    * size is read first: it is the index's cached total, while a catalog
    * index lists its files to name them. */
  private def oneSplit(fs: HadoopFsRelation): Boolean = {
    val conf = SQLConf.get
    fs.bucketSpec.isEmpty &&
      fs.location.sizeInBytes <=
        (gate min conf.filesOpenCostInBytes min conf.filesMaxPartitionBytes) &&
      fs.location.inputFiles.length == 1
  }

  /** Appends the strategy to a session built without [[GraftExtensions]];
    * a session whose planner already has it is left alone. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies :+= this
  }
}
