package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import graft.{FrameMemo, Sessions, SparkEntry}

/** The plan-equality check: `runMain graft.tools.PlanDiag <sfDir>
  * <outDir> [query...]` builds each named query, or every enrolled query
  * when none is named, and writes its [[normalize]]d optimized logical
  * plan to `<outDir>/<name>.txt`. Two dumps taken from two builds of the
  * code (`diff -r`) show which rows a change re-planned; a row that fails
  * to build gets its exception as the file body. Rows are built in
  * `SparkEntry.queries` order, as `graft.Verify` runs them. Timing a
  * subset of rows is `graft.Bench <query...>`. The dump is logical
  * throughout, cached frames included ([[dump]]). Whether a global sort
  * runs as a range sort or in one partition, and whether a scan reports
  * one partition, are physical-planning choices
  * ([[graft.plans.OnePartition]]), so they do not show here: read them in
  * the executed plan, or take the census below.
  *
  * The executed-plan census: `runMain graft.tools.PlanDiag --exchanges
  * <sfDir> <outDir> [query...]` runs each row once (`collect`) and writes
  * `<outDir>/exchanges.tsv`, one line per row with the [[exchanges]] of
  * its final adaptive plan; a row that fails gets `FAILED` and its
  * exception. */
object PlanDiag {

  /** Strips what differs between two builds of the same plan: expression
    * ids (`#N`), generated alias counters (`_common_expr_N`,
    * `_gen_alias_N`), Spark Connect `plan_id` tags, object identity hashes
    * and JVM lambda class names. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("\\b(_common_expr|_gen_alias)_\\d+", "$1_N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\$+Lambda[$/\\w.]*", "\\$Lambda")
    .replaceAll("@[0-9a-f]{4,}\\b", "@H")

  /** A cached frame in a [[dump]]: the relation's output over the
    * optimized logical plan it caches. */
  private case class Cached(output: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    override protected def withNewChildInternal(c: LogicalPlan): Cached =
      copy(child = c)
  }

  /** The [[normalize]]d optimized logical plan of `df`. An
    * `InMemoryRelation` prints the physical plan it caches, so each one is
    * shown as the logical plan it was built from (`cacheBuilder
    * .logicalPlan`): a physical-only change leaves the dump as it was. */
  def dump(df: DataFrame): String = normalize(
    df.queryExecution.optimizedPlan.transformDownWithSubqueries {
      case r: InMemoryRelation => Cached(r.output, r.cacheBuilder.logicalPlan)
    }.toString)

  val exchangeKinds = Seq("range", "hash", "single", "other", "broadcast")

  private object walk extends AdaptiveSparkPlanHelper

  /** Counts of each of [[exchangeKinds]] in an executed plan, subqueries
    * included: shuffle exchanges by their output partitioning (`other` is
    * round-robin and the rest), then broadcast exchanges. A reused
    * exchange is not counted again. */
  def exchanges(plan: SparkPlan): Seq[Int] = {
    val kinds = walk.collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case _: RangePartitioning => "range"
        case _: HashPartitioning => "hash"
        case SinglePartition => "single"
        case _ => "other"
      }
      case _: BroadcastExchangeExec => "broadcast"
    }
    exchangeKinds.map(k => kinds.count(_ == k))
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--exchanges", sfDir, outDir, subset @ _*) =>
      census(sfDir, outDir, subset.toSet)
    case Array(sfDir, outDir, subset @ _*) =>
      val spark = Sessions.local()
      Files.createDirectories(Paths.get(outDir))
      rows(subset.toSet).foreach { case (name, fn) =>
        val text =
          try dump(fn(spark, sfDir))
          catch { case e: Throwable =>
            normalize(
              s"FAILED ${e.getClass.getSimpleName}: ${e.getMessage}\n") }
        Files.writeString(Paths.get(s"$outDir/$name.txt"), text)
        spark.catalog.clearCache()
      }
      FrameMemo.release(spark)
      spark.stop()
  }

  /** The enrolled rows named in `subset`, all of them when it is empty. */
  private def rows(subset: Set[String]) = SparkEntry.queries
    .filter { case (name, _) => subset.isEmpty || subset(name) }

  /** Runs each row once and writes its [[exchanges]] to
    * `<outDir>/exchanges.tsv`. */
  def census(sfDir: String, outDir: String, subset: Set[String]): Unit = {
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    val lines = rows(subset).map { case (name, fn) =>
      val counts =
        try {
          val df = fn(spark, sfDir)
          df.collect()
          exchanges(df.queryExecution.executedPlan).mkString("\t")
        } catch { case e: Throwable =>
          s"FAILED ${e.getClass.getSimpleName}: ${e.getMessage}"
            .replaceAll("\\s+", " ") }
      spark.catalog.clearCache()
      s"$name\t$counts"
    }
    Files.writeString(Paths.get(s"$outDir/exchanges.tsv"),
      (("name" +: exchangeKinds).mkString("\t") +: lines.toSeq)
        .mkString("", "\n", "\n"))
    FrameMemo.release(spark)
    spark.stop()
  }
}
