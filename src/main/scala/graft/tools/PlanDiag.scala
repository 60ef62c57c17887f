package graft.tools

import java.nio.file.{Files, Paths}
import graft.{FrameMemo, Sessions, SparkEntry}

/** The plan-equality check: `runMain graft.tools.PlanDiag <sfDir>
  * <outDir> [query...]` builds each named query, or every enrolled query
  * when none is named, and writes its [[normalize]]d optimized logical
  * plan to `<outDir>/<name>.txt`. Two dumps taken from two builds of the
  * code (`diff -r`) show which rows a change re-planned; a row that fails
  * to build gets its exception as the file body. Rows are built in
  * `SparkEntry.queries` order, as `graft.Verify` runs them. Timing a
  * subset of rows is `graft.Bench <query...>`. */
object PlanDiag {

  /** Strips what differs between two builds of the same plan: expression
    * ids (`#N`), Spark Connect `plan_id` tags, object identity hashes and
    * JVM lambda class names. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\$+Lambda[$/\\w.]*", "\\$Lambda")
    .replaceAll("@[0-9a-f]{4,}\\b", "@H")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val subset = args.drop(2).toSet
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
        val text =
          try fn(spark, sfDir).queryExecution.optimizedPlan.toString
          catch { case e: Throwable =>
            s"FAILED ${e.getClass.getSimpleName}: ${e.getMessage}\n" }
        Files.writeString(Paths.get(s"$outDir/$name.txt"), normalize(text))
        spark.catalog.clearCache()
      }
    FrameMemo.release(spark)
    spark.stop()
  }
}
