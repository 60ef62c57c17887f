package graft.tools

import graft.Sessions

/** Ad-hoc plan/timing diagnostics: `runMain graft.tools.PlanDiag
  * <sfDir> <query...>` prints each query's formatted physical plan and
  * four timings, the first cold. Dev tool only — never invoked by the
  * driver. */
object PlanDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Sessions.local()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val df = fn(spark, sfDir)
      println(s"===== $n =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      (1 to 4).foreach { i =>
        val dt = Sessions.timeNoop(spark)(fn(spark, sfDir))
        println(f"[$n iter$i] $dt%.3f s")
      }
    }
    spark.stop()
  }
}
