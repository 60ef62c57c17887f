package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bucketed co-located join — the repeated-workload scale path
  * (DESIGN.md §Joins): both sides pre-bucketed on the join key means
  * the join needs NO shuffle exchange at query time. */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  // tables are external (written under `dir`), so the shared session's
  // warehouse is left alone; broadcast is off so the join plans as SMJ
  private val dir = java.nio.file.Files
    .createTempDirectory("graft_bucketed_").toString

  lazy val spark: SparkSession = {
    val s = Sessions.local().newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("bucketed tables join without a shuffle exchange") {
    val sf = "/root/testdata/sf0.001"
    Tables.lineitem(spark, sf)
      .write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$dir/li")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$dir/o")
      .saveAsTable("o_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // join itself must be exchange-free: the only allowed exchange is
    // the final tiny aggregation shuffle on o_orderpriority
    val joinPart = plan.split("SortMergeJoin").last
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinPart.contains("Exchange hashpartitioning(o_orderkey"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
    // same result as the unbucketed join
    val reference = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(joined.collect().map(_.toString).sorted.toSeq == reference)
  }
}
