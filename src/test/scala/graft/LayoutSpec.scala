package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Z-order layout properties the oracle can't express: the WRITE must
  * produce non-overlapping zkey ranges per file (the contract min/max
  * file skipping relies on), and each file must bound both source
  * dimensions more tightly than a random split would. */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = spark.stop()

  test("zorderWrite: per-file zkey ranges are disjoint and totally ordered") {
    val out = java.nio.file.Files.createTempDirectory("zorder").toString
    operators.Layout.zorderWrite(
      Tables.lineitem(spark, sf), "l_partkey", "l_suppkey", out, numFiles = 4)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("lo"), max("zkey").as("hi"), count(lit(1)).as("n"))
      .orderBy(col("lo"))
      .collect()
    assert(ranges.length > 1, "expected multiple output files")
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
        s"overlapping file ranges: $a vs $b")
    }
    // round-trip: layout changes order, never content
    val n0 = Tables.lineitem(spark, sf).count()
    assert(ranges.map(_.getAs[Long]("n")).sum == n0)
  }

  test("zkey interleave is monotone in each dimension on a fixed other") {
    val df = spark.range(0, 64).toDF("a")
      .withColumn("b", lit(5))
      .withColumn("z", operators.Layout.zkey("a", "b"))
      .orderBy("a")
    val zs = df.select("z").collect().map(_.getLong(0))
    assert(zs.sliding(2).forall { case Array(x, y) => x < y })
  }

  test("zorder plan: key is computed without a shuffle, inside codegen") {
    val df = Tables.lineitem(spark, sf)
      .withColumn("zkey", operators.Layout.zkey("l_partkey", "l_suppkey"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    // formatted mode marks whole-stage-codegen membership per node
    assert(plan.contains("Project [codegen id"),
      s"zkey fell off the codegen path:\n$plan")
  }
}
