package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanDiag
import scala.jdk.CollectionConverters._

/** The tools: Bench's end-of-run confirm pass and closing stdout lines,
  * PlanDiag's plan normalization and dump, and the source guards. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = { spark.catalog.clearCache(); spark.stop() }

  private val budget = 5.0

  test("confirm: a breach whose re-time reads under budget clears") {
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    val out = Bench.confirm(Map("q_slow" -> 6.0, "q_fast" -> 1.0), budget,
      { n => retimed += n; 2.0 })
    assert(out == Map("q_slow" -> 2.0, "q_fast" -> 1.0))
    assert(retimed.toSeq == Seq("q_slow"))
  }

  test("confirm: a breach that reproduces stays over budget") {
    val out = Bench.confirm(Map("q_slow" -> 6.0), budget, _ => 7.0)
    assert(out == Map("q_slow" -> 6.0))
  }

  test("confirm: a failed re-time keeps the first reading") {
    val out = Bench.confirm(Map("q_slow" -> 6.0, "q_bad" -> -1.0), budget,
      _ => -1.0)
    assert(out == Map("q_slow" -> 6.0, "q_bad" -> -1.0))
  }

  test("tail: families and total lines fit the driver's 2000-char tail") {
    val names = SparkEntry.queries.keys.toSeq
    // failed names as long as the longest real ones: the total line's
    // worst case
    val failed = names.sortBy(-_.length).take(25).map(_ + "_x")
    val results = names.map(_ -> 9.999).toMap ++ failed.map(_ -> -1.0)
    val lines = Bench.tail(results, "/srv/graft/testdata/fixtures/sf0.1")
    assert(lines.size == 2)
    val joined = lines.mkString("\n")
    assert(joined.length <= 2000, s"tail is ${joined.length} chars")
    val json = new ObjectMapper()
    val fams = json.readTree(lines(0)).get("families")
    for (fam <- names.map(_.split("_").take(2).mkString("_")).distinct)
      assert(fams.has(fam), s"families line lacks $fam")
    val total = json.readTree(lines(1))
    assert(total.get("n_failed").asInt == 25)
    assert(total.get("failed").elements.asScala.size == 20)
    assert(total.get("value").asDouble == math.rint(names.size * 9.999 * 1000) / 1000)
  }

  test("PlanDiag.normalize: two builds of one plan normalize alike") {
    // three builds of one aggregate in one JVM differ only in counters
    def build(id: Int, alias: Int) =
      s"Aggregate [user_id#$id], [sum(_common_expr_$alias#${id + 7}) AS " +
        s"n#${id + 9}L, _gen_alias_${alias + 40}#${id + 3}] plan_id=$id\n" +
        s"+- Project [graft.Foo$$$$Lambda$$$alias/0x7f3a@1a2b3c4d]"
    val plans = Seq(build(11, 1), build(52, 3), build(97, 5))
    assert(plans.map(PlanDiag.normalize).distinct.size == 1)
    assert(PlanDiag.normalize(plans.head) ==
      "Aggregate [user_id#N], [sum(_common_expr_N#N) AS n#NL, " +
        "_gen_alias_N#N] plan_id=N\n+- Project [graft.Foo$Lambda@H]")
    // a user column that merely ends in digits keeps them
    assert(PlanDiag.normalize("[x_common_expr_2#5, day_7#6]") ==
      "[x_common_expr_2#N, day_7#N]")
  }

  test("PlanDiag.dump: a cached frame dumps as its logical plan") {
    // whole-stage codegen changes only the physical plan, so a frame over
    // a cached frame dumps alike with it on and off
    val dumps = Seq("true", "false").map { wholeStage =>
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val base = s.range(0, 100).withColumn("g", col("id") % 7).persist()
      try PlanDiag.dump(base.groupBy("g").agg(sum("id").as("s")))
      finally base.unpersist(blocking = true)
    }
    assert(dumps.head.contains("Range (0, 100"))
    assert(dumps.head == dumps.last)
  }

  test("tokenizer guard: the whitespace split is written once, in Tables") {
    // the batch rows and both streaming paths read Tables.tokens; a
    // second copy of the literal is a tokenizer that can drift
    val literal = "split(col(\"text\"), \" \")"
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { f =>
      Files.readString(f).split(java.util.regex.Pattern.quote(literal), -1)
        .tail.map(_ => f.getFileName.toString)
    }
    assert(hits == Seq("Tables.scala"),
      s"copies per file: ${hits.groupMapReduce(identity)(_ => 1)(_ + _)}")
  }
}
