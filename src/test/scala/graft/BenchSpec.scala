package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's pure parts, with no Spark session: the end-of-run confirm pass
  * and the stdout tail the driver parses. */
class BenchSpec extends AnyFunSuite {
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
}
