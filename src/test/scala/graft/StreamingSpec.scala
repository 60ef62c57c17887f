package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

import graft.functions.VectorExprs
import graft.streaming._

/** SURVEY §2-I — streaming operators, MemoryStream-driven (deterministic
  * event time, never wall clock; SURVEY §7.3-4). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = spark.stop()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long, typ: String,
      v: Double = 1.0): Ev = Ev(id, ts(minute), user, typ, v)

  private def runQuery(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("tumbling window counts per event_type") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.tumblingCounts(in.toDF()), "tumble",
      "complete")
    in.addData(ev(1, 0, 1, "click"), ev(2, 10, 1, "click"),
      ev(3, 70, 2, "view"))
    q.processAllAvailable()
    val rows = spark.table("tumble").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(rows == Set(("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 11:00:00.0", "view", 1L)))
    q.stop()
  }

  test("sliding window error rate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.slidingErrorRate(in.toDF()), "slide",
      "complete")
    in.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "error"),
      ev(3, 20, 2, "click"), ev(4, 25, 2, "error"))
    q.processAllAvailable()
    // the window covering all four events (09:15–10:15 … 10:00–11:00
    // slides): the 10:00-start window holds all 4 → rate 0.5
    val all = spark.table("slide").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(all.contains(("2024-01-01 10:00:00.0", 4L, 2L, 0.5)))
    // sliding: each event lands in 4 overlapping windows
    assert(all.exists(_._1 == "2024-01-01 09:30:00.0"))
    q.stop()
  }

  test("session window: 30 min gap splits sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.sessionize(in.toDF()), "sess", "append")
    // user 1: events at 10:00, 10:10 (one session), then 11:30 (new
    // session after >30min gap)
    in.addData(ev(1, 0, 1, "click", 2.0), ev(2, 10, 1, "view", 3.0),
      ev(3, 90, 1, "click", 5.0))
    q.processAllAvailable()
    // advance watermark far past everything to close all sessions
    in.addData(ev(99, 600, 9, "click"))
    q.processAllAvailable()
    val rows = spark.table("sess").collect()
      .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rows.contains(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 1L, 2L, 5.0)))
    assert(rows.contains(
      ("2024-01-01 11:30:00.0", "2024-01-01 12:00:00.0", 1L, 1L, 5.0)))
    q.stop()
  }

  test("watermark drops late rows from closed windows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.watermarkedCounts(in.toDF()), "wm",
      "append")
    in.addData(ev(1, 0, 1, "click"), ev(2, 30, 1, "click"))
    q.processAllAvailable()
    // advance watermark to 12:50 (13:00 - 10min) → 10:00 window closes
    in.addData(ev(3, 180, 2, "click"))
    q.processAllAvailable()
    // late row for the closed 10:00 window — must be dropped
    in.addData(ev(4, 5, 3, "click"))
    q.processAllAvailable()
    // close everything
    in.addData(ev(5, 600, 2, "click"))
    q.processAllAvailable()
    val rows = spark.table("wm").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(rows("2024-01-01 10:00:00.0") == 2L,
      s"late row must not be counted: $rows")
    q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups redelivered event_ids") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.dedupWithinWatermark(in.toDF()), "dedup",
      "append")
    in.addData(ev(1, 0, 1, "click"), ev(1, 0, 1, "click"),
      ev(2, 1, 1, "view"))
    q.processAllAvailable()
    in.addData(ev(1, 2, 1, "click")) // redelivery within horizon
    q.processAllAvailable()
    assert(spark.table("dedup").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
    q.stop()
  }

  test("windowed first-event dedup agrees with the batch formula on " +
      "closed windows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.dedupWindowFirst(in.toDF()), "dwf",
      "append")
    // window [10:00,10:10): three in-window twins for (1,click) — only
    // the (ts, event_id)-minimal one survives; one (2,view) singleton
    val batch = Seq(ev(11, 3, 1, "click"), ev(10, 3, 1, "click"),
      ev(12, 7, 1, "click"), ev(20, 4, 2, "view"))
    in.addData(batch: _*)
    q.processAllAvailable()
    // advance the watermark past 10:20 so the window closes and emits
    in.addData(ev(99, 40, 9, "click"))
    q.processAllAvailable()
    val got = spark.table("dwf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // batch formula over the same rows: min (ts, event_id) per
    // (user, type, 10-min bucket) — the q_events_dedup_window logic
    val expected = batch.groupBy(e =>
        (e.user_id, e.event_type, e.ts.getTime / 600000))
      .values.map(_.minBy(e => (e.ts.getTime, e.event_id)))
      .map(e => (e.event_id, e.user_id, e.event_type)).toSet
    assert(got == expected, s"got $got expected $expected")
    q.stop()
  }

  test("streaming integer EWMA matches the batch fold on an in-order " +
      "feed across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.ewmaStream(in.toDS()).toDF(),
      "sewma", "update")
    // three time-ordered micro-batches; users 1 and 2 interleave, and
    // batch 1 carries an intra-batch disorder (ids 2,1 swapped) that
    // the fn's own (ts, event_id) sort must repair
    val chunk1 = Seq(ev(2, 5, 1, "view", 2.00), ev(1, 0, 1, "click", 1.00),
      ev(3, 7, 2, "click", 5.00))
    val chunk2 = Seq(ev(4, 10, 1, "click", 3.00), ev(5, 12, 2, "view", 1.00))
    val chunk3 = Seq(ev(6, 20, 1, "error", 10.00))
    Seq(chunk1, chunk2, chunk3).foreach { c =>
      in.addData(c: _*); q.processAllAvailable()
    }
    // update-mode memory sink appends each snapshot; the final state
    // per user is the emission with the highest n_events
    val got = spark.table("sewma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
    // the batch q_ts_ewma fold over the same rows in (ts, id) order
    val expected = (chunk1 ++ chunk2 ++ chunk3)
      .sortBy(e => (e.ts.getTime, e.event_id))
      .groupBy(_.user_id).map { case (u, es) =>
        val centis = es.map(e => math.floor(e.value * 100 + 0.5).toLong)
        val acc = centis.tail.foldLeft(centis.head)((a, x) => (a + x) / 2)
        (u, es.size.toLong, centis.last, acc)
      }.toSet
    assert(got == expected, s"got $got expected $expected")
    q.stop()
  }

  test("s_stream_holt_winters: the incremental HW state matches the " +
      "batch coupled fold on an in-order day feed across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[HwDay]
    val q = runQuery(
      StreamingOps.holtWintersStream(in.toDS()).toDF(), "shw",
      "update")
    // 16 days across three micro-batches, in day order, with a gap
    // (day 9 missing) so the weekday-keyed slots must realign; one
    // intra-batch disorder (11 before 10) the fn's own sort repairs
    val xs = Seq(5L, 9L, 7L, 12L, 8L, 6L, 20L, 11L, 13L, 7L, 9L,
      15L, 6L, 8L, 21L)
    val days = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L) ++
      Seq(10L, 11L, 12L, 13L, 14L, 15L)).zip(xs)
      .map { case (d, x) => HwDay(d, x) }
    val chunks = Seq(days.take(5),
      Seq(days(6), days(5)) ++ days.slice(7, 10), days.drop(10))
    chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
    val got = spark.table("shw").collect()
      .map(r => (0 until 10).map(r.getLong))
      .maxBy(_.head)
    // the batch q_ts_holt_winters fold over the same days in order
    var l = days.head.x; var b = 0L
    val s = Array.fill(7)(0L)
    days.tail.foreach { p =>
      val slot = (p.d % 7).toInt
      val l2 = ((p.x - s(slot)) + l + b) / 2
      val b2 = (b + (l2 - l)) / 2
      s(slot) = (s(slot) + (p.x - l2)) / 2
      l = l2; b = b2
    }
    assert(got == Seq(days.size.toLong, l, b) ++ s.toSeq,
      s"got $got expected level=$l trend=$b s=${s.toSeq}")
    q.stop()
  }

  test("s_stream_bot_screen: the incremental gap-regularity state " +
      "matches the batch cv2 formula on an in-order feed") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(
      StreamingOps.botScreenStream(in.toDS()).toDF(), "sbot", "update")
    // user 1 is metronomic (every 10 s), user 2 bursty; gaps span
    // micro-batches and batch 2 carries an intra-batch disorder
    def at(id: Long, u: Long, sec: Long) =
      Ev(id, new Timestamp(sec * 1000), u, "view", 1.0)
    val chunk1 = Seq(at(1, 1, 0), at(2, 1, 10), at(3, 2, 0))
    val chunk2 = Seq(at(5, 1, 30), at(4, 1, 20), at(6, 2, 2))
    val chunk3 = Seq(at(7, 1, 40), at(8, 2, 300))
    Seq(chunk1, chunk2, chunk3).foreach { c =>
      in.addData(c: _*); q.processAllAvailable()
    }
    val got = spark.table("sbot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
    // batch formula over the same rows in (ts, id) order
    val all = (chunk1 ++ chunk2 ++ chunk3)
      .sortBy(e => (e.ts.getTime, e.event_id))
    val expected = all.groupBy(_.user_id).map { case (u, es) =>
      val gaps = es.map(_.ts.getTime).sliding(2)
        .map(a => (a(1) - a(0)) / 1000).toSeq
      val (n, s, ss) = (gaps.length.toLong, gaps.sum,
        gaps.map(g => g * g).sum)
      val cv2 = if (n == 0 || s == 0) 0L
        else ((BigInt(n) * ss - BigInt(s) * s) * 10000 /
          (BigInt(s) * s)).toLong
      val verdict = if (cv2 < 2500L) "regular"
        else if (cv2 < 20000L) "typical" else "bursty"
      (u, n, if (n == 0) 0L else s * 100 / n, cv2, verdict)
    }.toSet
    assert(got == expected, s"got $got expected $expected")
    // the metronomic user must read 'regular', the bursty one must not
    assert(got.find(_._1 == 1L).get._5 == "regular")
    assert(got.find(_._1 == 2L).get._5 != "regular")
    q.stop()
  }

  test("s_state_v2_ewma: the transformWithState (Spark 4.x " +
      "StatefulProcessor + RocksDB store) EWMA is bit-identical to the " +
      "mapGroupsWithState form and the batch fold — the new-API " +
      "migration pin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = runQuery(StreamingOps.ewmaStreamV2(in.toDS()).toDF(),
        "sewma2", "update")
      val chunk1 = Seq(ev(2, 5, 1, "view", 2.00),
        ev(1, 0, 1, "click", 1.00), ev(3, 7, 2, "click", 5.00))
      val chunk2 = Seq(ev(4, 10, 1, "click", 3.00),
        ev(5, 12, 2, "view", 1.00))
      val chunk3 = Seq(ev(6, 20, 1, "error", 10.00))
      Seq(chunk1, chunk2, chunk3).foreach { c =>
        in.addData(c: _*); q.processAllAvailable()
      }
      val got = spark.table("sewma2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val expected = (chunk1 ++ chunk2 ++ chunk3)
        .sortBy(e => (e.ts.getTime, e.event_id))
        .groupBy(_.user_id).map { case (u, es) =>
          val centis = es.map(e => math.floor(e.value * 100 + 0.5).toLong)
          val acc = centis.tail.foldLeft(centis.head)((a, x) => (a + x) / 2)
          (u, es.size.toLong, centis.last, acc)
        }.toSet
      assert(got == expected, s"got $got expected $expected")
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("s_state_ttl: per-state TTLConfig on the transformWithState " +
      "ValueState (round 13, VERDICT r12 #6 — the surface ewmaStreamV2's " +
      "scaladoc promised): state idle past its TTL reads back ABSENT " +
      "and the fold RESTARTS (n=1, resumed=true); the 1 h-TTL twin on " +
      "the same feed and pause CONTINUES (n=3, resumed=false) — expiry " +
      "the GroupState API cannot express without per-key timers") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val prevNoData = spark.conf.getOption(
      "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      // Same two-batch feed + same idle pause under two TTLs; TTL
      // expiry is keyed to BATCH processing timestamps (batch 1 arms
      // the clock, batch 2 reads it), so the 2.5 s pause sits safely
      // past the 1 s TTL and safely inside the 1 h one — the pair
      // isolates TTL as the only variable. Each batch is its own
      // Trigger.AvailableNow run off a shared checkpoint (the restore-
      // test idiom): under TimeMode.ProcessingTime the engine keeps
      // scheduling NO-DATA batches to advance expiry, so a continuous
      // query's processAllAvailable never settles AND an AvailableNow
      // run never terminates (both hangs measured, round 13) — the
      // test disables noDataMicroBatches, which is safe for the
      // property under test because TTL expiry is evaluated lazily at
      // state READ time (st.get() on the next data batch), not by the
      // spin batches.
      def drive(ttl: java.time.Duration)
          : Seq[(Long, Long, Long, Boolean)] = {
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_sttl_ckpt").toString
        val in = MemoryStream[Ev]
        val out = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, Long, Boolean)]()
        def runOnce(): Unit = {
          val q = StreamingOps.ttlCountStream(in.toDS(), ttl).toDF()
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.collect().foreach(r => out.add((r.getLong(0),
                  r.getLong(1), r.getLong(2), r.getBoolean(3))): Unit)
            }
            .start()
          q.awaitTermination()
        }
        in.addData(ev(1, 0, 1, "click", 1.00), ev(2, 1, 1, "view", 2.00))
        runOnce()
        Thread.sleep(2500L)
        in.addData(ev(3, 2, 1, "click", 4.00))
        runOnce()
        import scala.jdk.CollectionConverters._
        val res = out.asScala.toSeq
        // RocksDB checkpoints are the suite's heaviest temp dirs —
        // delete eagerly rather than accumulate across runs (ADVICE
        // r13). Walk deepest-first so directories empty before unlink.
        java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        res
      }
      val short = drive(java.time.Duration.ofSeconds(1))
      assert(short.contains((1L, 2L, 300L, true)), s"got $short")
      // batch 2 found EXPIRED state: fold restarted at n=1
      assert(short.contains((1L, 1L, 400L, true)), s"got $short")
      val long = drive(java.time.Duration.ofHours(1))
      assert(long.contains((1L, 2L, 300L, true)), s"got $long")
      // batch 2 found LIVE state: fold continued to n=3
      assert(long.contains((1L, 3L, 700L, false)), s"got $long")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      prevNoData match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.noDataMicroBatches.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  test("s_timer_session_close: registered PROCESSING-TIME timers on " +
      "transformWithState (round 14, VERDICT r13 #5 — the v2 twin of " +
      "s_lifecycle_fsm's GroupStateTimeout): handleExpiredTimer closes " +
      "an idle session ('timeout') in a batch carrying NO input for the " +
      "key; the 1 h-idle twin on the same feed and pause stays open; an " +
      "inline 'error' closes FSM-style and cancels the armed timer") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val prevNoData = spark.conf.getOption(
      "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      // Same drive discipline as s_state_ttl (AvailableNow runs off a
      // shared checkpoint, noDataMicroBatches off): batch 1 arms user
      // 1's timer; after a 2.5 s pause, batch 2 carries data ONLY for
      // user 2 — user 1's close must come from the TIMER pass, not
      // from any input row. User 2's error event pins the inline-close
      // arm (emit + cancel) in the same run.
      def drive(idle: java.time.Duration)
          : Seq[(Long, Long, String)] = {
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_stmr_ckpt").toString
        val in = MemoryStream[Ev]
        val out = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, String)]()
        def runOnce(): Unit = {
          val q = StreamingOps.sessionTimerStream(in.toDS(),
              idle.toMillis).toDF()
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.collect().foreach(r => out.add((r.getLong(0),
                  r.getLong(1), r.getString(4))): Unit)
            }
            .start()
          q.awaitTermination()
        }
        in.addData(ev(1, 0, 1, "click", 1.00), ev(2, 1, 1, "view", 2.00))
        runOnce()
        Thread.sleep(2500L)
        in.addData(ev(3, 2, 2, "click", 4.00), ev(4, 3, 2, "error", 0.50))
        runOnce()
        import scala.jdk.CollectionConverters._
        val res = out.asScala.toSeq
        java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        res
      }
      val short = drive(java.time.Duration.ofSeconds(1))
      assert(short.contains((1L, 2L, "open")), s"got $short")
      // batch 2: user 1's armed deadline is past — the TIMER closes it
      assert(short.contains((1L, 2L, "timeout")), s"got $short")
      // user 2's error closed inline (n=2: click + error), no open row
      assert(short.contains((2L, 2L, "error")), s"got $short")
      assert(!short.contains((2L, 2L, "open")), s"got $short")
      val long = drive(java.time.Duration.ofHours(1))
      assert(long.contains((1L, 2L, "open")), s"got $long")
      assert(long.contains((2L, 2L, "error")), s"got $long")
      // 2.5 s pause sits far inside the 1 h deadline: no close fires
      assert(!long.exists(_._3 == "timeout"), s"got $long")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      prevNoData match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.noDataMicroBatches.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  test("s_state_v2_restore: RocksDB EWMA state survives a query " +
      "RESTART from checkpoint under a CHANGED session parallelism — " +
      "the state-store durability evidence (round 12, VERDICT r11 " +
      "#6c). A restarted StatefulProcessor must rehydrate every " +
      "user's ValueState from the checkpointed RocksDB store (the " +
      "offset log pins the original partitioning; the changed " +
      "session shuffle.partitions must be ignored, not corrupt the " +
      "key layout) — the n/acc continuation proves it: a state loss " +
      "would restart user 1 at n=1") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prevProv = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val prevPart = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sv2_ckpt").toString
    try {
      val in = MemoryStream[Ev]
      // the memory sink refuses checkpoint recovery; foreachBatch is
      // the recovery-capable sink (and what a real deployment uses)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, Long)]()
      def start(): StreamingQuery =
        StreamingOps.ewmaStreamV2(in.toDS()).toDF()
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.collect().foreach(r => out.add((r.getLong(0),
                r.getLong(1), r.getLong(2), r.getLong(3))): Unit)
          }
          .start()
      val q1 = start()
      in.addData(ev(2, 5, 1, "view", 2.00), ev(1, 0, 1, "click", 1.00),
        ev(3, 7, 2, "click", 5.00))
      q1.processAllAvailable()
      in.addData(ev(4, 10, 1, "click", 3.00), ev(5, 12, 2, "view", 1.00))
      q1.processAllAvailable()
      q1.stop()
      // restart from the same checkpoint with a DIFFERENT session
      // parallelism; the MemoryStream retains its data and the new
      // query resumes from the committed offset (chunk 3 only)
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      out.clear() // keep only the post-restart batch's output
      val q2 = start()
      in.addData(ev(6, 20, 1, "error", 10.00))
      q2.processAllAvailable()
      val got = {
        import scala.jdk.CollectionConverters._
        out.asScala.toSet
      }
      // user 1 across the restart: 100 -> (100+200)/2=150 ->
      // (150+300)/2=225 -> (225+1000)/2=612; n=4 proves the first two
      // chunks' state was REHYDRATED, not rebuilt from chunk 3
      assert(got == Set((1L, 4L, 1000L, 612L)), s"got $got")
      q2.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPart)
      prevProv match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("s_state_v2_restore under RocksDB CHANGELOG checkpointing: the " +
      "lighter per-batch checkpoint format (changelog upload instead " +
      "of full snapshot — the production default for high-frequency " +
      "micro-batches) restores identically across a restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prevProv = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sv2_cl_ckpt").toString
    try {
      val in = MemoryStream[Ev]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, Long)]()
      def start(): StreamingQuery =
        StreamingOps.ewmaStreamV2(in.toDS()).toDF()
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.collect().foreach(r => out.add((r.getLong(0),
                r.getLong(1), r.getLong(2), r.getLong(3))): Unit)
          }
          .start()
      val q1 = start()
      in.addData(ev(2, 5, 1, "view", 2.00), ev(1, 0, 1, "click", 1.00))
      q1.processAllAvailable()
      in.addData(ev(4, 10, 1, "click", 3.00))
      q1.processAllAvailable()
      q1.stop()
      out.clear()
      val q2 = start()
      in.addData(ev(6, 20, 1, "error", 10.00))
      q2.processAllAvailable()
      val got = { import scala.jdk.CollectionConverters._
        out.asScala.toSet }
      // same fold as the snapshot-format test: 100 -> 150 -> 225 -> 612
      assert(got == Set((1L, 4L, 1000L, 612L)), s"got $got")
      q2.stop()
    } finally {
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled")
      prevProv match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming state metrics: StateOperatorProgress reports the " +
      "true key population (numRowsTotal == distinct users) and the " +
      "per-batch update census — the observability a 100 TB streaming " +
      "deployment alarms on (state growth is the silent killer)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.ewmaStream(in.toDS()).toDF(),
      "smetrics", "update")
    in.addData(ev(1, 0, 1, "click", 1.00), ev(2, 5, 2, "view", 2.00))
    q.processAllAvailable()
    in.addData(ev(3, 10, 1, "click", 3.00), ev(4, 12, 3, "view", 4.00))
    q.processAllAvailable()
    val prog = q.lastProgress
    assert(prog != null && prog.stateOperators.nonEmpty)
    val so = prog.stateOperators(0)
    // after batch 2 the store holds users {1, 2, 3}
    assert(so.numRowsTotal == 3L, s"state rows ${so.numRowsTotal}")
    // batch 2 touched user 1 (update) and user 3 (insert)
    assert(so.numRowsUpdated == 2L, s"updated ${so.numRowsUpdated}")
    q.stop()
  }

  test("streaming curation: in-horizon content dedup + quality gate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text", "lang")
    val q = runQuery(StreamingOps.curateStream(docs), "curate", "append")
    val first = Seq(
      (1L, ts(0), "the cat sat on the mat today", "en"), // good
      (2L, ts(1), "the cat sat on the mat today", "en"), // dup content
      (3L, ts(2), "a a a a a a", "en"),                  // low TTR
      (4L, ts(3), "hi there", "en"),                     // too short
      (5L, ts(4), "every token here is fully distinct", "en")) // good
    in.addData(first: _*)
    q.processAllAvailable()
    // later batch, same content modulo case/trim: still inside the
    // watermark horizon, so the digest state drops it
    in.addData((6L, ts(5), "THE CAT SAT ON THE MAT TODAY  ", "en"))
    q.processAllAvailable()
    val got = spark.table("curate").collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got.keySet == Set(1L, 5L), s"got $got")
    assert(got(1L) == 7 && got(5L) == 6)
    // batch and stream read one tokenizer: a kept doc's n_tok and ttr
    // are the shared batch quality features of the same row
    val kept = spark.table("curate").collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getDouble(3))).toMap
    val batch = Tables.qualityFeatures(first.toDF("doc_id", "ts", "text",
        "lang").filter($"doc_id".isin(1L, 5L)))
      .select($"doc_id", $"n_tok",
        org.apache.spark.sql.functions.round($"ttr", 4))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(kept == batch, s"stream $kept, batch $batch")
    q.stop()
  }

  test("streaming freshness monitor: per-type census matches the batch " +
      "fold and a later batch advances it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.freshnessMonitor(in.toDF()), "fresh",
      "complete")
    in.addData(ev(1, 0, 1, "click"), ev(2, 10, 1, "click"),
      ev(3, 5, 2, "view"))
    q.processAllAvailable()
    val first = spark.table("fresh").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1).toString,
        r.getLong(2))).toMap
    assert(first("click") == ("2024-01-01 10:10:00.0", 2L))
    assert(first("view") == ("2024-01-01 10:05:00.0", 1L))
    // a later batch advances last_ts and the count for its type only
    in.addData(ev(4, 42, 3, "click"))
    q.processAllAvailable()
    val second = spark.table("fresh").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1).toString,
        r.getLong(2))).toMap
    assert(second("click") == ("2024-01-01 10:42:00.0", 3L))
    assert(second("view") == ("2024-01-01 10:05:00.0", 1L))
    q.stop()
  }

  test("stream-static enrichment join") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = runQuery(
      StreamingOps.enrichWithStatic(in.toDF(), dim), "enrich", "append")
    in.addData(ev(1, 0, 1, "click"), ev(2, 1, 3, "view"))
    q.processAllAvailable()
    val rows = spark.table("enrich").collect()
      .map(r => (r.getLong(r.fieldIndex("event_id")),
        Option(r.getAs[String]("tier")))).toSet
    assert(rows == Set((1L, Some("gold")), (2L, None)))
    q.stop()
  }

  test("stream-stream join: purchases matched to signups within 1h") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pIn = MemoryStream[Ev]; val sIn = MemoryStream[Ev]
    val q = runQuery(StreamingOps.streamStreamJoin(pIn.toDF(), sIn.toDF()),
      "ssj", "append")
    sIn.addData(ev(1, 0, 1, "signup"), ev(2, 0, 2, "signup"))
    pIn.addData(ev(10, 30, 1, "purchase"),  // 30min after signup: match
      ev(11, 90, 2, "purchase"))            // 90min after: outside window
    q.processAllAvailable()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 10L, 1L)), s"got $rows")
    q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched purchase emits null " +
      "after watermark close") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pIn = MemoryStream[Ev]; val sIn = MemoryStream[Ev]
    val q = runQuery(
      StreamingOps.streamStreamJoinOuter(pIn.toDF(), sIn.toDF()),
      "ssoj", "append")
    // user 1: signup at 10:00 + purchase at 10:30 → inner match.
    // user 2: purchase at 10:05, NO signup → must surface as a null
    // match, but only after the watermark proves none can arrive.
    sIn.addData(ev(10, 0, 1, "signup"))
    pIn.addData(ev(20, 30, 1, "purchase"), ev(21, 5, 2, "purchase"))
    q.processAllAvailable()
    val early = spark.table("ssoj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!early.contains((2L, 21L)),
      "outer row must NOT emit before the watermark closes its window")
    // Advance both watermarks past 10:05 + 1h window + 10min delay;
    // two batches because the watermark computed at batch N applies
    // to state eviction in batch N+1.
    sIn.addData(ev(11, 300, 9, "signup"))
    pIn.addData(ev(22, 300, 9, "purchase"))
    q.processAllAvailable()
    sIn.addData(ev(12, 310, 9, "signup"))
    pIn.addData(ev(23, 310, 9, "purchase"))
    q.processAllAvailable()
    val rows = spark.table("ssoj").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows.contains((1L, 20L, 10L)), s"inner match missing: $rows")
    assert(rows.contains((2L, 21L, -1L)), s"outer null row missing: $rows")
    q.stop()
  }

  test("streaming last-touch attribution: O(1) state per user, " +
      "attribution survives micro-batch boundaries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("attr").outputMode("append")
      .start()
    // batch 1: user 1 clicks then purchases (-> click); user 2 purchases
    // cold (-> none)
    in.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "purchase"),
      ev(3, 3, 2, "purchase"))
    q.processAllAvailable()
    // batch 2: user 1 purchases again — the click state must have
    // survived the batch boundary; a view retargets user 2
    in.addData(ev(4, 10, 1, "purchase"), ev(5, 12, 2, "view"),
      ev(6, 15, 2, "purchase"))
    q.processAllAvailable()
    val rows = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((1L, 2L, "click"), (2L, 3L, "none"),
      (1L, 4L, "click"), (2L, 6L, "view")), s"got $rows")
    q.stop()
  }

  test("streaming funnel FSM: emits on completed signup->purchase->error " +
      "sequence, ignores out-of-order stages, restarts after conversion") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.funnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnelq")
      .outputMode("append").start()
    // user 1 completes the funnel across TWO batches; user 2 purchases
    // before signing up (stage must not advance: purchase-then-signup
    // leaves them at stage 1 only)
    in.addData(ev(1, 0, 1, "signup"), ev(2, 5, 1, "purchase"),
      ev(3, 1, 2, "purchase"), ev(4, 2, 2, "signup"))
    q.processAllAvailable()
    assert(spark.table("funnelq").count() == 0)
    in.addData(ev(5, 10, 1, "error"), ev(6, 11, 2, "view"))
    q.processAllAvailable()
    val rows = spark.table("funnelq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 1 && rows.head._1 == 1L, rows.mkString(";"))
    assert(rows.head._2 == ts(0).getTime && rows.head._3 == ts(5).getTime
      && rows.head._4 == ts(10).getTime, rows.head.toString)
    // funnel restarted for user 1: a lone error must NOT emit again
    in.addData(ev(7, 20, 1, "error"))
    q.processAllAvailable()
    assert(spark.table("funnelq").count() == 1)
    q.stop()
  }

  test("stateful ops run on the RocksDB state store provider " +
      "(the production backend for 100TB-scale state)") {
    // all other streaming tests exercise the default HDFSBackedStateStore
    // (state lives on the executor heap — fine for small state, an OOM
    // risk when keyed state outgrows memory). This pins the swap to the
    // disk-backed RocksDB provider that a large deployment would set, and
    // asserts via provider-specific metrics that it actually engaged.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = StreamingOps.funnelStream(in.toDS())
        .writeStream.format("memory").queryName("rocksdb_funnel")
        .outputMode("append").start()
      in.addData(ev(1, 0, 1, "signup"), ev(2, 5, 1, "purchase"))
      q.processAllAvailable()
      in.addData(ev(3, 10, 1, "error"), ev(4, 11, 2, "view"))
      q.processAllAvailable()
      // same FSM result as on the default provider…
      val rows = spark.table("rocksdb_funnel").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, ts(0).getTime, ts(5).getTime,
        ts(10).getTime)), rows.mkString(";"))
      // …and the state genuinely lived in RocksDB, not the HDFS-backed map
      val metrics = q.lastProgress.stateOperators.head
        .customMetrics.keySet().asScala
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics: $metrics")
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming IVF ingest: assignment matches the batch quantizer " +
      "metric; probe read prunes to the requested list partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ivf_ingest")
    val store = s"$root/store"; val ckpt = s"$root/ckpt"
    // three axis-aligned centroids — nearest-by-cosine is unambiguous
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)))
      .toDF("c_id", "cv").withColumn("cn", VectorExprs.norm(col("cv")))
    val in = MemoryStream[Vec]
    val q = VectorIngest.startIvfIngest(spark, in.toDF(), cents, store, ckpt)
    in.addData(Vec(10, ts(0), Array(0.9f, 0.1f, 0f, 0f)),
      Vec(11, ts(1), Array(0.2f, 0.8f, 0.1f, 0f)))
    q.processAllAvailable()
    in.addData(Vec(12, ts(2), Array(0f, 0.1f, 0.9f, 0f)))
    q.processAllAvailable()
    q.stop()
    val stored = VectorIngest.readLists(spark, store, Seq(0L, 1L, 2L))
      .select(col("vec_id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == Map(10L -> 0L, 11L -> 1L, 12L -> 2L), stored)
    // probe of list 0: only vec 10 comes back, and the scan prunes on
    // the bucket partition column (visible as a PartitionFilters entry
    // in the executed plan — pruning happens at file listing, pre-IO)
    val probe = VectorIngest.readLists(spark, store, Seq(0L))
    assert(probe.select("vec_id").collect().map(_.getLong(0)).toSeq
      == Seq(10L))
    val planStr = probe.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("bucket"), planStr)
  }

  test("end-to-end streamed-store ANN probe: top-k from the pruned " +
      "lists equals brute force over the whole store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round, typedLit}
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ivf_probe")
    val store = s"$root/store"; val ckpt = s"$root/ckpt"
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)))
      .toDF("c_id", "cv").withColumn("cn", VectorExprs.norm(col("cv")))
    // 30 vectors, 10 tightly around each axis — a probe near axis 1
    // has ALL its true top-3 inside list 1, so pruned == brute force
    def axisVec(axis: Int, i: Int): Array[Float] = {
      val v = Array(0.05f * (i % 3), 0.05f * ((i + 1) % 3),
        0.05f * ((i + 2) % 3), 0.02f * i)
      v(axis) = 1f; v
    }
    val in = MemoryStream[Vec]
    val q = VectorIngest.startIvfIngest(spark, in.toDF(), cents, store, ckpt)
    in.addData((0 until 15).map(i => Vec(i.toLong, ts(i), axisVec(i % 3, i))): _*)
    q.processAllAvailable()
    in.addData((15 until 30).map(i => Vec(i.toLong, ts(i), axisVec(i % 3, i))): _*)
    q.processAllAvailable()
    q.stop()
    val probeVec = Array(0.1f, 0.95f, 0.05f, 0.1f)
    val got = VectorIngest.probeStore(spark, store, probeVec, cents,
      nprobe = 1, k = 3)
    // pruning engaged: one list directory in PartitionFilters
    val planStr = got.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("bucket"), planStr)
    // brute force over the ENTIRE store (all three lists), same formula
    val pv = typedLit(probeVec)
    val pn = math.sqrt(probeVec.map(x => x.toDouble * x).sum)
    val brute = VectorIngest.readLists(spark, store, Seq(0L, 1L, 2L))
      .withColumn("cos", round(VectorExprs.dot(col("v"), pv)
        / (VectorExprs.norm(col("v"))
          * org.apache.spark.sql.functions.lit(pn)), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(3)
      .select(col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pruned = got.select(col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned == brute, s"pruned=$pruned brute=$brute")
    assert(pruned.nonEmpty)
  }

  test("s_stream_rrf: the streamed-store RRF scoreboard is bit-identical " +
      "to a batch brute-force twin (VERDICT r9 #7 — streaming parity " +
      "for the round-9 retrieval surface)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, round, typedLit,
      row_number}
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ivf_rrf")
    val store = s"$root/store"; val ckpt = s"$root/ckpt"
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)))
      .toDF("c_id", "cv").withColumn("cn", VectorExprs.norm(col("cv")))
    def vec(i: Int): Array[Float] = {
      val v = Array(0.07f * (i % 4), 0.07f * ((i + 1) % 4),
        0.07f * ((i + 2) % 4), 0.03f * (i % 5))
      v(i % 3) = 1f; v
    }
    val in = MemoryStream[Vec]
    val q = VectorIngest.startIvfIngest(spark, in.toDF(), cents, store, ckpt)
    in.addData((0 until 24).map(i => Vec(i.toLong, ts(i), vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    // lexical arm: a deterministic static top-8 (any BM25-style batch
    // ranking — corpus-statistics work stays batch at any scale)
    val lex = (0 until 8).map(i => ((i * 3).toLong, (i + 1).toLong))
      .toDF("doc_id", "lex_rank")
    val probeVec = Array(0.2f, 0.9f, 0.1f, 0.05f)
    // streamed scoreboard: dense arm served from the streamed store
    // over ALL lists (pruning semantics are pinned by the probe test
    // above; parity here isolates the fusion + ranking + tie-breaks)
    val streamed = VectorIngest.rrfFromStore(spark, store, probeVec,
      cents, nprobe = 3, lex = lex)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // batch twin: brute-force cosine over the same 24 vectors straight
    // from the test data (never the store), same integer RRF idiom
    val pv = typedLit(probeVec)
    val pn = math.sqrt(probeVec.map(x => x.toDouble * x).sum)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("vec_id"))
    val denseB = (0 until 24).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "v")
      .withColumn("cos", round(VectorExprs.dot(col("v"), pv)
        / (VectorExprs.norm(col("v"))
          * org.apache.spark.sql.functions.lit(pn)), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
      .withColumn("dense_rank", row_number().over(w).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    val batch = denseB.join(lex, Seq("doc_id"), "full_outer")
      .withColumn("rrf_e12", expr(
        "coalesce(1000000000000 div (60 + lex_rank), 0L) + " +
          "coalesce(1000000000000 div (60 + dense_rank), 0L)"))
      .orderBy(col("rrf_e12").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("rrf_e12"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.size == 10)
    // both arms contribute: at least one fused row carries a summed
    // score strictly above the best single-arm contribution (1e12/61)
    assert(streamed.exists(_._2 > 1000000000000L / 61L), streamed)
  }

  test("transformWithState sessionizer: in-batch gap split + event-time " +
      "timer timeout (the Spark 4 arbitrary-state API, RocksDB-only)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = TwsOps.sessionizeTws(in.toDS())
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append").start()
      in.addData(ev(1, 0, 1, "view"), ev(2, 5, 1, "view"))
      q.processAllAvailable()
      // 35-min gap > 30 → the open session splits and emits immediately
      in.addData(ev(3, 40, 1, "view"))
      q.processAllAvailable()
      // watermark advances to 110 min, past user 1's 40+30 timer → the
      // trailing session emits via handleExpiredTimer; the extra batch
      // ensures the post-watermark timer sweep runs
      in.addData(ev(4, 120, 2, "view"))
      q.processAllAvailable()
      in.addData(ev(5, 130, 2, "view"))
      q.processAllAvailable()
      val rows = spark.table("tws_sessions").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getString(4))).sortBy(t => (t._1, t._3))
      assert(rows.contains((1L, 2, ts(0), ts(5), "split")),
        rows.mkString(";"))
      assert(rows.contains((1L, 1, ts(40), ts(40), "timeout")),
        rows.mkString(";"))
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState sessionizer agrees with batch session_window " +
      "on the same events (first/last/count per session)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      // two users, multiple sessions each, out-of-order within horizon
      val evs = Seq(ev(1, 0, 1, "view"), ev(2, 9, 1, "view"),
        ev(3, 5, 1, "view"), ev(4, 50, 1, "view"), ev(5, 55, 1, "view"),
        ev(6, 3, 2, "view"), ev(7, 95, 2, "view"))
      val in = MemoryStream[Ev]
      val q = TwsOps.sessionizeTws(in.toDS())
        .writeStream.format("memory").queryName("tws_parity")
        .outputMode("append").start()
      evs.grouped(3).foreach { g => in.addData(g: _*)
        q.processAllAvailable() }
      // sentinel user far in the future flushes every timer, twice so
      // the post-watermark sweep batch definitely runs
      in.addData(ev(100, 600, 99, "view")); q.processAllAvailable()
      in.addData(ev(101, 610, 99, "view")); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_parity").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
          r.getTimestamp(3))).toSet
      // batch twin: session_window end = last event + gap
      val batch = evs.toDS()
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("n").cast("int"),
          col("session_window.start"),
          (col("session_window.end").cast("long") - 30L * 60)
            .cast("timestamp").as("last"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
          r.getTimestamp(3))).toSet
      assert(streamed == batch,
        s"streamed=$streamed\nbatch=$batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("lifecycle FSM emits on error and on event-time timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.lifecycleFsm(in.toDS())
      .writeStream.format("memory").queryName("fsm").outputMode("append")
      .start()
    // user 1: signup + click + error → emit(reason=error, 3 events)
    in.addData(ev(1, 0, 1, "signup"), ev(2, 5, 1, "click"),
      ev(3, 10, 1, "error"))
    q.processAllAvailable()
    // user 2: signup + click, then silence; advance watermark far past
    // lastTs + 30min via another user's event → timeout emission
    in.addData(ev(4, 12, 2, "signup"), ev(5, 14, 2, "click"))
    q.processAllAvailable()
    in.addData(ev(6, 600, 3, "click"))
    q.processAllAvailable()
    in.addData(ev(7, 610, 3, "click")) // extra batch to fire timers
    q.processAllAvailable()
    val rows = spark.table("fsm").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4))).toSet
    assert(rows.contains((1L, 3, "error")))
    assert(rows.contains((2L, 2, "timeout")), s"got $rows")
    q.stop()
  }

  test("EventIngest: docker-event JSON files -> partitioned parquet store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_")
    val src = tmp.resolve("src"); val store = tmp.resolve("store")
    val ckpt = tmp.resolve("ckpt")
    java.nio.file.Files.createDirectories(src)
    val line =
      """{"Type":"container","Action":"start","id":"c01","Actor":{"ID":"c01","Attributes":{"image":"app:1","name":"web_1","LOG":"1","com.docker.compose.project":"demo","com.docker.compose.service":"web"}},"time":1704067200,"timeNano":1704067200123456789}"""
    java.nio.file.Files.writeString(src.resolve("e1.json"), line + "\n")
    val q = EventIngest.start(spark, src.toString, store.toString,
      ckpt.toString)
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(store.toString).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("container_id") == "c01")
    assert(r.getAs[String]("service") == "web")
    assert(r.getAs[Boolean]("log_opt_in"))
    assert(r.getAs[java.sql.Timestamp]("ts").toString
      == "2024-01-01 00:00:00.123456")
    // date partition pruning works on the store
    assert(spark.read.parquet(store.toString)
      .filter(org.apache.spark.sql.functions.col("date") === "2024-01-01")
      .count() == 1)
    // triples view over the store
    val triples = EventIngest.storeTriples(spark, store.toString).collect()
    assert(triples.length == 2)
  }

  test("live socket source: docker-event JSON over TCP -> normalized rows") {
    // the executable twin of the reference's `GET /events` pump: a real
    // TCP listener plays the docker daemon (the sandbox has none), the
    // socket-source query connects, and the SAME normalize pipeline as
    // the file twin produces queryable rows — malformed lines dropped
    val server = new java.net.ServerSocket(0) // ephemeral port
    val lines = Seq(
      """{"Type":"container","Action":"start","id":"c01","Actor":{"ID":"c01","Attributes":{"image":"app:1","name":"web_1","LOG":"1","com.docker.compose.project":"demo","com.docker.compose.service":"web"}},"time":1704067200,"timeNano":1704067200123456789}""",
      "this is not json",
      """{"Type":"container","Action":"die","id":"c02","Actor":{"ID":"c02","Attributes":{"image":"db:2","name":"db_1"}},"time":1704067260,"timeNano":1704067260000000000}""")
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
      // keep the connection open until the query is done reading —
      // closing early races the source's line reader
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true); writer.start()
    val df = DockerEvents.readEventSocketStream(spark, "localhost",
      server.getLocalPort)
    val q = runQuery(df, "sock_events", "append")
    try {
      val deadline = System.currentTimeMillis() + 60000
      def n(): Long = spark.table("sock_events").count()
      while (n() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(n() == 2, s"expected 2 normalized rows, got ${n()}")
      val rows = spark.table("sock_events")
        .orderBy("container_id").collect()
      assert(rows(0).getAs[String]("container_id") == "c01")
      assert(rows(0).getAs[Boolean]("log_opt_in"))
      assert(rows(0).getAs[java.sql.Timestamp]("ts").toString
        == "2024-01-01 00:00:00.123456")
      assert(rows(1).getAs[String]("container_id") == "c02")
      assert(!rows(1).getAs[Boolean]("log_opt_in"))
      assert(rows(1).getAs[String]("action") == "die")
    } finally { q.stop(); server.close() }
  }

  test("log follower: raw log files -> parsed partitioned store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_logs_")
    val src = tmp.resolve("src"); val store = tmp.resolve("store")
    java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.writeString(src.resolve("c01.log"),
      "2024-01-01T10:00:00.000001000Z GET /health 200 2ms\n" +
      "2024-01-02T11:30:00.500000000Z POST /jobs 201 17ms\n")
    val q = EventIngest.startLogFollower(spark, src.toString, "c01",
      store.toString, tmp.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(store.toString)
      .orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[String]("line") == "GET /health 200 2ms")
    assert(rows.head.getAs[String]("container_id") == "c01")
    assert(rows.map(_.getAs[java.sql.Date]("date").toString).toSeq
      == Seq("2024-01-01", "2024-01-02")) // date-partitioned
    assert(rows.map(_.getAs[String]("uuid")).distinct.length == 2)
  }

  test("log-line parsing keeps us precision and mints stable uuids") {
    import spark.implicits._
    val raw = Seq("2024-01-01T00:00:00.123456789Z GET /health 200 3ms")
      .toDF("value")
    val parsed = DockerEvents.parseLogLines(raw, "c01").collect().head
    assert(parsed.getAs[String]("line") == "GET /health 200 3ms")
    assert(parsed.getAs[java.sql.Timestamp]("ts").toString
      == "2024-01-01 00:00:00.123456")
    val again = DockerEvents.parseLogLines(raw, "c01").collect().head
    assert(parsed.getAs[String]("uuid") == again.getAs[String]("uuid"))
  }

  test("log-line parsing accepts 1-9 digit RFC3339 fractions and none") {
    import spark.implicits._
    val raw = Seq(
      "2024-01-01T10:00:00.5Z a",         // 1 digit: pad to .500000
      "2024-01-01T10:00:01.123Z b",       // 3 digits: pad
      "2024-01-01T10:00:02Z c",           // no fraction at all
      "2024-01-01T10:00:03.123456789Z d", // nanos: truncate to micros
      "garbage line without timestamp e"  // dropped, must not kill query
    ).toDF("value")
    val got = DockerEvents.parseLogLines(raw, "c01").collect()
      .map(r => r.getAs[java.sql.Timestamp]("ts").toString).sorted.toSeq
    assert(got == Seq("2024-01-01 10:00:00.5", "2024-01-01 10:00:01.123",
      "2024-01-01 10:00:02.0", "2024-01-01 10:00:03.123456"), got)
  }

  test("startup attach: pre-existing container dirs and files land in store") {
    // EP1 parity: files written BEFORE attach (the already-running
    // containers at service boot) must be ingested by the first batch.
    val tmp = java.nio.file.Files.createTempDirectory("graft_attach_")
    val root = tmp.resolve("containers")
    for (c <- Seq("c01", "c02")) {
      java.nio.file.Files.createDirectories(root.resolve(c))
      java.nio.file.Files.writeString(root.resolve(c).resolve("out.log"),
        s"2024-01-01T10:00:00.111Z hello from $c\n")
    }
    val qs = EventIngest.attachExistingFollowers(spark, root.toString,
      tmp.resolve("store").toString, tmp.resolve("ckpt").toString)
    assert(qs.map(_._1) == Seq("c01", "c02"))
    qs.foreach(_._2.processAllAvailable()); qs.foreach(_._2.stop())
    val rows = spark.read.parquet(tmp.resolve("store").toString).collect()
    assert(rows.map(_.getAs[String]("container_id")).sorted.toSeq
      == Seq("c01", "c02"))
    assert(rows.forall(_.getAs[String]("line").startsWith("hello from ")))
  }

  test("catch-up run: AvailableNow drains the backlog in rate-limited " +
      "batches, self-terminates, and a later run ingests only new files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_catchup_")
    val src = tmp.resolve("src")
    java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.writeString(src.resolve("a.log"),
      "2024-01-01T10:00:00.111Z alpha\n")
    java.nio.file.Files.writeString(src.resolve("b.log"),
      "2024-01-01T10:00:01.111Z beta\n")
    val store = tmp.resolve("store").toString
    val ckpt = tmp.resolve("ckpt").toString
    val q1 = EventIngest.runCatchUp(spark, src.toString, "c01", store, ckpt)
    assert(q1.awaitTermination(120000), "AvailableNow must self-terminate")
    val first = spark.read.parquet(store)
    assert(first.count() == 2)
    // maxFilesPerTrigger=1 → the 2-file backlog drained in >=2 batches
    assert(first.select("batch_id").distinct().count() >= 2)
    // a new file lands; the next scheduled run resumes from the same
    // checkpoint and ingests ONLY it (no duplicate re-ingestion)
    java.nio.file.Files.writeString(src.resolve("c.log"),
      "2024-01-01T10:00:02.111Z gamma\n")
    val q2 = EventIngest.runCatchUp(spark, src.toString, "c01", store, ckpt)
    assert(q2.awaitTermination(120000))
    val lines = spark.read.parquet(store).collect()
      .map(_.getAs[String]("line")).sorted.toSeq
    assert(lines == Seq("alpha", "beta", "gamma"), lines)
  }

  test("state upsert keeps one latest row per container across batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_")
    val src = tmp.resolve("src")
    java.nio.file.Files.createDirectories(src)
    val mk = (id: String, action: String, nanos: Long) =>
      s"""{"Type":"container","Action":"$action","id":"$id","Actor":{"ID":"$id","Attributes":{"name":"$id"}},"time":${nanos / 1000000000L},"timeNano":$nanos}"""
    val t0 = 1704067200000000000L
    java.nio.file.Files.writeString(src.resolve("b1.json"),
      mk("c01", "start", t0) + "\n" + mk("c02", "start", t0 + 1) + "\n")
    val q = EventIngest.startStateUpsert(spark, src.toString,
      tmp.resolve("store").toString, tmp.resolve("ckpt").toString)
    q.processAllAvailable()
    java.nio.file.Files.writeString(src.resolve("b2.json"),
      mk("c01", "die", t0 + 60L * 1000000000L) + "\n")
    q.processAllAvailable(); q.stop()
    val st = EventIngest.currentState(spark, tmp.resolve("store").toString)
      .get.collect()
      .map(r => r.getAs[String]("container_id") -> r.getAs[String]("action"))
      .toMap
    assert(st == Map("c01" -> "die", "c02" -> "start"), st.toString)
  }

  test("handler registry: registered + explicit handlers compose in order") {
    import org.apache.spark.sql.functions.{col, lit, upper}
    val tmp = java.nio.file.Files.createTempDirectory("graft_handlers_")
    val src = tmp.resolve("src")
    java.nio.file.Files.createDirectories(src)
    val mk = (id: String, action: String) =>
      s"""{"Type":"container","Action":"$action","id":"$id","Actor":{"ID":"$id","Attributes":{"name":"$id"}},"time":1704067200,"timeNano":1704067200000000000}"""
    java.nio.file.Files.writeString(src.resolve("e.json"),
      mk("c01", "start") + "\n" + mk("c02", "die") + "\n")
    EventIngest.clearHandlers()
    EventIngest.registerHandler("only-starts")(
      _.filter(col("action") === "start"))
    try {
      // explicit handler runs AFTER the registered one: it sees only the
      // filtered rows and stamps them — proving order and composition
      val q = EventIngest.start(spark, src.toString,
        tmp.resolve("store").toString, tmp.resolve("ckpt").toString,
        handlers = Seq(_.withColumn("via", upper(lit("handler")))))
      q.processAllAvailable(); q.stop()
      val rows = spark.read.parquet(tmp.resolve("store").toString).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("container_id") == "c01")
      assert(rows.head.getAs[String]("via") == "HANDLER")
    } finally EventIngest.clearHandlers()
  }

  /** Parquet data files per leaf partition directory of a store,
    * keyed by the directory's path relative to the store. */
  private def parquetFilesPerDir(store: java.nio.file.Path)
      : Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(store)
    try walk.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .groupBy(f => store.relativize(f.getParent).toString)
      .map { case (dir, fs) => dir -> fs.size }
    finally walk.close()
  }

  /** Four equal-sized small source files per pipeline, every record on
    * 2024-01-01, ingested in one micro-batch by the event pipeline and
    * by a log follower. At local[4] Spark's split packing charges the
    * open cost per input file, so each file is its own input partition.
    * Returns the files per partition directory of both stores. */
  private def ingestFourSmallFiles(tag: String)
      : (Map[String, Int], Map[String, Int]) = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_sized_${tag}_")
    val evSrc = tmp.resolve("ev_src"); val logSrc = tmp.resolve("log_src")
    Seq(evSrc, logSrc).foreach(java.nio.file.Files.createDirectories(_))
    for (f <- 0 until 4) {
      val events = (0 until 5).map { i =>
        val id = s"c$f$i"
        val nano = 1704067200000000000L + (f * 5 + i) * 1000000000L
        s"""{"Type":"container","Action":"start","id":"$id","Actor":{"ID":"$id","Attributes":{"name":"$id"}},"time":${nano / 1000000000L},"timeNano":$nano}"""
      }
      java.nio.file.Files.writeString(evSrc.resolve(s"e$f.json"),
        events.mkString("", "\n", "\n"))
      val lines = (0 until 5).map(i =>
        f"2024-01-01T10:$f%02d:$i%02d.000001Z GET /item/$f$i 200")
      java.nio.file.Files.writeString(logSrc.resolve(s"l$f.log"),
        lines.mkString("", "\n", "\n"))
    }
    val evStore = tmp.resolve("ev_store"); val logStore = tmp.resolve("log_store")
    val qs = Seq(
      EventIngest.start(spark, evSrc.toString, evStore.toString,
        tmp.resolve("ev_ckpt").toString),
      EventIngest.startLogFollower(spark, logSrc.toString, "c01",
        logStore.toString, tmp.resolve("log_ckpt").toString))
    qs.foreach(_.processAllAvailable()); qs.foreach(_.stop())
    assert(spark.read.parquet(evStore.toString).count() == 20)
    assert(spark.read.parquet(logStore.toString).count() == 20)
    (parquetFilesPerDir(evStore), parquetFilesPerDir(logStore))
  }

  test("write sizing: a batch of small input files lands as ONE parquet " +
      "file per batch_id/date directory, in event and follower stores") {
    val (ev, logs) = ingestFourSmallFiles("one")
    assert(ev == Map("batch_id=0/date=2024-01-01" -> 1), ev)
    assert(logs == Map("container_id=c01/batch_id=0/date=2024-01-01" -> 1),
      logs)
  }

  test("write sizing: with a tiny open cost the same batch keeps its " +
      "input partitions and writes more than one file per directory") {
    // the stream clones the session conf at start, so set it first
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val (ev, logs) = ingestFourSmallFiles("many")
      assert(ev.keySet == Set("batch_id=0/date=2024-01-01"), ev)
      assert(ev.values.forall(_ > 1), ev)
      assert(logs.keySet ==
        Set("container_id=c01/batch_id=0/date=2024-01-01"), logs)
      assert(logs.values.forall(_ > 1), logs)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming heavy hitters: MG sketch as streaming state honors " +
      "membership + error bounds across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val k = 8
    val q = runQuery(
      StreamingOps.streamHeavyHitters(
        in.toDF().toDF("lang", "tok"), k),
      "shh", "complete")
    // batch 1: hot token dominates; batch 2: different mix, same state —
    // the second batch exercises the sketch MERGE path inside the state
    // store, not just update
    val b1 = (1 to 60).map(_ => ("en", "hot")) ++
      (1 to 30).map(i => ("en", s"t${i % 10}"))
    val b2 = (1 to 40).map(_ => ("en", "hot2")) ++
      (1 to 20).map(_ => ("en", "hot")) ++
      (1 to 15).map(i => ("en", s"u${i % 5}"))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val est = spark.table("shh").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val exact = (b1 ++ b2).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = (b1 ++ b2).size
    assert(est.size <= k)
    exact.foreach { case (t, c) =>
      // membership: anything above n/(k+1) must be reported
      assert(c * (k + 1) <= n || est.contains(t),
        s"$t (count $c) missing from sketch over n=$n")
      // error: never overcount, undercount bounded by n/(k+1)
      est.get(t).foreach { e =>
        assert(e <= c, s"$t overcounted: est $e > exact $c")
        assert((c - e) * (k + 1) <= n, s"$t undercount out of bounds")
      }
    }
    assert(est.contains("hot") && est.contains("hot2"))
    q.stop()
  }

  test("streaming hour census: Complete-mode table equals the batch " +
      "census exactly under shuffled cross-batch arrival") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[java.sql.Timestamp]
    val q = runQuery(
      StreamingOps.hourProfileStream(in.toDF().toDF("ts")),
      "shour", "complete")
    // timestamps spanning hours 0..23 unevenly, deliberately shuffled
    // and split mid-hour across batches — commutativity is the claim
    val rnd = new scala.util.Random(11)
    val all = (0 until 500).map { i =>
      val hour = rnd.nextInt(24)
      new java.sql.Timestamp(
        (86400L * 3 + hour * 3600L + rnd.nextInt(3600)) * 1000L)
    }
    val (b1, b2) = rnd.shuffle(all).splitAt(211)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val got = spark.table("shour").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = all.groupBy(t => (t.getTime / 1000 / 3600) % 24)
      .view.mapValues(_.size.toLong).toMap
    assert(got == want, s"$got vs $want")
    q.stop()
  }

  test("streaming SCD-2 closed rows match the batch scd2 semantics " +
      "across micro-batch boundaries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = runQuery(StreamingOps.scd2Stream(in.toDS()).toDF(), "scd2s",
      "append")
    // user 1: click -> click (no change) -> view -> error; the
    // view->error transition arrives in a LATER micro-batch, so the
    // view version must close against state carried across batches
    in.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "click"),
      ev(3, 10, 1, "view"))
    q.processAllAvailable()
    in.addData(ev(4, 20, 1, "error"), ev(5, 0, 2, "signup"))
    q.processAllAvailable()
    val rows = spark.table("scd2s").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    def us(minute: Int): Long = ts(minute).getTime * 1000
    // closed rows only: (v1 click [0,10m)), (v2 view [10m,20m));
    // the open error row and user 2's open signup row live in state
    assert(rows == Set(
      (1L, 1, "click", us(0), us(10) - 1),
      (1L, 2, "view", us(10), us(20) - 1)))
    // a third batch closing user 2 emits exactly its one closed row
    in.addData(ev(6, 30, 2, "purchase"))
    q.processAllAvailable()
    val rows2 = spark.table("scd2s").collect()
    assert(rows2.length == 3)
    q.stop()
  }

  test("http chunked bridge: real chunked framing (mid-line splits, " +
      "malformed header tolerance) -> replayable file source rows") {
    // the reference's literal transport: GET /events answered as an
    // HTTP/1.1 chunked stream. A real ServerSocket plays the daemon and
    // speaks genuine chunked encoding: event 1 split MID-LINE across
    // two chunks, a malformed size line injected between frames (the
    // decoder must skip it and resync), event 2 + terminal chunk. The
    // bridge decodes byte-accurately and lands complete JSON lines as
    // atomically-renamed files; the SAME file-source pipeline as the
    // file twin then produces normalized rows — with offset replay,
    // unlike the raw socket source.
    val e1 = """{"Type":"container","Action":"start","id":"c11","Actor":{"ID":"c11","Attributes":{"image":"app:1","name":"web_1","LOG":"1"}},"time":1704067200,"timeNano":1704067200123456789}"""
    val e2 = """{"Type":"container","Action":"die","id":"c12","Actor":{"ID":"c12","Attributes":{"image":"db:2","name":"db_1"}},"time":1704067260,"timeNano":1704067260000000000}"""
    val (h1, h2) = e1.splitAt(e1.length / 2)
    def chunk(payload: String): String =
      payload.getBytes("UTF-8").length.toHexString + "\r\n" + payload + "\r\n"
    val body = chunk(h1) + chunk(h2 + "\n") +
      "not-a-hex-size\r\n" +           // malformed frame header
      chunk(e2 + "\n") + "0\r\n\r\n" // terminal chunk + empty trailer
    val response = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: application/json\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + body
    val server = new java.net.ServerSocket(0)
    val daemon = new Thread(() => {
      val sock = server.accept()
      // consume the request head so the client write never blocks
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream))
      var l = in.readLine()
      assert(l != null && l.startsWith("GET /events HTTP/1.1"))
      while (l != null && l.nonEmpty) l = in.readLine()
      sock.getOutputStream.write(response.getBytes("UTF-8"))
      sock.getOutputStream.flush()
      sock.close()
    })
    daemon.setDaemon(true); daemon.start()
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunked_")
    val outDir = tmp.resolve("lines").toString
    val bridge = HttpChunkedBridge.start("localhost", server.getLocalPort,
      "/events", outDir)
    try {
      assert(bridge.awaitDone(30000), "bridge did not reach terminal chunk")
      assert(bridge.linesLanded == 2, s"landed ${bridge.linesLanded}")
      val df = DockerEvents.readEventStream(spark, outDir)
      val q = runQuery(df, "chunked_events", "append")
      try {
        q.processAllAvailable()
        val rows = spark.table("chunked_events")
          .orderBy("container_id").collect()
        assert(rows.length == 2, s"expected 2 rows, got ${rows.length}")
        assert(rows(0).getAs[String]("container_id") == "c11")
        assert(rows(0).getAs[Boolean]("log_opt_in"))
        assert(rows(0).getAs[java.sql.Timestamp]("ts").toString
          == "2024-01-01 00:00:00.123456") // nano -> us truncation
        assert(rows(1).getAs[String]("container_id") == "c12")
        assert(rows(1).getAs[String]("action") == "die")
      } finally q.stop()
    } finally { bridge.stop(); server.close() }
  }

  test("unix-domain-socket dial: GET /events over AF_UNIX with chunked " +
      "framing -> same normalized rows (the reference's literal transport)") {
    // The reference dials /var/run/docker.sock directly; so do we —
    // JDK-native AF_UNIX channels, no socat, no TCP bridge. A
    // ServerSocketChannel bound to a filesystem path plays the daemon
    // and speaks genuine HTTP/1.1 chunked framing (one event split
    // mid-line across chunks, one whole), through the SAME decode +
    // file-landing + normalize pipeline as the TCP test above.
    val e1 = """{"Type":"container","Action":"start","id":"u21","Actor":{"ID":"u21","Attributes":{"image":"app:1","name":"web_1","LOG":"1"}},"time":1704067200,"timeNano":1704067200123456789}"""
    val e2 = """{"Type":"container","Action":"stop","id":"u22","Actor":{"ID":"u22","Attributes":{"image":"db:2","name":"db_1"}},"time":1704067260,"timeNano":1704067260000000000}"""
    val (h1, h2) = e1.splitAt(e1.length / 2)
    def chunk(payload: String): String =
      payload.getBytes("UTF-8").length.toHexString + "\r\n" + payload + "\r\n"
    val body = chunk(h1) + chunk(h2 + "\n") + chunk(e2 + "\n") + "0\r\n\r\n"
    val response = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: application/json\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + body
    // AF_UNIX sun_path caps at ~108 bytes — mint a short /tmp name,
    // and unlink it up front (bind fails on an existing path)
    val sockPath = java.nio.file.Paths.get(
      s"/tmp/graft_${java.lang.Long.toHexString(System.nanoTime())}.sock")
    java.nio.file.Files.deleteIfExists(sockPath)
    val server = java.nio.channels.ServerSocketChannel
      .open(java.net.StandardProtocolFamily.UNIX)
      .bind(java.net.UnixDomainSocketAddress.of(sockPath))
    val daemon = new Thread(() => {
      val ch = server.accept()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        java.nio.channels.Channels.newInputStream(ch)))
      var l = in.readLine()
      assert(l != null && l.startsWith("GET /events HTTP/1.1"))
      while (l != null && l.nonEmpty) l = in.readLine()
      val out = java.nio.channels.Channels.newOutputStream(ch)
      out.write(response.getBytes("UTF-8")); out.flush()
      ch.close()
    })
    daemon.setDaemon(true); daemon.start()
    val tmp = java.nio.file.Files.createTempDirectory("graft_unixsock_")
    val outDir = tmp.resolve("lines").toString
    val bridge = HttpChunkedBridge.startUnix(sockPath.toString, "/events",
      outDir)
    try {
      assert(bridge.awaitDone(30000), "bridge did not reach terminal chunk")
      assert(bridge.linesLanded == 2, s"landed ${bridge.linesLanded}")
      val df = DockerEvents.readEventStream(spark, outDir)
      val q = runQuery(df, "unixsock_events", "append")
      try {
        q.processAllAvailable()
        val rows = spark.table("unixsock_events")
          .orderBy("container_id").collect()
        assert(rows.length == 2, s"expected 2 rows, got ${rows.length}")
        assert(rows(0).getAs[String]("container_id") == "u21")
        assert(rows(0).getAs[Boolean]("log_opt_in"))
        assert(rows(1).getAs[String]("container_id") == "u22")
        assert(rows(1).getAs[String]("action") == "stop")
      } finally q.stop()
    } finally {
      bridge.stop(); server.close()
      java.nio.file.Files.deleteIfExists(sockPath): Unit
    }
  }

  test("bloom-gated streaming near-dup dedup: stored and near-identical " +
      "docs drop, novel and short docs pass") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // static store: two long documents
    val d1 = "the quick brown fox jumps over the lazy dog near the old barn today"
    // long enough that a one-token edit leaves ~85% of 5-shingles
    // intact (a short doc's edit rewrites nearly every shingle and
    // the near-dup scenario stops being near)
    val d2 = "spark structured streaming processes unbounded data with bounded state " +
      "machines across many executors while checkpoint files record offsets and " +
      "watermarks advance event time so that window aggregates close deterministically " +
      "and late arrivals are dropped once the horizon passes beyond their slot"
    val store = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val bloom = StreamDedup.bandBloom(store).localCheckpoint()
    // stream: an exact copy of d1 (every band matches -> drop), a
    // one-token edit of d2 (shares most shingles -> its band overlap
    // with the store is computed from the SHARED withBands definition,
    // so the expectation cannot drift from the implementation), a
    // novel long doc (pass), and a 3-token doc (no shingles -> pass)
    val near = d2.replace("unbounded", "infinite")
    val novel = "completely different words about gardening tulips roses daisies in spring sunshine every year"
    val storeBands = StreamDedup.withBands(store)
      .select(org.apache.spark.sql.functions.explode($"bands").as("b"))
      .as[String].collect().toSet
    val nearDropped = StreamDedup.withBands(Seq((0L, near)).toDF("doc_id", "text"))
      .select(org.apache.spark.sql.functions.explode($"bands").as("b"))
      .as[String].collect()
      .exists(storeBands.contains)
    val in = MemoryStream[(Long, String)]
    val q = runQuery(
      StreamDedup.dedupAgainstStore(in.toDF().toDF("doc_id", "text"), bloom),
      "dedup_gate", "append")
    in.addData((10L, d1), (11L, near), (12L, novel), (13L, "too few tokens"))
    q.processAllAvailable()
    val kept = spark.table("dedup_gate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(!kept.contains(10L), "exact copy of a stored doc must drop")
    assert(kept.contains(12L), "novel doc must pass")
    assert(kept.contains(13L), "short doc (no shingles) must pass")
    assert(kept.contains(11L) == !nearDropped,
      s"near-dup gate must follow the shared band definition " +
        s"(bands overlap=$nearDropped)")
    // the near-dup fixture is chosen to actually collide — assert the
    // scenario is load-bearing, not vacuous
    assert(nearDropped, "one-token edit should band-collide with store")
    q.stop()
  }

  test("s_stream_tau_census: the streamed dedup-aggressiveness monitor " +
      "(incremental tau-sweep census over the band path) matches its " +
      "batch twin on the fixture corpus, absorbing a second chunk " +
      "incrementally (round-11 parity for the round-10 dedup rows)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_intersect, count, explode,
      expr, lit, size, typedlit}
    implicit val sq = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val store = docs.filter($"doc_id" < 300).localCheckpoint()
    val incoming = docs.filter($"doc_id" >= 300)
      .select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(incoming.nonEmpty)
    val (first, second) = incoming.splitAt(incoming.size / 2)
    val in = MemoryStream[(Long, String)]
    val q = runQuery(
      StreamDedup.tauSweepMonitor(in.toDF().toDF("doc_id", "text"), store),
      "tau_census", "complete")
    in.addData(first: _*)
    q.processAllAvailable()
    val afterFirst = spark.table("tau_census").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    in.addData(second: _*)
    q.processAllAvailable()
    val streamed = spark.table("tau_census").orderBy("tau_e4").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    // batch twin: the SAME withBandSets definitions and integer gate,
    // computed over the whole incoming set in one batch plan
    val taus = Seq(5000L, 7000L, 8000L, 9000L)
    val sSide = StreamDedup.withBandSets(store).filter($"n_sh" > 0)
      .select($"doc_id".as("s_id"), $"ss".as("s_ss"), $"n".as("s_n"),
        explode($"bands").as("b"))
    val batch = StreamDedup.withBandSets(docs.filter($"doc_id" >= 300))
      .filter($"n_sh" > 0)
      .select($"doc_id", $"ss", $"n", explode($"bands").as("b"))
      .join(sSide, "b")
      .withColumn("i", size(array_intersect($"ss", $"s_ss")).cast("long"))
      .withColumn("tau_e4", explode(typedlit(taus)))
      .filter(expr("i * 10000 >= tau_e4 * (n + s_n - i)"))
      .select($"tau_e4", $"doc_id").distinct()
      .groupBy($"tau_e4").agg(count(lit(1)).as("n_removed"))
      .orderBy("tau_e4").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // load-bearing fixture: at least one tau actually removes docs
    assert(streamed.nonEmpty && streamed.map(_._2).sum > 0,
      s"vacuous fixture: no removals at any tau: $streamed")
    // the census is a running total: no tau lost removals when the
    // second chunk arrived
    for ((t, n1) <- afterFirst) {
      val n2 = streamed.toMap.getOrElse(t, 0L)
      assert(n2 >= n1, s"tau=$t census regressed: $n1 -> $n2")
    }
    // aggressiveness is monotone in tau: higher tau removes no MORE
    val byTau = streamed.toMap
    for (Seq(a, b) <- taus.sliding(2))
      assert(byTau.getOrElse(b, 0L) <= byTau.getOrElse(a, 0L),
        s"monotonicity violated between tau=$a and tau=$b: $streamed")
  }

  test("crash recovery: a batch killed after the sink write but before " +
      "the offset commit replays without duplicates or loss") {
    // the exactly-once contract of the file-source + idempotent
    // batch_id-partitioned sink, made executable. The kill is
    // simulated deterministically: after batch 0 fully commits, its
    // checkpoint COMMIT marker is deleted — exactly the on-disk state
    // of a crash between the foreachBatch parquet write and the commit
    // log append. On restart Spark replays batch 0 from the offset log
    // (same batch_id, same files), the dynamic-overwrite sink rewrites
    // the same batch_id=0 partitions, and the store ends with no dup
    // and no loss.
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay_")
    val src = tmp.resolve("src"); val store = tmp.resolve("store")
    val ckpt = tmp.resolve("ckpt")
    java.nio.file.Files.createDirectories(src)
    def eventLine(id: String, nano: Long): String =
      s"""{"Type":"container","Action":"start","id":"$id","Actor":{"ID":"$id","Attributes":{"image":"a:1","name":"$id"}},"time":${nano / 1000000000L},"timeNano":$nano}"""
    java.nio.file.Files.writeString(src.resolve("a.json"),
      eventLine("r01", 1704067200000000000L) + "\n" +
        eventLine("r02", 1704067201000000000L) + "\n")
    val q1 = EventIngest.start(spark, src.toString, store.toString,
      ckpt.toString)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(store.toString).count() == 2)
    // simulate the mid-batch kill: sink data exists, commit marker gone
    val commit0 = ckpt.resolve("commits").resolve("0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      "expected checkpoint commit marker commits/0")
    // the local ChecksumFileSystem shadows every file with a .crc
    // twin; a stale orphan .0.crc makes the replayed commit's rename
    // throw (read as a concurrent writer). A real crash never leaves
    // this state — HDFS/S3 checkpoint stores have no client-side crc
    // shadow — so drop it with the marker it shadows.
    java.nio.file.Files.deleteIfExists(
      ckpt.resolve("commits").resolve(".0.crc")): Unit
    // restart: batch 0 must replay; then new data lands as batch 1
    val q2 = EventIngest.start(spark, src.toString, store.toString,
      ckpt.toString)
    q2.processAllAvailable()
    java.nio.file.Files.writeString(src.resolve("b.json"),
      eventLine("r03", 1704067202000000000L) + "\n")
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(store.toString)
      .select("container_id").collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("r01", "r02", "r03"),
      s"replay produced $rows — duplicate or lost rows")
  }
}
