package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TTLConfig, ValueState}

/** Open session held by the transformWithState sessionizer. */
case class TwsSession(firstMs: Long, lastMs: Long, n: Int)

/** Round 5 — the `transformWithState` arbitrary-state surface (Spark
  * 4.x's successor to `flatMapGroupsWithState`): a 30-minute-gap
  * sessionizer as a [[StatefulProcessor]] with typed `ValueState` and
  * real event-time TIMERS.
  *
  * Why it earns its place next to the `session_window` op and the FSM
  * ops already in [[StreamingOps]]: the new API gives (a) named,
  * independently-evolvable state variables (`getValueState` /
  * `getListState` / `getMapState`, each with optional TTL) instead of
  * one opaque state blob, (b) first-class timers — register/delete per
  * key — instead of one implicit timeout per group, and (c) a
  * RocksDB-only runtime contract, i.e. the disk-backed state path is
  * mandatory, which is exactly the 100 TB posture. State size here is
  * O(1) per in-flight user (three longs), bounded by the upstream
  * watermark.
  *
  * Semantics (matches the batch `session_window(ts, '30 minutes')`
  * shape): rows for a key fold in event-time order; a gap > 30 min
  * splits — completed sessions emit immediately (`end_reason='split'`);
  * the trailing open session persists with an event-time timer at
  * last + 30 min, and when the watermark passes it the session emits
  * with `end_reason='timeout'` and state clears. Out-of-order rows
  * WITHIN the watermark horizon fold correctly (min/max absorb them);
  * older rows were already dropped by the watermark.
  */
class SessionProcessor extends StatefulProcessor[Long, Ev, SessionSummary] {
  private val gapMs = graft.Tables.SessionGap.toMillis

  @transient private var sess: ValueState[TwsSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[TwsSession]("session",
      Encoders.product[TwsSession], TTLConfig.NONE)

  private def summary(userId: Long, s: TwsSession,
      reason: String): SessionSummary =
    SessionSummary(userId, s.n, new java.sql.Timestamp(s.firstMs),
      new java.sql.Timestamp(s.lastMs), reason)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[SessionSummary] = {
    // fold the batch's rows (plus any open session) in event-time order,
    // splitting on gaps; only the per-key batch slice is materialized —
    // state stays O(1)
    val incoming = rows.map(e => (e.ts.getTime, 1)).toArray.sortBy(_._1)
    var open = Option(sess.get())
    val closed = scala.collection.mutable.ArrayBuffer[SessionSummary]()
    incoming.foreach { case (tMs, _) =>
      open match {
        case Some(s) if tMs > s.lastMs + gapMs =>
          closed += summary(key, s, "split")
          open = Some(TwsSession(tMs, tMs, 1))
        case Some(s) =>
          open = Some(TwsSession(math.min(s.firstMs, tMs),
            math.max(s.lastMs, tMs), s.n + 1))
        case None =>
          open = Some(TwsSession(tMs, tMs, 1))
      }
    }
    open.foreach { s =>
      // one live timer per key: drop stale ones before arming the new
      // expiry (timers don't auto-replace, unlike GroupState timeouts)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      sess.update(s)
      getHandle.registerTimer(s.lastMs + gapMs)
    }
    closed.iterator
  }

  override def handleExpiredTimer(key: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[SessionSummary] = {
    val out = Option(sess.get())
      .map(s => summary(key, s, "timeout")).iterator
    sess.clear()
    out
  }
}

object TwsOps {
  /** 30-min-gap sessionization on the transformWithState API. Requires
    * the RocksDB state store provider (enforced by Spark — the new API
    * does not run on the heap-backed default). */
  def sessionizeTws(events: Dataset[Ev]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}
