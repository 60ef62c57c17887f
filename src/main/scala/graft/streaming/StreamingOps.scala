package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.FreqSketch

/** Event-stream shape shared by batch (`events` table) and streaming
  * tests (FIXTURES.md §B). */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-user session summary emitted by the lifecycle FSM. */
case class SessionSummary(user_id: Long, n_events: Int,
    first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp,
    end_reason: String)

private case class FsmState(nEvents: Int, firstTs: Long, lastTs: Long)

/** Open SCD-2 row held in streaming state (one per user). */
case class Scd2Open(state: String, validFromUs: Long, version: Int)

/** Last non-purchase touch held in streaming state (one per user). */
case class LastTouch(eventType: String, tsMs: Long)

/** Funnel progress held in streaming state: highest stage reached
  * (1 = signup seen, 2 = purchase after signup) + when. */
case class FunnelState(stage: Int, stageTsMs: Long, signupTsMs: Long)

/** Emitted when a user completes signup → purchase → error in order. */
case class FunnelConversion(user_id: Long, signup_ms: Long,
    purchase_ms: Long, error_ms: Long)

/** Attribution row emitted per purchase by the streaming attributor. */
case class Attribution(user_id: Long, purchase_id: Long, channel: String)

/** Integer-EWMA fold state held per user by the streaming smoother. */
private case class EwmaSt(acc: Long, n: Long, last: Long)

private object EwmaSt {
  /** The integer EWMA fold of both stream forms
    * ([[StreamingOps.ewmaStream]], [[StreamingOps.ewmaStreamV2]]): one
    * micro-batch's events sorted by (ts, event_id) — the intra-batch
    * order repair — then folded over centi values as the truncating
    * `(acc + c) / 2` onto the user's previous state (none: the first
    * value seeds it). Kept off `StreamingOps` so the state functions
    * that call it capture no enclosing object. */
  def fold(prev: Option[EwmaSt], evs: Iterator[Ev]): EwmaSt =
    evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      .foldLeft(prev.getOrElse(EwmaSt(0L, 0L, 0L))) { (s, e) =>
        val c = math.floor(e.value * 100 + 0.5).toLong
        if (s.n == 0L) EwmaSt(c, 1L, c)
        else EwmaSt((s.acc + c) / 2, s.n + 1, c)
      }
}

/** Per-user EWMA snapshot emitted each micro-batch by ewmaStream —
  * schema-identical to the batch q_ts_ewma row so parity is a direct
  * frame compare. */
case class EwmaOut(user_id: Long, n_events: Long, last_centi: Long,
    ewma_centi: Long)

/** TTL'd per-user activity fold held by [[StreamingOps.ttlCountStream]]
  * (count + cents since the last state expiry). */
private case class TtlSt(n: Long, cents: Long)

/** Per-user snapshot emitted by the TTL'd counter: the fold since the
  * last expiry, plus whether this batch RESUMED from absent state
  * (first-ever key OR TTL-expired state — indistinguishable by design:
  * expiry IS forgetting). */
case class TtlOut(user_id: Long, n: Long, cents: Long, resumed: Boolean)

/** Session fold held by [[StreamingOps.sessionTimerStream]], plus the
  * processing-time deadline currently armed for the key — carried in
  * state so the next input batch can delete-and-re-arm ITS OWN timer
  * and the expiry handler can reject a stale firing. */
private case class SessTimerSt(n: Long, firstMs: Long, lastMs: Long,
    armedMs: Long)

/** Row emitted by [[StreamingOps.sessionTimerStream]]: an "open"
  * snapshot per key per input batch, an "error" close inline, a
  * "timeout" close from [[StatefulProcessor.handleExpiredTimer]] —
  * SessionSummary's columns on the v2 API (ms epochs: a timer firing
  * carries no event to take a Timestamp from). */
case class SessTimerOut(user_id: Long, n_events: Long, first_ms: Long,
    last_ms: Long, end_reason: String)

/** Closed SCD-2 version row emitted when a user's attribute changes. */
case class Scd2Closed(user_id: Long, version: Int, state: String,
    valid_from_us: Long, valid_to_us: Long)

/** Per-user gap-regularity state held by the streaming bot screen:
  * gap moment sums + the last event timestamp (ns). */
private case class BotSt(nGaps: Long, s: Long, ss: Long, lastNs: Long)

/** Per-user regularity snapshot emitted by the streaming bot screen —
  * the batch q_events_bot_screen columns, so parity is a tuple
  * compare. */
case class BotOut(user_id: Long, n_gaps: Long, mean_gap_s_e2: Long,
    cv2_e4: Long, verdict: String)

/** One day of the global activity census fed to the streaming
  * Holt–Winters smoother. */
case class HwDay(d: Long, x: Long)

/** Holt–Winters fold state: level, trend, the 7 weekday seasonal
  * components, and the observation count. */
private case class HwSt(l: Long, b: Long, s: Seq[Long], n: Long)

/** Holt–Winters snapshot emitted each micro-batch — level/trend plus
  * the seasonal slots flattened so the StreamingSpec parity pin is a
  * plain tuple compare against the batch fold. */
case class HwOut(n_days: Long, level_c: Long, trend_c: Long,
    s0: Long, s1: Long, s2: Long, s3: Long, s4: Long, s5: Long,
    s6: Long)

/** SURVEY.md §2-I — Structured Streaming operators. Each is a pure
  * DataFrame→DataFrame transform so the same code runs on a MemoryStream
  * (tests), a file source (EventIngest), or Kafka at cluster scale.
  *
  * Reference analogs: the reference's only "processing" is per-event
  * triple writes; these rollups/sessions/dedup are the read-side the
  * triplestore provided, expressed as incremental streaming state
  * (SURVEY §0.5). The FSM mirrors the reference's attach-on-start /
  * cleanup-on-die container lifecycle (muswarmlogger/loggers.py).
  *
  * Scale notes: all stateful ops are keyed by (window, type) or user —
  * state is partitioned by key across executors; watermarks bound state
  * size (without them tumbling/session state grows unboundedly at
  * 100 TB/day); dropDuplicatesWithinWatermark keeps only the in-horizon
  * id set rather than all-time ids.
  */
object StreamingOps {

  /** Events per (event_type, 1 h tumbling window). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Error rate per 1 h window sliding every 15 min. */
  def slidingErrorRate(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .select(col("window.start").as("w_start"), col("n_total"),
        col("n_errors"),
        round(col("n_errors") / col("n_total"), 4).as("error_rate"))

  /** Per-user sessions closed by an inactivity gap of
    * [[graft.Tables.SessionGap]], the batch rule's gap. */
  def sessionize(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"),
        s"${graft.Tables.SessionGap.toMinutes} minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"),
        col("n_events"), col("session_value"))

  /** Windowed count with a 10 min watermark — late rows beyond the
    * watermark are dropped from closed windows (asserted in tests). */
  def watermarkedCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** At-least-once → effectively-once by event_id within the watermark
    * horizon (the reference's reconnect redelivery, main.py ≈L55). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming twin of the batch q_events_dedup_window row:
    * FIRST event per (user, type, 10-min tumbling window), emitted
    * when the watermark closes the window. `min_by` on the
    * (ts, event_id) struct is the same total tie-break as the batch
    * row_number, so closed-window output is row-identical to the
    * batch formula over the same data — StreamingSpec pins the
    * parity. State is one (key, window) row per group, watermark-
    * bounded, keyed exactly as the batch shuffle partitions.
    *
    * Parity granularity caveat (round 8, advisor): this tie-break
    * orders on the µs-truncated `ts` while the batch row orders on
    * full-precision `ts_ns` — the claim of row-identical output
    * assumes a µs-granular fixture (what Tables.events documents and
    * FixtureSpec checks); a true sub-µs TIMESTAMP(NANOS) feed with
    * ties INSIDE one microsecond could pick a different "first".
    * Schema note: `w_start` here is the window-start TIMESTAMP
    * (Structured Streaming's native window struct), whereas the batch
    * twin's w_start is an integer bucket index — an intentional
    * difference (StreamingSpec's parity compare excludes w_start). */
  def dedupWindowFirst(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"),
        col("event_type"))
      .agg(min_by(struct(col("event_id"), col("ts")),
        struct(col("ts"), col("event_id"))).as("first"))
      .select(col("first.event_id").as("event_id"), col("user_id"),
        col("event_type"), col("window.start").as("w_start"))

  /** Streaming twin of the batch q_dq_freshness audit's core signal:
    * per event_type, the latest event time and running
    * count — ONE tiny state row per type (max/count are mergeable
    * partial aggregates, so state never grows with the stream).
    * The batch row answers "how stale was each feed in this corpus";
    * this one maintains the same census continuously, and the
    * staleness subtraction (watermark − last_ts) happens in the sink
    * against the trigger's clock — a stream can't know "now" in-plan.
    * StreamingSpec pins parity with the batch max/count over the same
    * rows and that a later batch advances the census. */
  def freshnessMonitor(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))

  /** Stream enriched with a static dimension on `user_id` (left join,
    * so an event without a dim row keeps null dim columns) — the
    * reference's per-event container metadata lookup. The dim is
    * broadcast at plan time, so it must be a small static
    * (control-plane) table, not one that grows with the data. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Streaming twin of the batch curation pipeline (round 3,
    * `LlmOps.curationPipeline`): content-hash dedup WITHIN the watermark
    * horizon → per-row quality gate (≥5 tokens, type-token ratio ≥ 0.5)
    * — documents curate incrementally as they arrive instead of in a
    * nightly batch. State is the in-horizon digest set only (bounded by
    * the watermark); the quality gate is stateless per-row arithmetic
    * AFTER dedup so rejected dups never pay scoring. Expects columns
    * (doc_id, ts, text, lang). */
  def curateStream(docs: DataFrame): DataFrame =
    docs.withColumn("h", sha2(lower(trim(col("text"))), 256))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tok", size(col("tk")))
      .withColumn("ttr", round(
        size(array_distinct(col("tk"))) / col("n_tok").cast("double"), 4))
      .filter(col("n_tok") >= 5 && col("ttr") >= 0.5)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("ttr"))

  /** Streaming hour-of-day census (round 8, J66-s): the streaming twin
    * of q_events_hour_profile's core — a stateless event-time groupBy
    * whose Complete-mode table converges to the batch census under ANY
    * arrival order, because counting is commutative. That is the
    * strongest parity class a streaming twin can claim (contrast
    * dedupWindowFirst/ewmaStream, whose parity needs in-order feeds —
    * documented there); the spec feeds two shuffled micro-batches and
    * pins exact equality with the recomputed batch census. State is
    * 24 cells, constant at any corpus size. Expects a `ts` column. */
  def hourProfileStream(events: DataFrame): DataFrame =
    events
      .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("n"))

  /** Stream-stream inner join: purchases matched to signups of the same
    * user within 1 h before the purchase. Both sides watermarked so
    * Spark can bound the join state buffers (unbounded otherwise — the
    * 100 TB failure mode); the time-range condition lets late state be
    * evicted once the watermark passes. */
  def streamStreamJoin(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    p.join(s, col("user_id") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("p_id"), col("s_id"))
  }

  /** Stream-stream LEFT OUTER join: like [[streamStreamJoin]]
    * but purchases with no signup in the 1 h window survive — their row
    * is emitted with a NULL s_id only once BOTH watermarks pass the
    * window bound, when the engine can prove no future match can
    * arrive. Same watermark-bounded state eviction as the inner form;
    * the outer row's emission latency is exactly the watermark delay —
    * the correctness/latency trade every streaming attribution
    * pipeline tunes. */
  def streamStreamJoinOuter(purchases: DataFrame,
      signups: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    p.join(s, col("user_id") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"), "left_outer")
      .select(col("user_id"), col("p_id"), col("s_id"))
  }

  /** Streaming last-touch attribution: the incremental
    * twin of the batch q_attr_last_touch — state per user is O(1) (just
    * the most recent non-purchase touch), each purchase emits its
    * attribution immediately instead of waiting for a batch rebuild.
    * The 7-day lookback expires state via event-time timeout, so cold
    * users cost nothing. Within a micro-batch, events are processed in
    * (ts, event_id) order — identical semantics to the batch LOCF
    * window.
    *
    * Caveat vs batch (documented, inherent to streaming): ordering
    * holds within a batch; a cross-batch out-of-order touch older than
    * an already-processed purchase cannot retroactively re-attribute
    * it — the watermark bounds that reordering window exactly as it
    * does for every streaming aggregate. */
  /** Streaming integer EWMA: the incremental twin of the
    * batch q_ts_ewma row — per user, the SAME `(acc + x) div 2`
    * BIGINT fold over centi values in event-time order, held as O(1)
    * state (acc, n, last) and snapshotted every micro-batch (Update
    * mode; the test takes each user's final snapshot). Parity
    * contract: identical to the batch row whenever events ARRIVE in
    * event-time order across micro-batches (within a batch the fn
    * sorts by (ts, event_id) itself) — the same in-order-feed
    * assumption the dedupWindowFirst parity documents; out-of-order
    * arrival ACROSS batches folds in arrival order (the streaming
    * semantics an EWMA consumer actually gets).
    *
    * No watermark/timeout: EWMA state is a live per-key aggregate a
    * monitoring consumer reads forever (three longs per user —
    * key-count-bounded, not time-bounded; the lifecycle FSM shows the
    * timeout pattern when expiry IS wanted). */
  def ewmaStream(events: Dataset[Ev]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[EwmaSt]): EwmaOut = {
      val st = EwmaSt.fold(state.getOption, evs)
      state.update(st)
      EwmaOut(userId, st.n, st.last, st.acc)
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  /** The SAME integer EWMA as [[ewmaStream]], re-expressed on the
    * Spark 4.x `transformWithState` / `StatefulProcessor` API
    * (ValueState handle; requires the RocksDB state-store provider —
    * the caller sets `spark.sql.streaming.stateStore.providerClass`,
    * as StreamingSpec does): the MIGRATION row proving the engine's
    * arbitrary-state operators port to the new API unchanged.
    * StreamingSpec pins it bit-identical to both the
    * mapGroupsWithState form and the batch q_ts_ewma fold. At scale
    * the new API is the better home for this state: RocksDB-backed
    * handles spill beyond executor heap and support per-state TTL
    * (TTLConfig), which the GroupState API cannot express. */
  def ewmaStreamV2(events: Dataset[Ev]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** StatefulProcessor twin of [[ewmaStream]] — one ValueState per
    * user, folded by the same [[EwmaSt.fold]]. */
  private class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, EwmaOut] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[EwmaSt] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[EwmaSt]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EwmaOut] = {
      val s = EwmaSt.fold(Option(st.get()), rows)
      st.update(s)
      Iterator.single(EwmaOut(key, s.n, s.last, s.acc))
    }
  }

  /** Per-state TTL on the transformWithState API (s_state_ttl, round
    * 13 — the surface [[ewmaStreamV2]]'s scaladoc promised but nothing
    * exercised): a per-user (count, cents) fold whose ValueState is
    * declared with `TTLConfig(ttl)` under `TimeMode.ProcessingTime` —
    * state untouched for longer than `ttl` reads back as ABSENT on the
    * next batch and the fold restarts. This is the 100 TB streaming
    * state store's actual operating mode: an unbounded-key stream
    * (user ids churn forever) with NONE-TTL state grows without bound
    * until the job dies of disk; TTL'd state is how a production store
    * stays at (active keys) instead of (all keys ever). The GroupState
    * API can only fake this with per-key timers + manual delete — one
    * timer per key, a second state column, and the expiry work runs on
    * the executors; TTLConfig pushes expiry into the RocksDB store
    * itself (compaction-time drop, no timers).
    *
    * The `resumed` flag makes expiry OBSERVABLE output: true whenever
    * the batch found no live state for the key (first sight or
    * post-expiry). StreamingSpec pins both directions with the SAME
    * feed and two TTLs: a 1 s TTL + a >TTL pause → second batch
    * resumes at n=1; a 1 h TTL twin → the fold continues at n=3.
    * Driving note: under TimeMode.ProcessingTime the engine schedules
    * no-data batches to evaluate expiry, so `processAllAvailable` on a
    * continuous query never settles — drive bounded runs
    * (Trigger.AvailableNow off a checkpoint), as the spec does. */
  def ttlCountStream(events: Dataset[Ev], ttl: java.time.Duration)
      : Dataset[TtlOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** StatefulProcessor holding ONE TTL'd ValueState per user. */
  private class TtlCountProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, TtlOut] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[TtlSt] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TtlSt]("ttlcnt",
        org.apache.spark.sql.Encoders.product[TtlSt],
        org.apache.spark.sql.streaming.TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TtlOut] = {
      val prev = Option(st.get()) // null ⇔ never seen OR TTL-expired
      var s = prev.getOrElse(TtlSt(0L, 0L))
      rows.foreach { e =>
        s = TtlSt(s.n + 1, s.cents + math.floor(e.value * 100 + 0.5).toLong)
      }
      st.update(s) // re-arms the TTL clock from this batch
      Iterator.single(TtlOut(key, s.n, s.cents, prev.isEmpty))
    }
  }

  /** Registered processing-time TIMERS on the transformWithState API
    * (s_timer_session_close, round 14 — VERDICT r13 #5's sanctioned
    * widening): the v2 twin of [[lifecycleFsm]]'s timeout arm. The
    * GroupState API expresses "close the session when the key goes
    * quiet" as `GroupStateTimeout` + `state.hasTimedOut` — one implicit
    * timeout per key, re-armed wholesale. The v2 surface is explicit:
    * `getHandle.registerTimer(deadline)` arms, `deleteTimer` cancels,
    * and the engine calls `handleExpiredTimer(key, …)` WITHOUT any
    * input row for the key — the session-close path a 100 TB deployment
    * actually runs, where most closes happen on idle keys no batch
    * carries data for. Activity re-arms (delete + register, the armed
    * deadline rides the state so each batch cancels exactly its
    * predecessor's timer); an `error` event closes inline, FSM-style;
    * a stale firing (deadline ≠ the armed one) is dropped by the
    * equality guard rather than double-closing.
    *
    * TTLConfig ([[ttlCountStream]]) is store-side FORGETTING — expiry
    * observable only at the next read of the key; timers are engine-
    * side ACTION — expiry produces output rows with no input. A real
    * session store wants both: TTL bounds the state, timers emit the
    * closes. Same driving note as the TTL row: under
    * `TimeMode.ProcessingTime` drive bounded runs with
    * `noDataMicroBatches.enabled=false` — the timer then fires inside
    * the next data-carrying micro-batch past its deadline. */
  def sessionTimerStream(events: Dataset[Ev], idleMs: Long)
      : Dataset[SessTimerOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(idleMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** StatefulProcessor holding one session fold + one armed timer per
    * user; closes come from [[handleExpiredTimer]] (idle) or an inline
    * `error` event. */
  private class SessionTimerProcessor(idleMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessTimerOut] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[SessTimerSt] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessTimerSt]("sess",
        org.apache.spark.sql.Encoders.product[SessTimerSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessTimerOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = Option(st.get())
        .getOrElse(SessTimerSt(0L, Long.MaxValue, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer[SessTimerOut]()
      sorted.foreach { e =>
        cur = SessTimerSt(cur.n + 1,
          math.min(cur.firstMs, e.ts.getTime),
          math.max(cur.lastMs, e.ts.getTime), cur.armedMs)
        if (e.event_type == "error") {
          out += SessTimerOut(key, cur.n, cur.firstMs, cur.lastMs,
            "error")
          if (cur.armedMs > 0L) getHandle.deleteTimer(cur.armedMs)
          cur = SessTimerSt(0L, Long.MaxValue, 0L, 0L)
        }
      }
      if (cur.n > 0L) {
        // cancel the predecessor batch's deadline, arm this one's —
        // activity postpones the close (and cancelling a timer that
        // would expire THIS batch suppresses its firing: the input
        // pass runs before the expiry pass).
        if (cur.armedMs > 0L) getHandle.deleteTimer(cur.armedMs)
        val deadline = timerValues.getCurrentProcessingTimeInMs() + idleMs
        getHandle.registerTimer(deadline)
        cur = cur.copy(armedMs = deadline)
        st.update(cur)
        out += SessTimerOut(key, cur.n, cur.firstMs, cur.lastMs, "open")
      } else st.clear() // error ended the batch: nothing left to time out
      out.iterator
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessTimerOut] = {
      val cur = Option(st.get()).orNull
      if (cur == null ||
          cur.armedMs != expiredTimerInfo.getExpiryTimeInMs()) {
        Iterator.empty // stale firing: the session re-armed or closed
      } else {
        st.clear()
        Iterator.single(SessTimerOut(key, cur.n, cur.firstMs,
          cur.lastMs, "timeout"))
      }
    }
  }

  /** Streaming Holt–Winters: the incremental twin of the
    * batch q_ts_holt_winters fold — ONE global key holding
    * (level, trend, s[7], n) as O(1) state, the SAME integer halvings
    * with weekday-keyed slots, snapshotted every micro-batch (Update
    * mode). Parity contract: bit-identical to the batch fold whenever
    * day-census rows arrive in day order across micro-batches (within
    * a batch the fn sorts by day itself) — the ewmaStream contract,
    * one level up the smoothing family. At scale the upstream is the
    * windowed daily count aggregate; this operator is the O(1)
    * forecast head on top of it. */
  def holtWintersStream(days: Dataset[HwDay]): Dataset[HwOut] = {
    import days.sparkSession.implicits._
    def fn(key: Long, rows: Iterator[HwDay],
        state: GroupState[HwSt]): HwOut = {
      val sorted = rows.toSeq.sortBy(_.d)
      var st = state.getOption.getOrElse(
        HwSt(0L, 0L, Seq.fill(7)(0L), 0L))
      sorted.foreach { p =>
        if (st.n == 0L) st = HwSt(p.x, 0L, st.s, 1L)
        else {
          val slot = (p.d % 7).toInt
          val sv = st.s(slot)
          val l2 = ((p.x - sv) + st.l + st.b) / 2
          val b2 = (st.b + (l2 - st.l)) / 2
          st = HwSt(l2, b2,
            st.s.updated(slot, (sv + (p.x - l2)) / 2), st.n + 1)
        }
      }
      state.update(st)
      HwOut(st.n, st.l, st.b, st.s(0), st.s(1), st.s(2), st.s(3),
        st.s(4), st.s(5), st.s(6))
    }
    days.groupByKey(_ => 0L)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming bot-regularity screen: the incremental twin
    * of batch q_events_bot_screen — per user, O(1) state
    * (gap count, Σg, Σg², last ts) maintained across micro-batches,
    * the same cross-multiplied cv² and authored verdict cuts,
    * snapshotted in Update mode. Gaps are whole SECONDS of the ns
    * timestamps (the batch row's grid). Parity contract: identical to
    * the batch row on an in-order feed (within a batch the fn sorts
    * by (ts, event_id) itself — the ewmaStream contract). The
    * abuse-monitoring deployment shape: millions of actors, four
    * longs each, no timeline retained. */
  def botScreenStream(events: Dataset[Ev]): Dataset[BotOut] = {
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[BotSt]): BotOut = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.getOrElse(BotSt(0L, 0L, 0L, Long.MinValue))
      sorted.foreach { e =>
        val ns = e.ts.getTime * 1000000L
        if (st.lastNs != Long.MinValue) {
          val g = (ns - st.lastNs) / 1000000000L
          st = BotSt(st.nGaps + 1, st.s + g, st.ss + g * g, ns)
        } else st = st.copy(lastNs = ns)
      }
      state.update(st)
      val (n, s, ss) = (st.nGaps, st.s, st.ss)
      val cv2 = if (n == 0 || s == 0) 0L
        else ((BigInt(n) * ss - BigInt(s) * s) * 10000 /
          (BigInt(s) * s)).toLong
      val verdict = if (cv2 < 2500L) "regular"
        else if (cv2 < 20000L) "typical" else "bursty"
      BotOut(userId, n, if (n == 0) 0L else s * 100 / n, cv2, verdict)
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  def attributionStream(events: Dataset[Ev]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val lookbackMs = 7L * 24 * 3600 * 1000
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[LastTouch]): Iterator[Attribution] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption
        val out = scala.collection.mutable.ArrayBuffer[Attribution]()
        sorted.foreach { e =>
          if (e.event_type == "purchase") {
            val ch = cur match {
              case Some(t) if t.tsMs >= e.ts.getTime - lookbackMs =>
                t.eventType
              case _ => "none"
            }
            out += Attribution(userId, e.event_id, ch)
          } else cur = Some(LastTouch(e.event_type, e.ts.getTime))
        }
        cur match {
          case Some(t) =>
            state.update(t)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                t.tsMs + lookbackMs))
          case None => if (state.exists) state.remove()
        }
        out.iterator
      }
    }
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming funnel FSM: the incremental twin of
    * q_funnel_stages — per-user state is the highest stage reached
    * (O(1): a stage number + two timestamps), and a FunnelConversion
    * row is emitted the moment the signup → purchase → error sequence
    * completes, instead of waiting for a batch recompute. State for
    * users who never progress expires via event-time timeout (24 h
    * past their last stage advance), so the state store holds only
    * in-flight funnels — the property that keeps a funnel over an
    * unbounded stream bounded. */
  def funnelStream(events: Dataset[Ev]): Dataset[FunnelConversion] = {
    import events.sparkSession.implicits._
    val ttlMs = 24L * 3600 * 1000
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[FunnelState]): Iterator[FunnelConversion] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer[FunnelConversion]()
        sorted.foreach { e =>
          // stage advances require a STRICTLY greater timestamp — the
          // batch twin (q_funnel_stages) takes min(purchase ts > signup
          // ts), so an equal-ts signup/purchase pair must NOT convert
          // here either (round-5 ADVICE fix; previously equal-ts events
          // advanced in event_id order and the two results diverged).
          // Residual precision caveat: batch compares microseconds,
          // this FSM compares Timestamp.getTime milliseconds — events
          // distinct at µs but tied at ms still differ between the two.
          (cur.stage, e.event_type) match {
            case (0, "signup") =>
              cur = FunnelState(1, e.ts.getTime, e.ts.getTime)
            case (1, "purchase") if e.ts.getTime > cur.stageTsMs =>
              cur = FunnelState(2, e.ts.getTime, cur.signupTsMs)
            case (2, "error") if e.ts.getTime > cur.stageTsMs =>
              out += FunnelConversion(userId, cur.signupTsMs,
                cur.stageTsMs, e.ts.getTime)
              cur = FunnelState(0, 0L, 0L) // restart the funnel
            case _ => // event doesn't advance the funnel
          }
        }
        if (cur.stage > 0) {
          state.update(cur)
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs() + 1,
              cur.stageTsMs + ttlMs))
        } else state.remove()
        out.iterator
      }
    }
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Per-user lifecycle FSM (attach-on-signup, emit-on-error/timeout):
    * flatMapGroupsWithState with event-time timeout. Emits a
    * SessionSummary when an `error` event arrives or the user goes quiet
    * past the watermark (the container-die analog). */
  def lifecycleFsm(events: Dataset[Ev]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[FsmState]): Iterator[SessionSummary] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionSummary(userId, s.nEvents,
          new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs),
          "timeout"))
      } else {
        val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption.getOrElse(FsmState(0, Long.MaxValue, 0L))
        val out = scala.collection.mutable.ArrayBuffer[SessionSummary]()
        sorted.foreach { e =>
          cur = FsmState(cur.nEvents + 1,
            math.min(cur.firstTs, e.ts.getTime),
            math.max(cur.lastTs, e.ts.getTime))
          if (e.event_type == "error") {
            out += SessionSummary(userId, cur.nEvents,
              new java.sql.Timestamp(cur.firstTs),
              new java.sql.Timestamp(cur.lastTs), "error")
            cur = FsmState(0, Long.MaxValue, 0L)
          }
        }
        if (cur.nEvents > 0) {
          state.update(cur)
          // Clamp to strictly after the current watermark: a group whose
          // events are already older than watermark - 30min would get a
          // below-watermark timeout, which Spark rejects by failing the
          // whole query — such a group must still time out (at the next
          // watermark tick), not crash the stream.
          state.setTimeoutTimestamp(
            math.max(state.getCurrentWatermarkMs() + 1,
              cur.lastTs + 30 * 60 * 1000))
        } else state.remove()
        out.iterator
      }
    }
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming SCD-2: the incremental twin of the batch
    * `Reshape.scd2Merge` — per-user state tracks the OPEN dimension row
    * (current attribute value + its valid_from + version); when an
    * event changes the value, the closed version row is EMITTED with
    * its final [valid_from, valid_to] interval and the open row
    * advances. Emitted rows are immutable history (append mode); the
    * open row lives only in state, exactly one per key — the streaming
    * CDC→warehouse merge. State is O(1) per user regardless of stream
    * length. Out-of-order events within a micro-batch are sorted by
    * (ts, event_id) before folding, mirroring the batch window order. */
  def scd2Stream(events: Dataset[Ev]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[Scd2Open]): Iterator[Scd2Closed] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer[Scd2Closed]()
      var cur = state.getOption.orNull
      sorted.foreach { e =>
        val tsUs = e.ts.getTime * 1000
        if (cur == null) {
          cur = Scd2Open(e.event_type, tsUs, 1)
        } else if (cur.state != e.event_type) {
          out += Scd2Closed(userId, cur.version, cur.state,
            cur.validFromUs, tsUs - 1)
          cur = Scd2Open(e.event_type, tsUs, cur.version + 1)
        }
      }
      if (cur != null) state.update(cur)
      out.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming heavy hitters: the Misra-Gries `FreqSketch.agg`
    * TypedImperativeAggregate running as STREAMING state — per-group
    * token frequencies in O(k) memory per key regardless of stream
    * length. Complete output mode: the state store holds one serialized
    * sketch per group, each micro-batch merges new partial sketches into
    * it (the same mergeable-summaries merge rule the batch row
    * q_llm_heavy_hitters exercises). The exploded output is the sketch's
    * guaranteed-membership report; StreamingSpec checks the MG bounds
    * against exact counts accumulated across batches. Expects columns
    * (lang, tok). */
  def streamHeavyHitters(docs: DataFrame, k: Int): DataFrame = {
    docs.groupBy(col("lang"))
      .agg(FreqSketch.agg(col("tok"), k).as("mg"))
      .select(col("lang"), explode(col("mg")).as(Seq("tok", "est")))
  }
}
