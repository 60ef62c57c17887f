package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-J4 — time-series operators over the `events` stream
  * table: grid resampling with gap-fill, and robust (median/MAD)
  * anomaly detection.
  *
  * Reference analog: the logger's per-container log-line timestamps
  * (muswarmlogger/loggers.py `save_container_logs` ≈L120 [C-med]) form
  * exactly this kind of irregular per-key time series; the triplestore
  * consumers chart them on regular grids.
  *
  * Scale notes (100 TB):
  * - The day grid is generated per key from that key's own [min, max]
  *   span (`sequence(d0, d1)` — a generator, no driver loop, no global
  *   calendar table), so grid size is O(active key-days), not
  *   O(keys × full history).
  * - Gap-fill (LOCF) is one window pass per key ordered by day — the
  *   same single-shuffle shape as the sessionize operator.
  * - Median/MAD is two partial-aggregable passes over the fact table
  *   with only tiny per-group stat frames joined back (broadcast) —
  *   never a per-row sort of the whole table. MAD over stddev is the
  *   standard robustness choice: one corrupt batch of outliers moves a
  *   3σ gate, but not the median of absolute deviations.
  */
object TimeSeries {

  /** Parity rounding — same arithmetic as LlmOps.r4 (Spark's round()
    * HALF_UPs the decimal repr; DuckDB rounds the binary value —
    * floor(x·1e4 + 0.5) is IEEE-identical on both). */
  private def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Resample each user's event stream onto a daily grid spanning that
    * user's own activity window; gap days carry n_ev = 0 and a
    * last-observation-carried-forward copy of the daily value. */
  def resample(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_ev"), r4(sum(col("value"))).as("day_val"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled",
        last(col("day_val"), ignoreNulls = true)
          .over(Window.partitionBy(col("user_id")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_ev"), lit(0L)).as("n_ev"),
        col("day_val").isNull.as("is_gap"),
        col("filled"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Linear interpolation on the resampled grid: gap days get
    * the straight line between the previous and next OBSERVED day's
    * value instead of LOCF — the estimator charting/forecasting
    * consumers actually want. Same single-shuffle shape as resample:
    * two window passes per key (backward-looking last + forward-looking
    * first, both ignoreNulls), then a per-row lerp. The grid spans each
    * key's own [min, max] activity window, so the first and last grid
    * day are always observed — prev/next never fall off the edge.
    * Determinism: the lerp is one fixed-order double expression (no
    * float aggregation), identical left-to-right in the oracle. */
  def interpLinear(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_ev"), r4(sum(col("value"))).as("day_val"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val byKey = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val back = byKey.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = byKey.rowsBetween(1, Window.unboundedFollowing)
    val obsDay = when(col("day_val").isNotNull, col("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("day_val"), ignoreNulls = true).over(back))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("day_val"), ignoreNulls = true).over(fwd))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
      .withColumn("interp", when(col("day_val").isNotNull, col("day_val"))
        .otherwise(r4(col("pv") + (col("nv") - col("pv")) *
          (datediff(col("day"), col("pd")).cast("double") /
            datediff(col("nd"), col("pd")).cast("double")))))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_ev"), lit(0L)).as("n_ev"),
        col("day_val").isNull.as("is_gap"),
        col("interp"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Robust outliers: per event_type median + MAD (median absolute
    * deviation), flag rows whose |value − median| / MAD exceeds 3.5.
    * Zero-MAD groups (constant-valued) are excluded — no division by
    * zero, mirrored in the oracle. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(median(col("value")).as("med"))
    val stats = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"),
        median(abs(col("value") - col("med"))).as("mad"))
      .filter(col("mad") > 0)
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("score", r4(abs(col("value") - col("med")) / col("mad")))
      .filter(col("score") > 3.5)
      .select(col("event_id"), col("event_type"),
        r4(col("value")).as("value"), col("score"))
      .orderBy(col("event_id"))
  }

  /** Rolling median: per-user sliding 4-row median of
    * `value` — the robust smoother for spiky telemetry (a single
    * outlier shifts a rolling MEAN but not the median). One shuffle on
    * user_id, then a bounded 4-row frame per row; frame order is
    * (ts_ns, event_id) — the exact nanosecond long, because ordering
    * by the µs-truncated timestamp could disagree with DuckDB's
    * ns-precision sort where events differ only sub-µs.
    *
    * Spark's `median` aggregate rejects window frames
    * (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame median is
    * computed explicitly: sorted collect_list over the ≤4-row frame,
    * then the standard odd/even middle interpolation — O(frame·log
    * frame) per row on a constant frame, same linear-interpolation
    * contract as DuckDB's median(). */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    events(spark, dir)
      .withColumn("fr", sort_array(collect_list(col("value")).over(w)))
      .withColumn("roll_med", r4(expr(
        """CASE WHEN size(fr) % 2 = 1
          |  THEN element_at(fr, CAST((size(fr) + 1) div 2 AS INT))
          |  ELSE (element_at(fr, CAST(size(fr) div 2 AS INT))
          |        + element_at(fr, CAST(size(fr) div 2 + 1 AS INT))) / 2.0
          |END""".stripMargin)))
      .select(col("event_id"), col("user_id"), col("roll_med"))
      .orderBy(col("event_id"))
  }

  /** Per-user trend slope: least-squares regression of
    * value over time — the `regr_slope` family computed with EXACT
    * integer sums. Float regr_slope would hash-mismatch (Σxy over
    * doubles depends on aggregation order); here x = whole hours since
    * the user's first event (window min — x stays small so every
    * moment sum fits BIGINT: x ≤ ~10³, y ≤ ~10⁵ centi-units, n ≤ 10² ⇒
    * numerator·10⁶ ≤ ~10¹⁸), y = value in centi-units, and
    * slope = (n·Σxy − Σx·Σy)·10⁶ div (n·Σxx − Σx²) is pure BIGINT.
    * At larger per-key spans the same query coarsens the x unit (days)
    * — a constant swap, not a redesign.
    *
    * Scale shape: one user_id window (min) + one partial-aggregable
    * groupBy on the same key — single fact shuffle. */
  def regrSlope(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    events(spark, dir)
      // hours from the µs epoch (not ns): DuckDB materializes ts at µs
      // precision, so the ns→hour division must round-trip through µs
      // on BOTH engines to bucket identically
      .withColumn("ts_h", epochHour)
      .withColumn("x", col("ts_h") - min(col("ts_h")).over(byUser))
      .withColumn("y", cents("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_e6", expr(
        """CASE WHEN n * sxx - sx * sx <> 0
          |THEN ((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)
          |ELSE 0 END""".stripMargin))
      .select(col("user_id"), col("n"), col("sy"), col("slope_e6"))
      .orderBy(col("user_id"))
  }

  /** Integer EWMA: per-user exponentially weighted moving
    * average with α = 1/2 over centi-unit values — every step is
    * `(acc + x) div 2` BIGINT arithmetic on the event-time-ordered
    * sequence (first element seeds the fold, matching DuckDB's
    * `list_reduce` init-less fold exactly), so the result is
    * bit-reproducible in both engines and independent of partitioning.
    * Float EWMA (pow-decay closed form) would be aggregation-order- and
    * libm-dependent — the same reason regrSlope uses integer moments.
    *
    * Ordering keys on raw ts_ns (never the µs truncation): the oracle
    * sorts by its TIMESTAMP_NS column, and a µs-level tie with
    * different nanos would silently diverge the fold order.
    *
    * Domain constraint: centi values must be NON-NEGATIVE for oracle
    * parity — Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, so a negative odd `acc + x` would differ by 1. events
    * .value ∈ [0.03, 327.53] satisfies this; a signed-value variant
    * would use `(acc + x - ((acc + x) % 2 + 2) % 2) / 2` (explicit
    * floor) on the Spark side instead. Spark-vs-Scala fold equality
    * (negatives included) is ScalaCheck-verified in GraftProps.
    *
    * Scale shape: ONE user_id groupBy; the fold is map-side arithmetic
    * on each user's collected sequence (bounded by per-user event
    * count — the per-key-sequence family contract shared with
    * q_seq_pattern, which documents the same bound). */
  def ewma(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // floor(x+0.5), not round(): the engines' round() half-rules
      // differ; floor(+0.5) is the same IEEE op in both (regrSlope's
      // established centi-unit idiom)
      .withColumn("centi",
        cents("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("array_sort(collect_list(struct(ts_ns, event_id, centi)))")
          .as("ord"))
      .withColumn("vals", expr("transform(ord, r -> r.centi)"))
      .select(col("user_id"), col("n_events"),
        expr("element_at(vals, -1)").as("last_centi"),
        expr("""aggregate(slice(vals, 2, size(vals) - 1),
          element_at(vals, 1), (acc, x) -> (acc + x) div 2)""")
          .as("ewma_centi"))
      .orderBy(col("user_id"))

  /** Holt linear-trend smoothing: per-user double exponential
    * smoothing with α = β = 1/2 in centi-unit BIGINTs —
    * level' = ⌊(x + level + trend)/2⌋, trend' = ⌊(trend + Δlevel)/2⌋ —
    * plus the one-step forecast level+trend. EWMA's integer-fold
    * discipline extended to coupled (level, trend) state; the trend CAN
    * go negative, and both halvings TRUNCATE toward zero — measured on
    * this DuckDB build, `//` truncates on negatives (−5//2 = −2),
    * exactly like Spark's `div`, so the plain operators agree on the
    * full signed domain (ewma's "DuckDB floors" caveat is stale — it
    * never mattered there because its domain is nonnegative).
    *
    * Scale shape: identical to ewma — ONE user_id groupBy, ordered
    * collect bounded by per-user event count, map-side `aggregate`
    * fold. */
  def holt(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("centi",
        cents("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        expr("array_sort(collect_list(struct(ts_ns, event_id, centi)))")
          .as("ord"))
      .withColumn("vals", expr("transform(ord, r -> r.centi)"))
      .withColumn("st", expr(
        """aggregate(slice(vals, 2, size(vals) - 1),
          |  named_struct('l', element_at(vals, 1),
          |               'b', CAST(0 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    'l', (x + acc.l + acc.b) div 2,
          |    'b', (acc.b + ((x + acc.l + acc.b) div 2 - acc.l))
          |         div 2))""".stripMargin))
      .select(col("user_id"), col("n"),
        col("st.l").as("level_c"), col("st.b").as("trend_c"),
        (col("st.l") + col("st.b")).as("forecast_c"))
      .orderBy(col("user_id"))

  /** CUSUM changepoint: per user, the index that maximizes the
    * |cumulative deviation from the mean| — the classic offline
    * single-changepoint estimator. The mean never materializes as a
    * float: CUSUM_i = S_i − i·S_n/n is scaled by n to
    * stat_i = |n·S_i − i·S_n|, pure BIGINT on micro-unit values
    * (n ≤ ~10², S ≤ ~10² · 3.3e8 µunits ⇒ n·S ≤ ~10¹² — no overflow).
    * Argmax tiebreak: earliest index.
    *
    * Ordering keys on raw ts_ns (ewma's rule): a µs-level tie would
    * silently diverge the prefix sums.
    *
    * Scale shape: everything is user_id-partitioned windows — one
    * shuffle of the fact table, no global order, no driver loop. A
    * multi-changepoint variant would recurse on the two halves
    * (binary segmentation), each level the same single-shuffle shape. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    events(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("v", expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("i", row_number().over(
        byUser.orderBy(col("ts_ns"), col("event_id"))).cast("long"))
      .withColumn("s_i", sum(col("v")).over(byUser.orderBy(col("i"))))
      .withColumn("s_n", sum(col("v")).over(byUser))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("stat",
        abs(col("n") * col("s_i") - col("i") * col("s_n")))
      .withColumn("rn", row_number().over(
        byUser.orderBy(col("stat").desc, col("i"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n"), col("i").as("cp_idx"),
        col("stat").as("cp_stat"))
      .orderBy(col("user_id"))
  }

  /** Seasonal profile + deseasonalized anomalies: per
    * (event_type, hour-of-day) mean value — the 24-slot seasonal
    * baseline an ops dashboard overlays — and the top-20 events by
    * absolute deviation FROM THEIR OWN SLOT's mean (an event that is
    * normal at peak hour is anomalous at 4am; the global-mean z-score
    * q_ts_anomaly_mad complements, this row seasonal-adjusts).
    * Values in micro-units (floor(v·10⁶ + 0.5), the engine-identical
    * rounding), slot means by truncating integer div — hash-exact.
    *
    * Scale shape: the profile is ONE partial-aggregable groupBy over
    * (type, hour) — 24·|types| cells; the deviation pass re-joins the
    * broadcast profile map-side; top-20 via TakeOrderedAndProject. */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("hr", hour(col("ts")))
      .withColumn("v_e6",
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
    val prof = e.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("v_e6")).as("s"))
      .select(col("event_type"), col("hr"), col("n"),
        expr("s div n").as("mean_e6"))
    e.join(broadcast(prof), Seq("event_type", "hr"))
      .withColumn("dev_e6", abs(col("v_e6") - col("mean_e6")))
      .select(col("event_id"), col("event_type"), col("hr"),
        col("v_e6"), col("mean_e6"), col("dev_e6"))
      .orderBy(col("dev_e6").desc, col("event_id"))
      .limit(20)
  }

  /** The daily event-count series: one row per epoch day (column `day`,
    * default `d`) with its event count `x`. One partial-aggregable
    * groupBy, so the series is span-sized (~90 rows on the fixture)
    * whatever the corpus size; every global-series row below folds
    * over it. */
  private def dailyCounts(spark: SparkSession, dir: String,
      day: String = "d"): DataFrame =
    events(spark, dir)
      .withColumn(day, epochDay)
      .groupBy(col(day)).agg(count(lit(1)).as("x"))

  /** The per-user lag-1..3 moments of the centi value series x, which
    * the acf, ljung_box and pacf rows fold, so the three cannot
    * disagree about what r_k is: n, den = Σc², num_k = Σ c·c_{+k} with
    * c = x − mean_x. x = floor(value·100+0.5) is non-negative, so the
    * integer mean (sum div n) agrees with DuckDB's flooring //; the
    * centered products sum as BIGINT. Shape: one window pass per user
    * ordered by (ts_ns, event_id) + one partial-aggregable groupBy. */
  private def acfMoments(spark: SparkSession, dir: String): DataFrame = {
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    events(spark, dir)
      .withColumn("x", cents("value"))
      .withColumn("mean_x",
        expr("sum(x) OVER (PARTITION BY user_id)" +
          " div count(1) OVER (PARTITION BY user_id)"))
      .withColumn("c", col("x") - col("mean_x"))
      .withColumn("c1", lead(col("c"), 1).over(ordered))
      .withColumn("c2", lead(col("c"), 2).over(ordered))
      .withColumn("c3", lead(col("c"), 3).over(ordered))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("c") * col("c")).as("den"),
        coalesce(sum(col("c") * col("c1")), lit(0L)).as("num1"),
        coalesce(sum(col("c") * col("c2")), lit(0L)).as("num2"),
        coalesce(sum(col("c") * col("c3")), lit(0L)).as("num3"))
  }

  /** Per-user autocorrelation at lags 1–3: the seasonality/momentum
    * probe of the family — is a user's value series self-similar one,
    * two, three events later? Folds [[acfMoments]]. The ratio is
    * emitted SHIFTED: acf_shift_e4 = (num+den)·10⁴ div (2·den) ∈
    * [0, 10⁴] maps r ∈ [−1, 1] affinely — Cauchy–Schwarz gives
    * |num| ≤ den, so the dividend is non-negative and the
    * truncate-vs-floor divergence between the engines' integer
    * divisions never fires (a raw negative num div would differ by 1).
    * Lag fan-out is a 3-row stack of already-aggregated moments, not a
    * row explosion. */
  def acfLags(spark: SparkSession, dir: String): DataFrame =
    acfMoments(spark, dir)
      .selectExpr("user_id", "n", "den",
        "stack(3, 1, num1, 2, num2, 3, num3) AS (lag, num)")
      .withColumn("acf_shift_e4",
        expr("(num + den) * 10000 div greatest(2 * den, 1)"))
      .select(col("user_id"), col("lag"), col("n"), col("den"),
        col("num"), col("acf_shift_e4"))
      .orderBy(col("user_id"), col("lag"))

  /** M4 downsampling (Jugel et al., VLDB'14): per event_type series,
    * 32 equal-width time buckets ("pixels"), each reduced to min, max,
    * first, last of `value` (cents) plus its row count — the lossless-
    * for-rendering reduction a charting layer runs before shipping
    * points to a browser. First/last are by the TOTAL order
    * (ts_us, event_id) — both engines pick identical endpoints even on
    * timestamp ties.
    *
    * Shape: bucket index from the global [min,max] span (1-row
    * broadcast, the zonemap pattern); first/last via two window
    * row_numbers over the SAME (type,bucket) partitioning — ONE
    * shuffle, Catalyst reuses the exchange — then a partial-aggregable
    * fold. At 100 TB the window pass is per-pixel-bucket bounded and
    * the output is fixed-size (32·|types| rows) regardless of input
    * volume — the defining property of a downsampler. */
  def m4Downsample(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"),
        tsUs.as("ts_us"),
        cents("value").as("cents"))
    val span = ev.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
    val bucketed = ev.crossJoin(broadcast(span))
      .withColumn("bucket", expr("(ts_us - t0) * 32 div (t1 - t0 + 1)"))
    val w = Window.partitionBy(col("event_type"), col("bucket"))
    val ordered = bucketed
      .withColumn("rn_a", row_number().over(
        w.orderBy(col("ts_us").asc, col("event_id").asc)))
      .withColumn("rn_d", row_number().over(
        w.orderBy(col("ts_us").desc, col("event_id").desc)))
    ordered.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("v_min"), max(col("cents")).as("v_max"),
        max(when(col("rn_a") === 1, col("cents"))).as("v_first"),
        max(when(col("rn_d") === 1, col("cents"))).as("v_last"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Time-weighted average (the irregular-series mean): per event_type,
    * each value holds until the NEXT event of that type, so
    * TWA = Σ centsᵢ·Δtᵢ div ΣΔtᵢ with Δt from one lead() — the metric
    * a gauge/sensor series needs where the plain mean over-weights
    * bursts. The final (open-ended) interval is excluded; zero-length
    * intervals (timestamp ties) contribute zero weight on both
    * engines. Overflow: cents ≤ 5·10⁴ and ΣΔt = the type's span
    * (≈10¹³ µs at fixture scale) ⇒ Σcents·Δt ≤ 5·10¹⁷ < 2⁶³.
    *
    * Shape: ONE (type) window shuffle for the lead, then a partial-
    * aggregable fold to |types| rows. */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("event_type"), col("event_id"),
        tsUs.as("ts_us"),
        cents("value").as("cents"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt", col("nxt") - col("ts_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("span_us"),
        sum(col("cents") * col("dt")).as("weighted_sum"))
      .select(col("event_type"), col("n_intervals"), col("span_us"),
        expr("weighted_sum div greatest(span_us, 1)").as("twa_cents"))
      .orderBy(col("event_type"))
  }

  /** Cross-correlation of the purchase and error DAILY series at lags
    * −3..+3: raw Σ x_d·y_{d+lag} cross-products (counts are
    * nonnegative integers — no centering, no division, nothing to
    * floor) plus both marginal sums over the overlap window, so the
    * reader can normalize however they like. "Does the error series
    * lag the purchase series?" — the lead/lag diagnostic the
    * autocorrelation row (q_ts_acf) can't answer because it never
    * crosses series.
    *
    * Shape: two tiny daily-count frames (30 rows each) equi-joined per
    * lag on day+lag — a 7-element lag frame cross-joined broadcast;
    * only the daily rollup touches the corpus (one shuffle). */
  def crossCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def daily(t: String, cnt: String) = events(spark, dir)
      .filter(col("event_type") === t)
      .groupBy(epochDay.as("day"))
      .agg(count(lit(1)).as(cnt))
    val x = daily("purchase", "x").withColumnRenamed("day", "xday")
    val y = daily("error", "y").withColumnRenamed("day", "yday")
    val lags = (-3L to 3L).toDF("lag")
    x.crossJoin(broadcast(lags))
      .join(y, col("xday") + col("lag") === col("yday"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(expr("x * y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      .orderBy(col("lag"))
  }

  /** Spearman rank-correlation trend test: per event_type,
    * the rank correlation between `value` and event time — the
    * distribution-free monotone-trend detector (the Mann–Kendall
    * question answered with ranks): is this feed's value drifting up
    * or down over time? Complements q_ts_regr_slope (linear fit —
    * outlier-sensitive) and q_ts_acf (self-correlation) with a
    * robust cross-signal statistic.
    *
    * Ranks are row_number over deterministic total orders ((cents,
    * event_id) and (ts_ns, event_id)) — the documented tie-break
    * variant of Spearman, identical in both engines. rho_e4 =
    * 10⁴ − Σd²·6·10⁴ div (n(n²−1)): the divided operand is
    * nonnegative (d² sums), the possibly-negative result comes from
    * the SUBTRACTION — after all division, where the engines agree.
    * Overflow: Σd² ≤ (n³−n)/3, ×6·10⁴ exact to n ≈ 7·10⁴ rows per
    * group (sf0.1-scale); at 100 TB the production form runs the
    * identical plan on the per-day aggregate series (≤ 10³ points per
    * key), which is also the statistically right granularity there.
    *
    * Shape: two per-type window rank passes (partitioned — no global
    * sort) + one partial-aggregable fold. */
  def spearmanTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"),
        cents("value").as("cents"),
        col("ts_ns"))
    val wv = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val wt = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ns"), col("event_id"))
    ev.withColumn("rv", row_number().over(wv).cast("long"))
      .withColumn("rt", row_number().over(wt).cast("long"))
      .withColumn("d", col("rv") - col("rt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(expr("d * d")).as("sum_d2"))
      .select(col("event_type"), col("n"), col("sum_d2"),
        expr("10000 - sum_d2 * 60000 div greatest(n * (n * n - 1), 1)")
          .as("rho_e4"))
      .orderBy(col("event_type"))
  }

  /** Single changepoint by binary segmentation on the daily
    * event-count series: the split that maximizes the between-segment
    * contrast — equivalently minimizes total within-segment SSE, via
    * the identity argmin SSE ≡ argmax (S₁n₂ − S₂n₁)²/(n₁n₂) (the
    * constant n cancels). The LOCATION answer to the level-shift
    * question q_ts_cusum only scores pointwise. The squared contrast
    * runs in DECIMAL(38,0) (the assortativity lesson: S·n ≤ 9·10⁸
    * even at sf10, but its square crosses 2⁶³ by sf100); the final
    * score is BIGINT after one truncating div, so the argmax compares
    * identical integers in both engines, tie-broken to the earliest
    * day.
    *
    * Shape: fact scan → day census (≤ span days) → one ordered
    * cumulative pass + 1-row broadcast totals → argmax filter. Every
    * window runs on the ~90-row census. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir, "day")
    val wIdx = Window.orderBy(col("day"))
    val wCum = wIdx.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val tot = daily.agg(count(lit(1)).as("t_days"),
      sum(col("x")).as("s_tot"))
    val scored = daily
      .withColumn("idx", row_number().over(wIdx).cast("long"))
      .withColumn("s1", sum(col("x")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("idx") < col("t_days"))
      .withColumn("n1", col("idx"))
      .withColumn("n2", col("t_days") - col("idx"))
      .withColumn("s2", col("s_tot") - col("s1"))
      // greatest-guard: the filter above makes n1·n2 ≥ 1, but ANSI
      // mode + predicate inlining can evaluate this expression on the
      // idx = t_days row BEFORE the guard conjunct (DIVIDE_BY_ZERO
      // from inside a collapsed filter) — a total
      // expression is the only safe form under optimizer reordering
      .withColumn("score", expr(
        "CAST(CAST(s1 * n2 - s2 * n1 AS DECIMAL(38,0))" +
          " * (s1 * n2 - s2 * n1) div greatest(n1 * n2, 1) AS BIGINT)"))
    val best = scored.agg(max(col("score")).as("best_score"))
    scored.crossJoin(broadcast(best))
      .filter(col("score") === col("best_score"))
      .groupBy(col("best_score"))
      .agg(min(col("day")).as("split_day"))
      .select(col("split_day"), col("best_score"))
      .join(scored.select(col("day").as("split_day"), col("n1"),
        col("n2"), expr("s1 div greatest(n1, 1)").as("mean_left"),
        expr("s2 div greatest(n2, 1)").as("mean_right")),
        Seq("split_day"))
      .select(col("split_day"), col("n1").as("n_left"),
        col("n2").as("n_right"), col("mean_left"), col("mean_right"),
        col("best_score").as("score"))
  }

  /** One-way ANOVA for day-of-week seasonality: does the
    * daily event count differ by weekday more than within-weekday
    * noise explains? F = (SSB/(k−1)) / (SSW/(n−k)) over the daily
    * census grouped by epoch-day mod 7 (no calendar functions — the
    * lDiversity day idiom). The TESTED answer to what q_ts_seasonal
    * only profiles; completes the inference family (t-test, U test,
    * KS, chi-square) with the k-group comparison.
    *
    * Exactness: group means are floored integers (the abTest m2
    * discipline — mu_g = S_g div n_g, a documented quantization both
    * engines share), so SSW = Σ(x−mu_g)² and SSB = Σ n_g(mu_g−mu)²
    * are exact BIGINTs; F_e4 = SSB·(n−k)·10⁴ div (SSW·(k−1)) with
    * the product in DECIMAL(38,0) (overflow-lane discipline).
    * seasonal_95 compares against F crit(6, 60+) ≈ 2.25 as the e4
    * literal 22500 — round-once shared text.
    *
    * Shape: fact scan → day census (≤ span days) → 7-group fold →
    * 1-row verdict. */
  def anovaDow(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir, "day")
      .withColumn("dow", col("day") % 7)
    val mu = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      .withColumn("mug", expr("sg div ng"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .withColumn("mu", expr("s div n"))
    daily.join(broadcast(mu), Seq("dow"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_days"),
        countDistinct(col("dow")).as("k_groups"),
        sum(expr("(x - mug) * (x - mug)")).as("ssw"),
        sum(expr("(mug - mu) * (mug - mu)")).as("ssb"))
      .select(col("n_days"), col("k_groups"), col("ssw"), col("ssb"),
        expr("CAST(CAST(ssb AS DECIMAL(38,0)) * (n_days - k_groups)" +
          " * 10000 div greatest(CAST(ssw AS DECIMAL(38,0))" +
          " * (k_groups - 1), 1) AS BIGINT)").as("f_e4"))
      .withColumn("seasonal_95", col("f_e4") >= 22500L)
  }

  /** Theil–Sen robust slope: per-user median of all pairwise
    * day-slopes over the daily centi-value series — the estimator that
    * survives up to 29% outlier days where q_ts_regr_slope's least
    * squares is dragged by a single corrupt batch. Completes the robust
    * family (median/MAD anomaly, Spearman trend) with the robust SLOPE.
    *
    * Exactness: slope_e6 = trunc((y_j−y_i)·10⁶ / (d_j−d_i)) — Spark's
    * `div` and DuckDB's INTEGER `//` BOTH truncate toward zero
    * (measured: -7//2 = -3 in DuckDB; only the FLOAT `//` floors), so
    * plain `num div den` is parity-exact even though 766 of 1500
    * users carry negative slopes at sf0.1. The denominator is always
    * positive by the d_i < d_j join predicate.
    * Median = the lower median, rn = (cnt+1) div 2 over the ascending
    * slope order — deterministic even under slope ties because rank
    * selection among equal values picks an equal value.
    *
    * Shape (100 TB): fact scan → (user, day) daily fold (one shuffle)
    * → user-keyed self-join whose per-key fan-out is bounded by the
    * calendar span (≤30 days/user in fixture ⇒ ≤435 pairs — the
    * per-key-sequence family contract, never corpus-quadratic) → one
    * window pass for the rank → per-user fold. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("d", epochDay)
      .withColumn("c", cents("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("c")).as("y"))
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") < col("b.d"))
      .select(col("a.user_id").as("user_id"),
        ((col("b.y") - col("a.y")) * lit(1000000L)).as("num"),
        (col("b.d") - col("a.d")).as("den"))
      .withColumn("s", expr("num div den"))
    val byUser = Window.partitionBy(col("user_id"))
    slopes
      .withColumn("rn", row_number().over(byUser.orderBy(col("s"))))
      .withColumn("cnt", count(lit(1)).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("cnt")).as("n_pairs"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("s")))
          .as("theil_sen_e6"))
      .orderBy(col("user_id"))
  }

  /** Mann–Kendall trend test: the significance test whose
    * point estimator IS Theil–Sen — S = Σ sign(y_j − y_i) over day
    * pairs i<j, Var(S) = n(n−1)(2n+5)/18 (ties contribute 0 to S; the
    * tie-correction term is omitted and documented — daily centi sums
    * tie with probability ≈0). Completes the J32 robust-trend family:
    * theil_sen answers "how steep", mann_kendall answers "is it real".
    *
    * Sqrt-free verdict (the J21 discipline): |z| > 1.96 ⟺
    * z² > 3.8416 ⟺ S²·18·10⁴ > 38416·n(n−1)(2n+5) — exact BIGINT
    * cross-multiplication, no libm on either engine. Overflow bound:
    * S ≤ C(30,2) = 435 ⇒ S²·18·10⁴ ≈ 3.4·10¹⁰; var18 ≤ 30·29·65.
    *
    * Shape: identical to theilSen — daily fold, user-keyed self-join
    * bounded by the calendar span, per-user verdict fold. The sign
    * census is partial-aggregable (a plain sum), so unlike the median
    * this row needs NO rank window at all. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("d", epochDay)
      .withColumn("c", cents("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("c")).as("y"))
    val nd = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"))
    daily.as("a")
      .join(daily.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") < col("b.d"))
      .select(col("a.user_id").as("user_id"),
        when(col("b.y") > col("a.y"), 1L)
          .when(col("b.y") < col("a.y"), -1L).otherwise(0L).as("sg"))
      .groupBy(col("user_id"))
      .agg(sum(col("sg")).as("s_stat"), count(lit(1)).as("n_pairs"))
      .join(nd, Seq("user_id"))
      .select(col("user_id"), col("n_days"), col("n_pairs"),
        col("s_stat"),
        expr("n_days * (n_days - 1) * (2 * n_days + 5)").as("var18"),
        (col("s_stat") > 0L).as("trend_up"),
        expr("s_stat * s_stat * 180000 >" +
          " 38416 * n_days * (n_days - 1) * (2 * n_days + 5)")
          .as("significant_95"))
      .orderBy(col("user_id"))
  }

  /** Kendall τ-b concordance: do the two GLOBAL daily
    * metrics — event count x and centi-value sum y — move together?
    * Pair census over day pairs (concordant / discordant / tie_x /
    * tie_y / tie_both), then the tie-corrected squared correlation
    * τ_b² = (C−D)²/((n₀−tx)(n₀−ty)) as a SIGNED e8 integer (the
    * sqrt-free discipline: report the square with sign(C−D), never a
    * libm sqrt). Completes the correlation family: Pearson-on-ranks
    * (spearman), sign-census trend (mann_kendall per user), and now
    * cross-METRIC concordance.
    *
    * Concordance tests compare SIGNS of (dx, dy) — no dx·dy product,
    * so no overflow lane is needed there; the one squared moment
    * (C−D)² rides DECIMAL(38,0) from the start (the assortativity
    * lesson — C(10⁴ days, 2) pairs would blow BIGINT at ·10⁸).
    *
    * Shape: fact scan → day census (span-sized, NOT corpus-sized) →
    * theta self-join on the tiny daily frame (≤C(span,2) pairs —
    * broadcast nested loop on a frame of tens of rows) → 1-row fold. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("d", epochDay)
      .withColumn("c", cents("value"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("x"), sum(col("c")).as("y"))
    val census = daily.as("a")
      .join(daily.as("b"), col("a.d") < col("b.d"))
      .select((col("b.x") - col("a.x")).as("dx"),
        (col("b.y") - col("a.y")).as("dy"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("dx") > 0 && col("dy") > 0) ||
          (col("dx") < 0 && col("dy") < 0), 1L).otherwise(0L))
          .as("concordant"),
        sum(when((col("dx") > 0 && col("dy") < 0) ||
          (col("dx") < 0 && col("dy") > 0), 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_both"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    census.crossJoin(broadcast(n))
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"),
        col("ties_both"),
        expr("""CAST(CASE WHEN concordant >= discordant THEN 1
          |  ELSE -1 END
          |* ((CAST(concordant - discordant AS DECIMAL(38,0))
          |    * (concordant - discordant) * 100000000)
          |   div greatest(CAST(n_pairs - ties_x AS DECIMAL(38,0))
          |    * (n_pairs - ties_y), 1)) AS BIGINT)""".stripMargin)
          .as("taub2_e8"))
  }

  /** STL-lite decomposition: trend = centered 7-day moving
    * average (floored; edge days use their available window — the
    * rows-frame is over OBSERVED days, a documented simplification vs
    * calendar STL), seasonal = floored per-weekday mean of the
    * detrended series, residual = what's left. The summary the anova
    * row tests and the seasonal row profiles, now QUANTIFIED:
    * seasonal strength = max(0, 1 − SSQ(resid)/SSQ(detrended)) —
    * Hyndman's F_s measure — as e4, with the one divided product in
    * the DECIMAL(38,0)/HUGEINT lane. Emits the seven seasonal indices
    * (s0..s6 pivoted, weekday = epoch-day mod 7) plus the exact SSQs
    * so the strength can be replayed from the row.
    *
    * Exactness: trend and seasonal means are floored integer divisions
    * of BIGINT sums (the anovaDow mu discipline — a documented
    * quantization, identical in both engines); detrended/residual are
    * then exact signed BIGINTs.
    *
    * Shape: fact scan → day census (span-sized) → one ordered window
    * pass (7-row frame) → 7-group fold → broadcast join back →
    * 1-row census. */
  def stlLite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val det = dailyCounts(spark, dir)
      .withColumn("sw", sum(col("x")).over(w))
      .withColumn("cw", count(lit(1)).over(w))
      .withColumn("det", col("x") - expr("sw div cw"))
      .withColumn("dow", col("d") % 7)
    val s = det.groupBy(col("dow"))
      .agg(expr("sum(det) div count(1)").as("sdow"))
    val agg = det.join(broadcast(s), Seq("dow"))
      .withColumn("resid", col("det") - col("sdow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("det") * col("det")).as("ssq_det"),
        sum(col("resid") * col("resid")).as("ssq_resid"))
    val piv = s.agg(
      max(when(col("dow") === 0, col("sdow"))).as("s0"),
      max(when(col("dow") === 1, col("sdow"))).as("s1"),
      max(when(col("dow") === 2, col("sdow"))).as("s2"),
      max(when(col("dow") === 3, col("sdow"))).as("s3"),
      max(when(col("dow") === 4, col("sdow"))).as("s4"),
      max(when(col("dow") === 5, col("sdow"))).as("s5"),
      max(when(col("dow") === 6, col("sdow"))).as("s6"))
    agg.crossJoin(broadcast(piv))
      .select(col("n_days"), col("s0"), col("s1"), col("s2"),
        col("s3"), col("s4"), col("s5"), col("s6"),
        col("ssq_det"), col("ssq_resid"),
        expr("""CAST(greatest(0, 10000
          | - CAST(ssq_resid AS DECIMAL(38,0)) * 10000
          |   div greatest(ssq_det, 1)) AS BIGINT)""".stripMargin)
          .as("strength_e4"))
  }

  /** STL-residual whiteness (J65): lag-1..3 autocorrelation of the
    * stl_lite RESIDUAL — the model-adequacy diagnostic: stl_lite
    * reports how much the trend+weekday model explains; this row
    * tests whether what's LEFT is white noise (structure remaining in
    * the residual = the model is incomplete, e.g. a monthly cycle the
    * weekly seasonal can't absorb). The same trend/seasonal
    * derivation text as stl_lite (floored 7-day MA, floored dow
    * means), so the two rows cannot disagree about what the residual
    * IS.
    *
    * Exactness: residual mean floored (truncate-toward-zero, parity-
    * measured); r_e4 one truncating div; white_95 cross-multiplied —
    * r²·n ≤ 1.96² ⟺ c²·n·10⁴ ≤ 38416·den², products in the
    * DECIMAL(38,0)/HUGEINT lane.
    *
    * Shape: the stl_lite pipeline (span-sized) + one more bounded
    * window pass for the lags → 1-row fold → 3 stacked rows. */
  def stlResidAcf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val det = dailyCounts(spark, dir)
      .withColumn("sw", sum(col("x")).over(w))
      .withColumn("cw", count(lit(1)).over(w))
      .withColumn("det", col("x") - expr("sw div cw"))
      .withColumn("dow", col("d") % 7)
    val s = det.groupBy(col("dow"))
      .agg(expr("sum(det) div count(1)").as("sdow"))
    val res = det.join(broadcast(s), Seq("dow"))
      .select(col("d"), (col("det") - col("sdow")).as("res"))
    val mu = res.agg(count(lit(1)).as("n"), sum(col("res")).as("sr"))
      .withColumn("m", expr("sr div n"))
    val wl = Window.orderBy(col("d"))
    val mom = res.crossJoin(broadcast(mu))
      .withColumn("e", col("res") - col("m"))
      .withColumn("e1", lag(col("e"), 1).over(wl))
      .withColumn("e2", lag(col("e"), 2).over(wl))
      .withColumn("e3", lag(col("e"), 3).over(wl))
      .agg(max(col("n")).as("n"), sum(expr("e * e")).as("den"),
        sum(expr("e * e1")).as("c1"), sum(expr("e * e2")).as("c2"),
        sum(expr("e * e3")).as("c3"))
    def w95(c: String) =
      s"""CAST($c AS DECIMAL(38,0)) * $c * n * 10000
         | <= CAST(38416 AS DECIMAL(38,0)) * den * den""".stripMargin
    mom.select(expr(
      s"""stack(3,
         | 1L, n, c1, den, c1 * 10000 div greatest(den, 1), ${w95("c1")},
         | 2L, n, c2, den, c2 * 10000 div greatest(den, 1), ${w95("c2")},
         | 3L, n, c3, den, c3 * 10000 div greatest(den, 1), ${w95("c3")})
         | AS (k, n_days, cov, den, r_e4, white_95)""".stripMargin))
      .orderBy(col("k"))
  }

  /** Forecast-baseline backtest: the M-competition rule —
    * before trusting any model forecast, beat naive (ŷ_t = y_{t−1})
    * and seasonal-naive (ŷ_t = y_{t−7}) on held-in one-step errors.
    * MAE×100 for both on the global daily count series, plus the
    * verdict. On this fixture seasonal-naive WINS (13.00 vs 17.75 —
    * the third independent confirmation of weekday seasonality after
    * anova_dow and stl_lite, from a forecasting angle). Pure window
    * lags — integer-exact, no smoothing state, no recursion.
    *
    * Shape: day census → one ordered window pass (two lags) → 1-row
    * fold. Each baseline's n is its own valid-forecast count (the
    * first 1 resp. 7 days have no forecast — emitted, not hidden). */
  def forecastBaselines(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d"))
    dailyCounts(spark, dir)
      .withColumn("f1", lag(col("x"), 1).over(w))
      .withColumn("f7", lag(col("x"), 7).over(w))
      .agg(count(col("f1")).as("n1"),
        sum(abs(col("x") - col("f1"))).as("sae1"),
        count(col("f7")).as("n7"),
        sum(when(col("f7").isNotNull, abs(col("x") - col("f7"))))
          .as("sae7"))
      .select(col("n1").as("n_naive"), col("n7").as("n_snaive"),
        expr("sae1 * 100 div greatest(n1, 1)").as("mae_naive_x100"),
        expr("sae7 * 100 div greatest(n7, 1)").as("mae_snaive_x100"),
        expr("sae7 * 100 div greatest(n7, 1) < " +
          "sae1 * 100 div greatest(n1, 1)").as("snaive_better"))
  }

  /** Max drawdown of the daily activity level: the largest
    * peak-to-trough decline of the daily event count — the KPI-
    * monitoring standard for "how bad did the dip get" (the finance
    * drawdown applied to the LEVEL series; the cumulative-sum variant
    * is degenerate here because values are nonnegative). Running max
    * via one ordered window, trough = the EARLIEST day attaining the
    * max drawdown (min-day tie-break, the changepoint pick idiom).
    *
    * Shape: day census → one window pass → broadcast argmax pick →
    * 1-row fold. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = dailyCounts(spark, dir)
      .withColumn("peak", max(col("x")).over(w))
      .withColumn("dd", col("peak") - col("x"))
    val mx = dd.agg(max(col("dd")).as("max_dd"))
    val pick = dd.crossJoin(broadcast(mx))
      .filter(col("dd") === col("max_dd"))
      .agg(min(col("d")).as("trough_day"))
    dd.crossJoin(broadcast(mx)).crossJoin(broadcast(pick))
      .agg(count(lit(1)).as("n_days"),
        max(col("max_dd")).as("max_drawdown"),
        max(when(col("d") === col("trough_day"), col("peak")))
          .as("peak_level"),
        max(when(col("d") === col("trough_day"), col("x")))
          .as("trough_level"),
        max(when(col("d") === col("trough_day"),
          expr("dd * 10000 div greatest(peak, 1)"))).as("dd_share_e4"),
        max(col("trough_day")).as("trough_day"))
  }

  /** Anomaly attribution: q_ts_anomaly_mad finds WHEN the
    * stream misbehaved; this row answers WHAT drove it — on the day
    * whose global count deviates most from the global lower median
    * (earliest such day), each event type's deviation from ITS OWN
    * median daily count, and its signed share of the total absolute
    * deviation. The on-call decomposition ("the spike was 34%
    * clicks") as a 5-row frame.
    *
    * Exactness: lower medians via the distribution-counting rank
    * (cnt+1) div 2; shares are signed e4 over Σ|dev| (trunc-div
    * parity measured). A type absent on the anomaly day contributes
    * c_day = 0, not a dropped row (left join + coalesce).
    *
    * Shape: (type, day) census → two rank windows on span-sized
    * frames → broadcast argmax day → 5-row fold. */
  def anomalyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val td = events(spark, dir)
      .withColumn("d", epochDay)
      .groupBy(col("event_type").as("t"), col("d"))
      .agg(count(lit(1)).as("c"))
    val byT = Window.partitionBy(col("t"))
    val med = td
      .withColumn("rn", row_number().over(byT.orderBy(col("c"))))
      .withColumn("cnt", count(lit(1)).over(byT))
      .groupBy(col("t"))
      .agg(max(when(col("rn") === expr("(cnt + 1) div 2"), col("c")))
        .as("med"))
    val g = td.groupBy(col("d")).agg(sum(col("c")).as("x"))
    val gw = Window.orderBy(col("x"))
    val gm = g
      .withColumn("rn", row_number().over(gw))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .agg(max(when(col("rn") === expr("(cnt + 1) div 2"), col("x")))
        .as("m"))
    val pick = g.crossJoin(broadcast(gm))
      .withColumn("ad", abs(col("x") - col("m")))
      .crossJoin(broadcast(g.crossJoin(broadcast(gm))
        .agg(max(abs(col("x") - col("m"))).as("mad"))))
      .filter(col("ad") === col("mad"))
      .agg(min(col("d")).as("aday"))
    // left join per (type, anomaly day): coalesce absent types to 0
    val dev2 = med.crossJoin(broadcast(pick)).as("m")
      .join(td.as("td2"),
        col("td2.t") === col("m.t") && col("td2.d") === col("m.aday"),
        "left")
      .select(col("m.t").as("event_type"), col("m.aday").as("anomaly_day"),
        coalesce(col("td2.c"), lit(0L)).as("c_day"),
        col("m.med").as("median_daily"),
        (coalesce(col("td2.c"), lit(0L)) - col("m.med")).as("dev"))
    val tot = dev2.agg(sum(abs(col("dev"))).as("sad"))
    dev2.crossJoin(broadcast(tot))
      .select(col("event_type"), col("anomaly_day"), col("c_day"),
        col("median_daily"), col("dev"),
        expr("dev * 10000 div greatest(sad, 1)").as("share_e4"))
      .orderBy(col("event_type"))
  }

  /** Ljung–Box white-noise test: the SIGNIFICANCE layer on
    * q_ts_acf — per user, Q = n(n+2)·Σ_{k≤3} r_k²/(n−k) against
    * χ²(3, 95%) = 7.815 (the authored 78150 e4 literal). Q·10⁴ folds
    * from the SAME integer moments the acf row emits, with r_k
    * QUANTIZED to e4 before squaring (a shared definition both
    * engines execute verbatim — the raw num²/den² form needs 10²²
    * products that overflow BIGINT and fought Spark's decimal
    * planner; the quantized form stays ≤ ~10¹⁵ in plain longs and is
    * the acf row's own emitted granularity anyway).
    * The fixture result is its own sanity pin:
    * 6 of 150 users reject white noise ≈ the 5% false-positive rate
    * α promises on genuinely uncorrelated data.
    *
    * Shape: identical to acfLags (mean window + three leads + one
    * grouped fold) — one extra 1-row-per-user projection. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    // r_k is quantized to e4 BEFORE squaring (a shared definition:
    // both engines run this exact text) — the raw num²/den² form needs
    // 10²²-scale products that fought Spark's decimal planning; the
    // quantized form keeps every intermediate ≤ ~10¹⁵ in plain BIGINT
    val q = """n * (n + 2)
      | * ((num1 * 10000 div greatest(den, 1))
      |      * (num1 * 10000 div greatest(den, 1))
      |      div greatest(n - 1, 1)
      |  + (num2 * 10000 div greatest(den, 1))
      |      * (num2 * 10000 div greatest(den, 1))
      |      div greatest(n - 2, 1)
      |  + (num3 * 10000 div greatest(den, 1))
      |      * (num3 * 10000 div greatest(den, 1))
      |      div greatest(n - 3, 1))
      | div 10000""".stripMargin
    acfMoments(spark, dir)
      .select(col("user_id"), col("n"),
        expr(s"CAST($q AS BIGINT)").as("q_e4"),
        expr(s"$q > 78150").as("white_noise_rejected"))
      .orderBy(col("user_id"))
  }

  /** Period detection: which cycle length does the daily
    * series actually carry? Integer ACF of the global day census at
    * candidate lags 2..10 (the acf shifted-e4 form), detected period
    * = the argmax lag (earliest on ties). At sf0.01 and sf0.1 the
    * detector lands on 7 from DATA — the fourth independent
    * confirmation of the weekly cycle (anova tests it, stl
    * quantifies it, forecast baselines exploit it; this row
    * DISCOVERS it without being told 7). At sf0.001 (~33 events/day)
    * the signal drowns in sampling noise and the argmax wanders —
    * the emitted full lag profile makes that margin visible, which
    * is why the row ships the profile and not just the verdict.
    *
    * Shape: day census → span-sized lag self-join (≤9·span rows) →
    * 9-row fold + broadcast argmax. */
  def periodDetect(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val mu = daily.agg(expr("sum(x) div count(1)").as("m"))
    val c = daily.crossJoin(broadcast(mu))
      .select(col("d"), (col("x") - col("m")).as("c"))
    val den = c.agg(sum(col("c") * col("c")).as("den"))
    val lags = spark.range(2, 11).select(col("id").as("lag"))
    val acf = lags
      .join(c.as("a"), lit(true))
      .join(c.as("b"), col("b.d") === col("a.d") + col("lag"))
      .groupBy(col("lag"))
      .agg(sum(col("a.c") * col("b.c")).as("num"))
    val r = lags.join(acf, Seq("lag"), "left")
      .withColumn("num", coalesce(col("num"), lit(0L)))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("num"),
        expr("(num + den) * 10000 div greatest(2 * den, 1)")
          .as("acf_shift_e4"))
    val best = r.crossJoin(broadcast(
        r.agg(max(col("acf_shift_e4")).as("mx"))))
      .filter(col("acf_shift_e4") === col("mx"))
      .agg(min(col("lag")).as("detected_period"))
    r.crossJoin(broadcast(best))
      .select(col("lag"), col("acf_shift_e4"), col("detected_period"),
        (col("lag") === col("detected_period")).as("is_peak"))
      .orderBy(col("lag"))
  }

  /** Rolling 7-day trend slope: per day, the least-squares
    * slope of the trailing 7-day window of the daily count — the
    * live "is it trending up RIGHT NOW" monitor (q_ts_regr_slope is
    * the global fit; this is its windowed twin, one row per day).
    * Five windowed moments over one ROWS frame, slope_e6 by the
    * shared integer formula; short leading windows (n < 7) emit
    * their own n_window so the warm-up is visible.
    *
    * Shape: day census → ONE window pass with five sums → map-side
    * slope. */
  def rollingSlope(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d")).rowsBetween(-6, 0)
    dailyCounts(spark, dir)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sd", sum(col("d")).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sdx", sum(col("d") * col("x")).over(w))
      .withColumn("sdd", sum(col("d") * col("d")).over(w))
      .select(col("d").as("day"), col("n").as("n_window"),
        expr("""CAST(CASE WHEN n * sdd - sd * sd <> 0
          |THEN (n * sdx - sd * sx) * 1000000 div (n * sdd - sd * sd)
          |ELSE 0 END AS BIGINT)""".stripMargin).as("slope_e6"))
      .orderBy(col("day"))
  }

  /** Week-over-week revenue growth: the business twin of
    * q_ts_forecast_baselines' lag-7 — per day, daily revenue cents,
    * the same weekday last week, and the WoW ratio e4 (NULL for the
    * first seven days and for a zero base — emitted, not dropped, so
    * the warm-up is visible). Comparing same-weekday avoids the
    * weekday mix shift that corrupts naive day-over-day growth —
    * the reporting counterpart of everything the seasonality family
    * measured.
    *
    * Shape: day census → one lag window → map-side ratio. */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d"))
    events(spark, dir)
      .withColumn("d", epochDay)
      .withColumn("c", cents("value"))
      .groupBy(col("d")).agg(sum(col("c")).as("rev"))
      .withColumn("prev", lag(col("rev"), 7).over(w))
      .select(col("d").as("day"), col("rev").as("rev_cents"),
        col("prev").as("prev_week_cents"),
        expr("""CAST(CASE WHEN prev IS NOT NULL AND prev > 0
          |THEN rev * 10000 div prev ELSE NULL END AS BIGINT)"""
          .stripMargin).as("wow_e4"))
      .orderBy(col("day"))
  }

  /** Wald–Wolfowitz runs test per user (J50): is the SIGN sequence of
    * day-over-day activity deltas random, or does it streak? Zero
    * deltas are dropped (the classic dichotomized form); R = number of
    * maximal same-sign runs, n1/n2 = up/down counts, n = n1+n2,
    * A = 2·n1·n2. Under randomness μ_R = 1 + A/n and
    * σ²_R = A(A−n) / (n²(n−1)); the 95% two-sided verdict is the
    * denominator-cleared z² > 1.96² form (the mann_kendall /
    * ljung_box idiom — no float, no sqrt):
    *   ((R−1)·n − A)² · (n−1) · 10000  >  38416 · A · (A−n).
    * Users with A ≤ n (degenerate variance: fewer than two of either
    * sign) are excluded on both arms.
    *
    * Overflow bound: n ≤ 30 days ⇒ A ≤ 450; LHS ≤ (450·30)²·29·10⁴
    * < 6e13 — far inside BIGINT.
    *
    * Shape: one day census (partial-aggregable), two per-user window
    * passes (lag for the delta, lag for the run boundary), one
    * per-user aggregate. No self-joins; per-user series are
    * shuffle-partitioned by user_id, the 100 TB layout. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val byU = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val sg = events(spark, dir)
      .withColumn("d", epochDay)
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dy", col("y") - lag(col("y"), 1).over(byU))
      .filter(col("dy").isNotNull && col("dy") =!= 0L)
      .withColumn("s", when(col("dy") > 0, 1L).otherwise(-1L))
    sg.withColumn("pv", lag(col("s"), 1).over(byU))
      .withColumn("chg",
        when(col("pv").isNull || col("pv") =!= col("s"), 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("chg")).as("r_runs"),
        sum(when(col("s") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_down"))
      .withColumn("n", col("n_up") + col("n_down"))
      .withColumn("a2", expr("2 * n_up * n_down"))
      .filter(col("a2") > col("n"))
      .select(col("user_id"), col("n_up"), col("n_down"), col("r_runs"),
        expr("((r_runs - 1) * n - a2) * ((r_runs - 1) * n - a2)" +
          " * (n - 1) * 10000 > 38416 * a2 * (a2 - n)")
          .as("nonrandom_95"))
      .orderBy(col("user_id"))
  }

  /** Turning-point randomness test per user (J50): count interior days
    * that are a strict local max or min of the daily event count. For
    * a continuous iid series of length n, E[T] = 2(n−2)/3 and
    * Var[T] = (16n − 29)/90; the 95% verdict is denominator-cleared:
    *   (3T − 2(n−2))² · 100000  >  38416 · 9 · (16n − 29) / 90·…
    * simplified with z² = (T−μ)²/σ² = (3T−2(n−2))²·10 / (16n−29):
    *   (3T − 2(n−2))² · 10 · 10000  >  38416 · (16n − 29).
    * Honest caveat (documented, mirrored in the oracle): counts are
    * DISCRETE, so tied neighbors never count as turning points — ties
    * deflate T below the continuous-theory mean and the test reads as
    * a "too smooth / too streaky" screen, the same screening posture
    * as ljung_box. n = full series length (interior + 2); users with
    * n < 4 are excluded (16n−29 and the interior both need room).
    *
    * Shape: day census → one lag+lead window pass per user → per-user
    * aggregate. Single shuffle on user_id. */
  def turningPoints(spark: SparkSession, dir: String): DataFrame = {
    val byU = Window.partitionBy(col("user_id")).orderBy(col("d"))
    events(spark, dir)
      .withColumn("d", epochDay)
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("pv", lag(col("y"), 1).over(byU))
      .withColumn("nx", lead(col("y"), 1).over(byU))
      .filter(col("pv").isNotNull && col("nx").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_interior"),
        sum(when((col("pv") < col("y") && col("nx") < col("y")) ||
            (col("pv") > col("y") && col("nx") > col("y")), 1L)
          .otherwise(0L)).as("t_pts"))
      .withColumn("n", col("n_interior") + lit(2L))
      .filter(col("n") >= 4L)
      .select(col("user_id"), col("n").as("n_days"), col("t_pts"),
        expr("2 * (n - 2)").as("expected_3t"),
        expr("(3 * t_pts - 2 * (n - 2)) * (3 * t_pts - 2 * (n - 2))" +
          " * 100000 > 38416 * (16 * n - 29)").as("nonrandom_95"))
      .orderBy(col("user_id"))
  }

  /** PACF at lags 1–3 per user (J52) — completes the ACF family:
    * partial autocorrelation via Durbin–Levinson with every level
    * cleared to integers. The moment frame (n, den, num1..num3) is
    * the ljung_box frame verbatim (shared definition — the two rows
    * cannot disagree about what r_k is); r_k is quantized ONCE to e4
    * (`num_k·10⁴ div den`, signed div parity-exact per the J32
    * probe), then with R = 10⁴:
    *   φ11 = r1
    *   φ22 = N2·R div D2            N2 = r2·R − r1², D2 = R² − r1²
    *   φ33 = num3·R div den3   (exact-cleared cubic, ONE rounding):
    *     num3 = r3·R·D2 − r1·r2·(D2−N2) − N2·r1·R
    *     den3 = R²·D2 − r1²·(D2−N2) − N2·r2·R
    * Bounds: |r|≤10⁴ ⇒ |num3|,|den3| ≤ ~3·10¹⁶ (BIGINT); the final
    * ×R rides the DECIMAL(38,0)/HUGEINT lane (assortativity lesson).
    * Degenerate users are filtered identically on both arms: den>0
    * (constant series), D2>0 (|r1|=1), den3>0 (level-2 perfect fit —
    * the prediction-error variance that must stay positive).
    *
    * Shape: identical to ljung_box — one windowed lead pass per user
    * + one partial-aggregable fold; everything after is map-only. */
  def pacf(spark: SparkSession, dir: String): DataFrame =
    acfMoments(spark, dir)
      .filter(col("den") > 0)
      .withColumn("r1", expr("num1 * 10000 div den"))
      .withColumn("r2", expr("num2 * 10000 div den"))
      .withColumn("r3", expr("num3 * 10000 div den"))
      .withColumn("n2v", expr("r2 * 10000 - r1 * r1"))
      .withColumn("d2v", expr("100000000 - r1 * r1"))
      .filter(col("d2v") > 0)
      .withColumn("num3p", expr(
        "r3 * 10000 * d2v - r1 * r2 * (d2v - n2v) - n2v * r1 * 10000"))
      .withColumn("den3p", expr(
        "100000000 * d2v - r1 * r1 * (d2v - n2v) - n2v * r2 * 10000"))
      .filter(col("den3p") > 0)
      .select(col("user_id"), col("n"),
        col("r1").as("r1_e4"), col("r2").as("r2_e4"),
        col("r3").as("r3_e4"),
        col("r1").as("pacf1_e4"),
        expr("n2v * 10000 div d2v").as("pacf2_e4"),
        expr("CAST(CAST(num3p AS DECIMAL(38,0)) * 10000 div den3p" +
          " AS BIGINT)").as("pacf3_e4"))
      .orderBy(col("user_id"))

  /** Permutation entropy, order 3 (J54, Bandt–Pompe 2002): the
    * complexity of the daily event-count series measured by the
    * diversity of its consecutive-triple ORDER PATTERNS — immune to
    * monotone rescaling (a log-transformed series scores identically),
    * which no moment-based screen in the randomness family (runs,
    * turning points, Ljung–Box) is. Low PE = rigid trend/cycle; PE
    * near 1 = pattern-free. The 6 patterns are encoded by the three
    * pairwise comparisons (x1≥x0, x2≥x1, x2≥x0) — ties rank the LATER
    * day higher (the Bandt–Pompe convention), so the encoding is
    * deterministic with no random tie-break; two of the 8 codes are
    * logically impossible (transitivity) and never appear.
    *
    * Exactness: H_e3 = Σ n·(lnE3(N) − lnE3(n)) div N — the shared
    * floor-once lnE3 text (markovEntropy discipline); pe_norm_e4
    * divides by lnE3(6) = 1792 exactly.
    *
    * Shape (100 TB): fact scan → partial-aggregable daily census
    * (span-sized, ≤ a few thousand rows at any corpus size) → ONE
    * window pass over that bounded series → 6-row fold. The global
    * window is on the day grid, never the fact table — the
    * changepoint/acf family contract. */
  def permEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    val pat = dailyCounts(spark, dir, "day")
      .withColumn("x1", lead(col("x"), 1).over(w))
      .withColumn("x2", lead(col("x"), 2).over(w))
      .filter(col("x2").isNotNull)
      .select(expr("""(CASE WHEN x1 >= x THEN 4 ELSE 0 END)
        | + (CASE WHEN x2 >= x1 THEN 2 ELSE 0 END)
        | + (CASE WHEN x2 >= x THEN 1 ELSE 0 END)""".stripMargin)
        .as("pattern"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n"))
    val tot = pat.agg(sum(col("n")).as("nn"))
    val h = pat.crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("nn"),
        expr("""CAST(sum(n * (CAST(floor(ln(nn) * 1000 + 0.5) AS BIGINT)
          | - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
          | div max(nn) AS BIGINT)""".stripMargin).as("h_e3"))
    pat.crossJoin(broadcast(h))
      .select(col("pattern"), col("n"),
        expr("n * 10000 div nn").as("share_e4"), col("h_e3"),
        expr("h_e3 * 10000 div 1792").as("pe_norm_e4"))
      .orderBy(col("pattern"))
  }

  /** SAX motif census (J56, Lin et al. 2003, rank-SAX adaptation):
    * the daily series piecewise-aggregated into weekly blocks (PAA),
    * each block mapped to one of four symbols, and the 3-symbol WORDS
    * counted — the symbolic motif census behind time-series motif
    * discovery and anomaly "discords" (a word with n = 1 is a
    * discord candidate). Adaptation, documented: classical SAX cuts
    * a z-normalized Gaussian into equiprobable regions (transcendental
    * breakpoints); here symbols are exact VALUE QUARTILES via ntile(4)
    * ordered by (paa, blk) — the same equiprobable intent with an
    * integer-exact, tie-deterministic assignment both engines share
    * (ntile's larger-buckets-first fill is SQL-standard in both).
    *
    * Exactness: PAA mean = s div c floored; everything after is rank
    * arithmetic and string concat.
    *
    * Shape (100 TB): fact scan → daily census → weekly PAA fold
    * (span/7-sized); the two windows run on THAT bounded frame, never
    * the fact table — the changepoint/perm-entropy family contract. */
  def saxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val blocks = dailyCounts(spark, dir, "day")
      .groupBy(expr("day div 7").as("blk"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
      .select(col("blk"), expr("s div c").as("paa"))
    val sym = blocks.withColumn("sym",
      ntile(4).over(Window.orderBy(col("paa"), col("blk"))))
    val wv = Window.orderBy(col("blk"))
    val words = sym
      .withColumn("s1", lead(col("sym"), 1).over(wv))
      .withColumn("s2", lead(col("sym"), 2).over(wv))
      .filter(col("s2").isNotNull)
      .select(expr("concat(chr(96 + sym), chr(96 + s1), chr(96 + s2))")
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val tot = words.agg(sum(col("n")).as("nn"))
    words.crossJoin(broadcast(tot))
      .select(col("word"), col("n"),
        expr("n * 10000 div nn").as("share_e4"))
      .orderBy(col("word"))
  }

  /** Bollinger band breach census (J57): per day (with a full 7-day
    * trailing window including the current day — the standard
    * trailing-band convention, documented), does the daily count
    * breach mean ± 2σ of its own window? The volatility-adaptive
    * complement of the fixed-threshold MAD row: a level shift widens
    * the band and stops alarming, exactly the adaptive behavior CUSUM
    * and MAD lack.
    *
    * Exactness: sqrt-free — x > μ + 2σ ⟺ (x·n − s) > 0 ∧
    * (x·n − s)² > 4·(n·ss − s²) since n²σ² = n·ss − s² (population σ
    * over the window); the mirror for the lower band. All BIGINT
    * (x ≤ 10⁵/day at sf0.1 ⇒ (xn−s)² ≤ ~10¹³).
    *
    * Shape (100 TB): daily census → ONE bounded-frame window pass
    * (ROWS 6 PRECEDING) — the rolling-median family contract. */
  def bollinger(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    dailyCounts(spark, dir, "day")
      .withColumn("n", count(col("x")).over(w))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("ss", sum(expr("x * x")).over(w))
      .filter(col("n") === 7)
      .select(col("day"), col("x"),
        expr("s * 100 div n").as("mean_e2"),
        expr("(x * n - s) > 0 AND (x * n - s) * (x * n - s)" +
          " > 4 * (n * ss - s * s)").as("breach_up"),
        expr("(x * n - s) < 0 AND (x * n - s) * (x * n - s)" +
          " > 4 * (n * ss - s * s)").as("breach_dn"))
      .orderBy(col("day"))
  }

  /** Lo–MacKinlay variance ratio (J62): VR(k) = Var(k-day change) /
    * (k·Var(1-day change)) for k ∈ {2,4,8} — the econometric
    * random-walk test: a true random walk scores 1, mean reversion
    * < 1, trending > 1; on iid daily counts (level-stationary, not a
    * walk) VR is expected well below 1, which is the fixture's
    * licensing number. Completes the randomness family with the
    * HORIZON-SCALING screen none of runs/turning-points/Ljung–Box/
    * permutation-entropy measures.
    *
    * Exactness: one-pass central moments with the documented
    * quantization var = (ss − s·s div n) div n (the burrowsDelta
    * text); vr_e4 one further truncating div with a var₁ floor.
    *
    * Shape: daily census → ONE bounded-frame window pass (4 lags) →
    * 1-row moment fold → 3 stacked rows. */
  def varianceRatio(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    val lagged = dailyCounts(spark, dir, "day")
      .withColumn("d1", col("x") - lag(col("x"), 1).over(w))
      .withColumn("d2", col("x") - lag(col("x"), 2).over(w))
      .withColumn("d4", col("x") - lag(col("x"), 4).over(w))
      .withColumn("d8", col("x") - lag(col("x"), 8).over(w))
    def m(c: String) = Seq(count(col(c)).as(s"n$c"),
      sum(col(c)).as(s"s$c"), sum(expr(s"$c * $c")).as(s"ss$c"))
    val agg = lagged.agg(m("d1").head, (m("d1").tail ++ m("d2") ++
      m("d4") ++ m("d8")): _*)
    def varE(c: String) =
      s"((ss$c - s$c * s$c div n$c) div n$c)"
    agg.select(expr(
      s"""stack(3,
         | 2L, nd2, ${varE("d2")}, ${varE("d2")} * 10000
         |   div (2 * greatest(${varE("d1")}, 1)),
         | 4L, nd4, ${varE("d4")}, ${varE("d4")} * 10000
         |   div (4 * greatest(${varE("d1")}, 1)),
         | 8L, nd8, ${varE("d8")}, ${varE("d8")} * 10000
         |   div (8 * greatest(${varE("d1")}, 1)))
         | AS (k, n_diffs, var_k, vr_e4)""".stripMargin))
      .orderBy(col("k"))
  }

  /** Trend-slope influence of the worst day (J68): the leave-one-out
    * slope shift when the single most deviant day (max |y·n − Σy|
    * mean-deviation, earliest-day ties — the anomaly family's
    * deviation definition) is removed — computed BY ALGEBRA from the
    * same moment sums (st' = st − t₀ etc., the sourceInfluence
    * discipline: one pass, never a second regression). Answers "is
    * the trend real or one bad day?" — slope and LOO slope agreeing
    * in sign and magnitude is the robustness check a dashboard trend
    * arrow should carry.
    *
    * Exactness: t recentred to day − min(day) (keeps products in
    * BIGINT range and is identical arithmetic in both engines);
    * slope_e6 = (n·sty − st·sy)·10⁶ div (n·stt − st²), the regrSlope
    * text; both slopes share it.
    *
    * Shape: daily census → 1-row moment fold + 1-row worst-day pick
    * → algebraic LOO. */
  def slopeInfluence(spark: SparkSession, dir: String): DataFrame = {
    val daily0 = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val dmin = daily0.agg(min(col("day")).as("d0"))
    val daily = daily0.crossJoin(broadcast(dmin))
      .select((col("day") - col("d0")).as("t"), col("y"))
    val m = daily.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
      sum(col("y")).as("sy"), sum(expr("t * y")).as("sty"),
      sum(expr("t * t")).as("stt"))
    val worst = daily.crossJoin(broadcast(m))
      .orderBy(abs(col("y") * col("n") - col("sy")).desc, col("t"))
      .limit(1).select(col("t").as("t0"), col("y").as("y0"))
    m.crossJoin(broadcast(worst))
      .select(col("n"), col("t0"), col("y0"),
        expr("""(n * sty - st * sy) * 1000000
          | div greatest(n * stt - st * st, 1)""".stripMargin)
          .as("slope_e6"),
        expr("""((n - 1) * (sty - t0 * y0) - (st - t0) * (sy - y0))
          | * 1000000 div greatest((n - 1) * (stt - t0 * t0)
          | - (st - t0) * (st - t0), 1)""".stripMargin)
          .as("slope_loo_e6"))
      .select(col("n"), col("t0"), col("y0"), col("slope_e6"),
        col("slope_loo_e6"),
        (col("slope_loo_e6") - col("slope_e6")).as("shift_e6"))
  }

  /** Hurst exponent via the aggregated-variance method (J75):
    * is the event stream long-range dependent? Block-sum the ranked
    * HOURLY counts at scales m ∈ {1,2,4,8} (hourly, not daily: the
    * 30-day fixture span gives a DAILY census only 3 blocks at m=8 —
    * a meaningless variance whose measured H landed at −0.35; the
    * ~720-hour census keeps ≥90 blocks at the coarsest scale at every
    * SF); for self-similar
    * traffic Var(block sums) ∝ m^{2H}, so H is half the slope of
    * ln Var vs ln m. H ≈ 0.5 = short-memory (Poisson-like), H → 1 =
    * long-range dependence — the number that says whether capacity
    * planning can use Poisson models or must assume burst persistence
    * (the LRD companion of q_llm_burstiness' Fano factor and
    * q_ts_acf's fixed-lag correlations: those see one scale, H sees
    * the scaling LAW). Blocks drop the ragged tail (rank ≤ ⌊K/8⌋·8)
    * so every scale aggregates the identical span.
    *
    * Exactness: block sums are integer; Var_e4 per scale is the
    * n·Σs²−(Σs)² form (one e4 truncating div, greatest-1 guarded);
    * ln floors once to e3; the log-log slope over the four EQUALLY
    * SPACED ln m points (spacing ln 2) reduces to the closed weights
    * (−3,−1,+1,+3)/(10·ln2), so hurst_e3 = (3y₈+y₄−y₂−3y₁)·1000 div
    * 13860 — one final truncation (13860 = 2·10·693, ln2 on the
    * shared e3 grid).
    *
    * Shape (100 TB): one partial-aggregable hourly census; everything
    * after is span-sized (the ts-family discipline) — the ×4 scale
    * fan-out rides the ~720-row hourly frame, never the fact table. */
  def hurst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = events(spark, dir)
      .withColumn("d", epochHour)
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val rk = hourly.withColumn("r",
      row_number().over(Window.orderBy(col("d"))).cast("long"))
    val km = rk.agg(expr("(count(1) div 8) * 8").as("rmax"))
    val b = rk.crossJoin(broadcast(km)).filter(col("r") <= col("rmax"))
      .crossJoin(broadcast(Seq(1L, 2L, 4L, 8L).toDF("m")))
      .groupBy(col("m"), expr("(r - 1) div m").as("blk"))
      .agg(sum(col("n")).as("s"))
    // the moment lane accumulates in DECIMAL(38,0)/HUGEINT: at large
    // SF the hourly block sums push s² and n·Σs²
    // past 2⁶³ — the assortativity/ebShrinkage overflow lesson. The
    // REPORTING column var_e4 stays BIGINT: it re-overflows only when
    // the block-sum std exceeds ~3×10⁷ events/hour (var·10⁴ > 2⁶³), a
    // documented corpus bound far past 100 TB event rates.
    val v = b.groupBy(col("m"))
      .agg(count(lit(1)).as("n_blocks"),
        expr("""CAST(greatest(
          |   (count(1) * sum(CAST(s AS DECIMAL(38,0)) * s)
          |    - sum(CAST(s AS DECIMAL(38,0)))
          |      * sum(CAST(s AS DECIMAL(38,0))))
          | * 10000 div (count(1) * count(1)),
          | CAST(1 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
          .as("var_e4"))
      .withColumn("ln_var_e3",
        expr("CAST(floor(ln(var_e4) * 1000 + 0.5) AS BIGINT)"))
    val h = v.agg(expr(
      """CAST((3 * max(CASE WHEN m = 8 THEN ln_var_e3 END)
        |      + max(CASE WHEN m = 4 THEN ln_var_e3 END)
        |      - max(CASE WHEN m = 2 THEN ln_var_e3 END)
        |  - 3 * max(CASE WHEN m = 1 THEN ln_var_e3 END))
        | * 1000 div 13860 AS BIGINT)""".stripMargin).as("hurst_e3"))
    v.crossJoin(broadcast(h))
      .select(col("m"), col("n_blocks"), col("var_e4"),
        col("ln_var_e3"), col("hurst_e3"))
      .orderBy(col("m"))
  }

  /** SMA crossover regime census (J85): 7-day vs 28-day
    * trailing moving averages over the daily event census — golden
    * crosses (short rises above long), death crosses, the last
    * crossing day, and the current regime: the trend-reversal detector
    * behind every "activity is rolling over" alert, complementing the
    * point anomaly rows (anomaly_mad flags days, this row flags regime
    * CHANGES). Comparison is cross-multiplied (4·sum7 vs sum28) so no
    * division exists at all; windows are ROWS over observed days (the
    * fixture census has no gap days; a gapped deploy resamples first —
    * q_ts_resample is the documented upstream).
    *
    * Shape: one partial-aggregable day census → two running-sum
    * windows + one lag over the ~span-sized series (span-sized, never
    * corpus-sized) → 1-row fold. */
  def smaCrossover(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val ord = Window.orderBy(col("day"))
    val scored = daily
      .withColumn("i", row_number().over(ord))
      .withColumn("s7", sum(col("c")).over(ord.rowsBetween(-6, 0)))
      .withColumn("s28", sum(col("c")).over(ord.rowsBetween(-27, 0)))
      .filter(col("i") >= 28)
      .withColumn("above", expr("4 * s7 > s28"))
      .withColumn("prev", lag(col("above"), 1).over(ord))
    scored.agg(count(lit(1)).as("n_days_eval"),
      sum(when(col("prev").isNotNull && !col("prev") && col("above"), 1L)
        .otherwise(0L)).as("n_golden"),
      sum(when(col("prev").isNotNull && col("prev") && !col("above"), 1L)
        .otherwise(0L)).as("n_death"),
      coalesce(max(when(col("prev").isNotNull &&
        col("prev") =!= col("above"), col("day"))), lit(-1L))
        .as("last_cross_day"),
      expr("max_by(above, day)").as("regime_now"))
  }

  /** Per-event-type weekday seasonal strength (J88): the
    * Hyndman strength 1 − SS(resid)/SS(detrended) computed PER TYPE —
    * WHICH event types are weekday-driven, where q_ts_stl_lite reports
    * one global number (a flat aggregate census can hide one strongly
    * weekly type under five arrhythmic ones). Same centered-7-day
    * detrend and dow-means model as the global row, so the two can
    * never disagree about what "seasonal strength" means.
    *
    * Exactness: the per-(type, dow) seasonal mean is a SIGNED sum over
    * detrended values, so it rides the shift idiom
    * ((Σ + n·10⁶) div n − 10⁶) — Spark's div truncates toward zero,
    * DuckDB's // floors, and they only agree on nonnegative operands
    * (the global stl_lite's sums stay nonnegative at fixture scale;
    * per-type ones don't). Squared sums are sign-free; the final ratio
    * rides the DECIMAL overflow lane like the global row.
    *
    * Shape: one (type, day) census → per-type windows over span-sized
    * series → (type × 7)-row seasonal model (constant: event types are
    * a schema enum) → |types| output rows. */
  def seasonalStrengthByType(spark: SparkSession,
      dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-3, 3)
    val det = events(spark, dir)
      .withColumn("d", epochDay)
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("x"))
      .withColumn("sw", sum(col("x")).over(w))
      .withColumn("cw", count(lit(1)).over(w))
      .withColumn("det", col("x") - expr("sw div cw"))
      .withColumn("dow", col("d") % 7)
    val s = det.groupBy(col("event_type"), col("dow"))
      .agg(expr("(sum(det) + count(1) * 1000000) div count(1)" +
        " - 1000000").as("sdow"))
    det.join(broadcast(s), Seq("event_type", "dow"))
      .withColumn("resid", col("det") - col("sdow"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("det") * col("det")).as("ssq_det"),
        sum(col("resid") * col("resid")).as("ssq_resid"))
      .select(col("event_type"), col("n_days"), col("ssq_det"),
        col("ssq_resid"),
        expr("""CAST(greatest(0, 10000
          | - CAST(ssq_resid AS DECIMAL(38,0)) * 10000
          |   div greatest(ssq_det, 1)) AS BIGINT)""".stripMargin)
          .as("strength_e4"))
      .orderBy(col("event_type"))
  }

  /** Holt–Winters additive seasonal smoothing (J91): the
    * SEASONAL member that completes the exponential-smoothing family —
    * q_ts_ewma (level), q_ts_holt (level+trend), this row
    * (level+trend+weekday seasonality) — over the global daily
    * activity series with period 7. α = β = γ = 1/2 keeps every
    * update a BIGINT halving: l′ = ((x−s)+(l+b)) div 2,
    * b′ = (b+Δl) div 2, s′ = (s+(x−l′)) div 2. Seasonal slots key on
    * the ACTUAL weekday (d mod 7), not the observation position, so a
    * gapped series (sf0.001) still aligns its seasonality; zero-seeded
    * seasonal state with b₀ = 0, l₀ = x₁ (the gap-proof init — a
    * first-week init assumes the first 7 days are dense).
    *
    * Emits the 7-row per-dow forecast table (level, trend, s_dow, and
    * the if-tomorrow-were-this-dow forecast l+b+s) — the planner's
    * view, and the forecasting twin of q_ts_seasonal's descriptive
    * dow means. Signed halvings: both engines truncate toward zero
    * (the holt row's measured note), so plain div/`//` agree on the
    * full signed domain.
    *
    * Shape (100 TB): one partial-aggregable day census → ONE ordered
    * fold over the span-sized series (the per-key-sequence contract;
    * here the key is global, the series is span-days long — constant
    * per corpus-year, not corpus-sized). */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val pts = dailyCounts(spark, dir)
      .agg(expr("array_sort(collect_list(struct(d, x)))").as("pts"))
    val lp = "((p.x - element_at(acc.s, CAST(p.d % 7 + 1 AS INT)))" +
      " + acc.l + acc.b) div 2"
    val st = pts.select(expr(
      s"""aggregate(slice(pts, 2, size(pts) - 1),
         |  named_struct(
         |    'l', pts[0].x, 'b', CAST(0 AS BIGINT),
         |    's', array(0L, 0L, 0L, 0L, 0L, 0L, 0L)),
         |  (acc, p) -> named_struct(
         |    'l', $lp,
         |    'b', (acc.b + ($lp - acc.l)) div 2,
         |    's', transform(acc.s, (v, j) ->
         |      IF(CAST(j AS BIGINT) = p.d % 7,
         |        (v + (p.x - (((p.x - v) + acc.l + acc.b) div 2)))
         |          div 2,
         |        v))))""".stripMargin).as("st"))
    st.select(posexplode(col("st.s")).as(Seq("dw", "s_c")),
        col("st.l").as("level_c"), col("st.b").as("trend_c"))
      .select(col("dw").cast("long").as("dow"), col("s_c"),
        col("level_c"), col("trend_c"),
        (col("level_c") + col("trend_c") + col("s_c"))
          .as("forecast_c"))
      .orderBy(col("dow"))
  }

  /** SES α-sweep by one-step MAE (J92): simple exponential
    * smoothing over the daily activity series at α ∈ {1/4, 1/2, 3/4},
    * scored by the one-step-ahead mean absolute error — the
    * TUNING member of the smoothing family (ewma/holt/holt_winters
    * all assume α = 1/2; this row MEASURES whether the data agrees,
    * the q_llm_bm25_sweep discipline applied to forecasting). Each
    * arm's update is an exact BIGINT blend — (3l+x)/4, (l+x)/2,
    * (l+3x)/4 — and the error accumulates BEFORE the update (the
    * forecast for day t is the level after day t−1), so MAE is a true
    * out-of-sample one-step score, not a fit residual.
    *
    * Exactness: nonnegative integer folds (counts), one truncating
    * div for the final MAE. Shape: one day census → three constant
    * folds over the span-sized series (the holt_winters contract). */
  def sesAlphaSweep(spark: SparkSession, dir: String): DataFrame = {
    val pts = dailyCounts(spark, dir)
      .agg(expr("transform(array_sort(collect_list(struct(d, x)))," +
        " r -> r.x)").as("vals"))
      .localCheckpoint() // 1 row; feeds three arms
    def arm(aE2: Long, upd: String): DataFrame =
      pts.select(lit(aE2).as("alpha_e2"),
        expr("CAST(size(vals) AS BIGINT)").as("n_days"),
        expr(s"""aggregate(slice(vals, 2, size(vals) - 1),
          |  named_struct('l', vals[0], 'e', CAST(0 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    'l', $upd,
          |    'e', acc.e + abs(x - acc.l)))""".stripMargin).as("st"))
        .select(col("alpha_e2"), col("n_days"),
          col("st.l").as("level_c"),
          // greatest(n-1, 1): on a degenerate single-day series both
          // engines then emit mae=0 instead of diverging (Spark div 0
          // → NULL vs DuckDB // 0 → error)
          expr("st.e * 100 div greatest(n_days - 1, 1)").as("mae_e2"))
    arm(25L, "(3 * acc.l + x) div 4")
      .unionAll(arm(50L, "(acc.l + x) div 2"))
      .unionAll(arm(75L, "(acc.l + 3 * x) div 4"))
      .orderBy(col("alpha_e2"))
  }

  /** Binary-segmentation changepoints (J96): the
    * multi-changepoint extension q_ts_cusum's scaladoc promises —
    * executed. Level 1 finds the global CUSUM argmax over the daily
    * activity series; level 2 re-runs the identical statistic inside
    * each resulting half. Emits one row per segment search (lvl 1,
    * 2L, 2R) with bounds, the located day, the scaled statistic, and
    * the mean levels either side of the cut — the triage table for
    * "did the feed change once or repeatedly".
    *
    * Exactness: the cusum row's scaled form — stat_i = |n·S_i − i·S_n|
    * per SEGMENT (prefix sums re-based inside the segment), pure
    * BIGINT; segment means ×100 with one truncating div each; argmax
    * tie-break earliest index.
    *
    * Shape (100 TB): the series is the span-sized day census (constant
    * per corpus-year); all three searches are windows over that tiny
    * frame — the corpus-sized work is the one partial-aggregable
    * census, exactly like cusum. */
  def changepoint2(spark: SparkSession, dir: String): DataFrame = {
    val dc = dailyCounts(spark, dir)
      .withColumn("i", row_number().over(
        Window.orderBy(col("d"))).cast("long"))
      .localCheckpoint() // span-sized; feeds all three level searches
    val n = dc.count()
    def search(level: String, lo: Long, hi: Long): DataFrame = {
      val seg = dc.filter(col("i") >= lo && col("i") <= hi)
        .withColumn("j", (col("i") - lit(lo) + 1L))
      val w = Window.orderBy(col("j"))
      val m = hi - lo + 1
      seg
        .withColumn("s_j", sum(col("x")).over(w))
        .withColumn("s_m", sum(col("x")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("j") < m) // a cut needs both sides non-empty
        .withColumn("stat",
          abs(lit(m) * col("s_j") - col("j") * col("s_m")))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("stat").desc, col("j"))))
        .filter(col("rn") === 1)
        .select(lit(level).as("level"), lit(lo).as("lo_idx"),
          lit(hi).as("hi_idx"), (col("j") + lit(lo) - 1L).as("cp_idx"),
          col("d").as("cp_day"), col("stat"),
          expr("s_j * 100 div j").as("mean_before_e2"),
          expr(s"(s_m - s_j) * 100 div ($m - j)").as("mean_after_e2"))
    }
    val l1 = search("1", 1L, n)
    val cp1 = l1.collect().head.getLong(3) // control-plane: one long
    l1.unionAll(search("2L", 1L, cp1))
      .unionAll(search("2R", cp1 + 1, n))
      .orderBy(col("level"))
  }

  /** One-sided CUSUM control chart (J99): the SEQUENTIAL
    * monitor the offline changepoint rows are not — S_t = max(0,
    * S_{t−1} + (x_t − μ₀ − k)) with slack k = μ₀/20 and decision
    * threshold h = μ₀, S resetting after each alarm (the Page 1954
    * restart form). q_ts_cusum asks "where DID the level shift";
    * this row is the chart that would have PAGED on the shift day —
    * alarms, the max excursion, and the first alarm's day index
    * (0 = never fired; an honest zero on a stationary feed IS the
    * chart's verdict). Parameters are data-relative (μ₀-scaled), so
    * the row is scale-free by construction.
    *
    * Exactness: μ₀ = ΣX div n (one truncating div), then a pure
    * BIGINT fold; signed intermediate (x − μ₀ − k) only ever enters
    * max(0, ·) sums — no signed division anywhere.
    *
    * Shape (100 TB): one day census → one constant fold over the
    * span-sized series (the holt_winters contract); μ₀ is a 1-row
    * broadcast. */
  def cusumControl(spark: SparkSession, dir: String): DataFrame = {
    val pts = dailyCounts(spark, dir)
      .agg(expr("transform(array_sort(collect_list(struct(d, x)))," +
        " r -> r.x)").as("vals"))
    pts
      .withColumn("n_days", expr("CAST(size(vals) AS BIGINT)"))
      .withColumn("mu", expr(
        "aggregate(vals, 0L, (a, x) -> a + x) div size(vals)"))
      .withColumn("k", expr("mu div 20"))
      .withColumn("h", col("mu"))
      .withColumn("st", expr(
        """aggregate(vals,
          |  named_struct('s', CAST(0 AS BIGINT),
          |    'alarms', CAST(0 AS BIGINT),
          |    'maxs', CAST(0 AS BIGINT),
          |    'first', CAST(0 AS BIGINT),
          |    'i', CAST(0 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    's', IF(greatest(0L, acc.s + (x - mu - k)) >= h,
          |           0L, greatest(0L, acc.s + (x - mu - k))),
          |    'alarms', acc.alarms +
          |      IF(greatest(0L, acc.s + (x - mu - k)) >= h, 1L, 0L),
          |    'maxs', greatest(acc.maxs,
          |      greatest(0L, acc.s + (x - mu - k))),
          |    'first', IF(acc.first = 0L AND
          |      greatest(0L, acc.s + (x - mu - k)) >= h,
          |      acc.i + 1, acc.first),
          |    'i', acc.i + 1))""".stripMargin))
      .select(col("n_days"), col("mu"), col("k"), col("h"),
        col("st.alarms").as("n_alarms"),
        col("st.maxs").as("max_stat"),
        col("st.first").as("first_alarm_idx"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ts_cusum_control" -> cusumControl,
    "q_ts_changepoint2" -> changepoint2,
    "q_ts_ses_alpha_sweep" -> sesAlphaSweep,
    "q_ts_holt_winters" -> holtWinters,
    "q_ts_sma_crossover" -> smaCrossover,
    "q_ts_seasonal_strength_by_type" -> seasonalStrengthByType,
    "q_ts_hurst" -> hurst,
    "q_ts_slope_influence" -> slopeInfluence,
    "q_ts_stl_resid_acf" -> stlResidAcf,
    "q_ts_variance_ratio" -> varianceRatio,
    "q_ts_bollinger" -> bollinger,
    "q_ts_sax_motifs" -> saxMotifs,
    "q_ts_pacf" -> pacf,
    "q_ts_runs_test" -> runsTest,
    "q_ts_perm_entropy" -> permEntropy,
    "q_ts_turning_points" -> turningPoints,
    "q_ts_wow_growth" -> wowGrowth,
    "q_ts_rolling_slope" -> rollingSlope,
    "q_ts_period_detect" -> periodDetect,
    "q_ts_ljung_box" -> ljungBox,
    "q_ts_max_drawdown" -> maxDrawdown,
    "q_ts_anomaly_attribution" -> anomalyAttribution,
    "q_ts_forecast_baselines" -> forecastBaselines,
    "q_ts_stl_lite" -> stlLite,
    "q_ts_kendall_tau" -> kendallTau,
    "q_ts_mann_kendall" -> mannKendall,
    "q_ts_theil_sen" -> theilSen,
    "q_ts_anova_dow" -> anovaDow,
    "q_ts_changepoint" -> changepoint,
    "q_ts_spearman_trend" -> spearmanTrend,
    "q_ts_xcorr" -> crossCorrelation,
    "q_ts_time_weighted_avg" -> timeWeightedAvg,
    "q_ts_m4_downsample" -> m4Downsample,
    "q_ts_acf" -> acfLags,
    "q_ts_seasonal" -> seasonalProfile,
    "q_ts_cusum" -> cusum,
    "q_ts_holt" -> holt,
    "q_ts_ewma" -> ewma,
    "q_ts_rolling_median" -> rollingMedian,
    "q_ts_resample" -> resample,
    "q_ts_interp_linear" -> interpLinear,
    "q_ts_anomaly_mad" -> anomalyMad,
    "q_ts_regr_slope" -> regrSlope,
  )

  val oracle: Map[String, String] = Map(
    "q_ts_cusum_control" ->
      """WITH RECURSIVE dc AS (SELECT
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT d, x,
        |   CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
        |  FROM dc),
        |pp AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) // count(*) AS BIGINT) AS mu FROM o),
        |p AS (SELECT n, mu, mu // 20 AS k, mu AS h FROM pp),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s,
        |    CAST(0 AS BIGINT) AS alarms, CAST(0 AS BIGINT) AS maxs,
        |    CAST(0 AS BIGINT) AS fst
        |  UNION ALL
        |  SELECT r.i + 1,
        |    CASE WHEN greatest(0, r.s + (t.x - p.mu - p.k)) >= p.h
        |      THEN 0 ELSE greatest(0, r.s + (t.x - p.mu - p.k)) END,
        |    r.alarms + CASE WHEN greatest(0, r.s + (t.x - p.mu - p.k))
        |      >= p.h THEN 1 ELSE 0 END,
        |    greatest(r.maxs, greatest(0, r.s + (t.x - p.mu - p.k))),
        |    CASE WHEN r.fst = 0 AND
        |      greatest(0, r.s + (t.x - p.mu - p.k)) >= p.h
        |      THEN r.i + 1 ELSE r.fst END
        |  FROM rec r JOIN o t ON t.i = r.i + 1 CROSS JOIN p)
        |SELECT p.n AS n_days, p.mu, p.k, p.h,
        |  CAST(r.alarms AS BIGINT) AS n_alarms,
        |  CAST(r.maxs AS BIGINT) AS max_stat,
        |  CAST(r.fst AS BIGINT) AS first_alarm_idx
        |FROM rec r JOIN p ON r.i = p.n""".stripMargin,
    "q_ts_changepoint2" ->
      """WITH dc AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT d, x,
        |   CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
        |  FROM dc),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |seg1 AS (SELECT o.d, o.i AS j, nn.n AS m,
        |   CAST(sum(o.x) OVER (ORDER BY o.i) AS BIGINT) AS s_j,
        |   CAST(sum(o.x) OVER () AS BIGINT) AS s_m
        |  FROM o CROSS JOIN nn),
        |st1 AS (SELECT *, abs(m * s_j - j * s_m) AS stat,
        |   row_number() OVER (ORDER BY abs(m * s_j - j * s_m) DESC, j)
        |     AS rn FROM seg1 WHERE j < m),
        |c1 AS (SELECT * FROM st1 WHERE rn = 1),
        |seg2l AS (SELECT d, j, m,
        |   CAST(sum(x) OVER (ORDER BY j) AS BIGINT) AS s_j,
        |   CAST(sum(x) OVER () AS BIGINT) AS s_m
        |  FROM (SELECT o.d, o.x, o.i AS j, c1.j AS m
        |        FROM o CROSS JOIN c1 WHERE o.i <= c1.j)),
        |st2l AS (SELECT *, abs(m * s_j - j * s_m) AS stat,
        |   row_number() OVER (ORDER BY abs(m * s_j - j * s_m) DESC, j)
        |     AS rn FROM seg2l WHERE j < m),
        |c2l AS (SELECT * FROM st2l WHERE rn = 1),
        |seg2r AS (SELECT d, j, m,
        |   CAST(sum(x) OVER (ORDER BY j) AS BIGINT) AS s_j,
        |   CAST(sum(x) OVER () AS BIGINT) AS s_m
        |  FROM (SELECT o.d, o.x, o.i - c1.j AS j, nn.n - c1.j AS m
        |        FROM o CROSS JOIN c1 CROSS JOIN nn
        |        WHERE o.i > c1.j)),
        |st2r AS (SELECT *, abs(m * s_j - j * s_m) AS stat,
        |   row_number() OVER (ORDER BY abs(m * s_j - j * s_m) DESC, j)
        |     AS rn FROM seg2r WHERE j < m),
        |c2r AS (SELECT * FROM st2r WHERE rn = 1)
        |SELECT '1' AS level, CAST(1 AS BIGINT) AS lo_idx,
        |  nn.n AS hi_idx, c1.j AS cp_idx, c1.d AS cp_day, c1.stat,
        |  CAST(c1.s_j * 100 // c1.j AS BIGINT) AS mean_before_e2,
        |  CAST((c1.s_m - c1.s_j) * 100 // (c1.m - c1.j) AS BIGINT)
        |    AS mean_after_e2
        |FROM c1 CROSS JOIN nn
        |UNION ALL
        |SELECT '2L', CAST(1 AS BIGINT), c1.j, c2l.j, c2l.d, c2l.stat,
        |  CAST(c2l.s_j * 100 // c2l.j AS BIGINT),
        |  CAST((c2l.s_m - c2l.s_j) * 100 // (c2l.m - c2l.j) AS BIGINT)
        |FROM c2l CROSS JOIN c1
        |UNION ALL
        |SELECT '2R', c1.j + 1, nn.n, c2r.j + c1.j, c2r.d, c2r.stat,
        |  CAST(c2r.s_j * 100 // c2r.j AS BIGINT),
        |  CAST((c2r.s_m - c2r.s_j) * 100 // (c2r.m - c2r.j) AS BIGINT)
        |FROM c2r CROSS JOIN c1 CROSS JOIN nn
        |ORDER BY level""".stripMargin,
    "q_ts_ses_alpha_sweep" ->
      """WITH RECURSIVE dc AS (SELECT
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT d, x, row_number() OVER (ORDER BY d) AS i
        |  FROM dc),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |arms AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS a),
        |rec AS (
        |  SELECT arms.a, CAST(1 AS BIGINT) AS i, o.x AS l,
        |    CAST(0 AS BIGINT) AS e
        |  FROM o CROSS JOIN arms WHERE o.i = 1
        |  UNION ALL
        |  SELECT r.a, r.i + 1,
        |    CASE WHEN r.a = 25 THEN (3 * r.l + t.x) // 4
        |         WHEN r.a = 50 THEN (r.l + t.x) // 2
        |         ELSE (r.l + 3 * t.x) // 4 END,
        |    r.e + abs(t.x - r.l)
        |  FROM rec r JOIN o t ON t.i = r.i + 1)
        |SELECT r.a AS alpha_e2, nn.n AS n_days, r.l AS level_c,
        |  CAST(r.e * 100 // greatest(nn.n - 1, 1) AS BIGINT) AS mae_e2
        |FROM rec r JOIN nn ON r.i = nn.n
        |ORDER BY alpha_e2""".stripMargin,
    "q_ts_holt_winters" ->
      """WITH RECURSIVE dc AS (SELECT
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT d, x, row_number() OVER (ORDER BY d) AS i
        |  FROM dc),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |rec AS (
        |  SELECT CAST(1 AS BIGINT) AS i, x AS l,
        |    CAST(0 AS BIGINT) AS b,
        |    [CAST(0 AS BIGINT) for j in range(1, 8)] AS s
        |  FROM o WHERE i = 1
        |  UNION ALL
        |  SELECT r.i + 1,
        |    ((t.x - r.s[CAST(t.d % 7 + 1 AS INT)]) + r.l + r.b) // 2,
        |    (r.b + (((t.x - r.s[CAST(t.d % 7 + 1 AS INT)])
        |       + r.l + r.b) // 2 - r.l)) // 2,
        |    [CASE WHEN j = t.d % 7 + 1
        |       THEN (r.s[CAST(j AS INT)] + (t.x
        |         - (((t.x - r.s[CAST(j AS INT)]) + r.l + r.b) // 2)))
        |         // 2
        |       ELSE r.s[CAST(j AS INT)] END
        |     for j in range(1, 8)] AS s
        |  FROM rec r JOIN o t ON t.i = r.i + 1),
        |fin AS (SELECT r.l, r.b, r.s FROM rec r JOIN nn
        |  ON r.i = nn.n),
        |g AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS j)
        |SELECT g.j - 1 AS dow,
        |  CAST(fin.s[CAST(g.j AS INT)] AS BIGINT) AS s_c,
        |  fin.l AS level_c, fin.b AS trend_c,
        |  fin.l + fin.b + fin.s[CAST(g.j AS INT)] AS forecast_c
        |FROM fin CROSS JOIN g ORDER BY dow""".stripMargin,
    "q_ts_seasonal_strength_by_type" ->
      """WITH dc AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |det AS (SELECT event_type, d, x,
        |   x - (sum(x) OVER (PARTITION BY event_type ORDER BY d
        |         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |     // (count(*) OVER (PARTITION BY event_type ORDER BY d
        |         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS det,
        |   d % 7 AS dow FROM dc),
        |s AS (SELECT event_type, dow,
        |   CAST((sum(det) + count(*) * 1000000) // count(*)
        |     - 1000000 AS BIGINT) AS sdow
        |  FROM det GROUP BY 1, 2),
        |r AS (SELECT det.event_type, det.det,
        |   det.det - s.sdow AS resid
        |  FROM det JOIN s ON det.event_type = s.event_type
        |   AND det.dow = s.dow)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(det * det) AS BIGINT) AS ssq_det,
        | CAST(sum(resid * resid) AS BIGINT) AS ssq_resid,
        | CAST(greatest(0, 10000 - CAST(sum(resid * resid) AS HUGEINT)
        |   * 10000 // greatest(sum(det * det), 1)) AS BIGINT)
        |   AS strength_e4
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_sma_crossover" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c, row_number() OVER (ORDER BY day) AS i,
        |   sum(c) OVER (ORDER BY day
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
        |   sum(c) OVER (ORDER BY day
        |     ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28
        |  FROM d),
        |f AS (SELECT day, 4 * s7 > s28 AS above FROM w WHERE i >= 28),
        |g AS (SELECT day, above, lag(above) OVER (ORDER BY day) AS prev
        |  FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND NOT prev AND above
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_golden,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND prev AND NOT above
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_death,
        | CAST(coalesce(max(CASE WHEN prev IS NOT NULL AND prev <> above
        |   THEN day END), -1) AS BIGINT) AS last_cross_day,
        | arg_max(above, day) AS regime_now
        |FROM g""".stripMargin,
    "q_ts_hurst" ->
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS d,
        |   CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |rk AS (SELECT n, CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |   AS r FROM hourly),
        |km AS (SELECT (count(*) // 8) * 8 AS rmax FROM rk),
        |b AS (SELECT m, (r - 1) // m AS blk,
        |   CAST(sum(n) AS BIGINT) AS s
        |  FROM rk CROSS JOIN km
        |  CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (2), (4), (8)) ms(m)
        |  WHERE r <= rmax GROUP BY 1, 2),
        |v AS (SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
        |   CAST(greatest((count(*) * sum(CAST(s AS HUGEINT) * s)
        |     - sum(CAST(s AS HUGEINT)) * sum(CAST(s AS HUGEINT)))
        |     * 10000 // (count(*) * count(*)), 1) AS BIGINT) AS var_e4
        |  FROM b GROUP BY 1),
        |y AS (SELECT m, n_blocks, var_e4,
        |   CAST(floor(ln(var_e4) * 1000 + 0.5) AS BIGINT) AS ln_var_e3
        |  FROM v),
        |h AS (SELECT CAST((3 * max(CASE WHEN m = 8 THEN ln_var_e3 END)
        |      + max(CASE WHEN m = 4 THEN ln_var_e3 END)
        |      - max(CASE WHEN m = 2 THEN ln_var_e3 END)
        |  - 3 * max(CASE WHEN m = 1 THEN ln_var_e3 END))
        |  * 1000 // 13860 AS BIGINT) AS hurst_e3 FROM y)
        |SELECT m, n_blocks, var_e4, ln_var_e3, hurst_e3
        |FROM y CROSS JOIN h ORDER BY m""".stripMargin,
    "q_ts_slope_influence" ->
      """WITH d0 AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |dm AS (SELECT min(day) AS mn FROM d0),
        |daily AS (SELECT day - mn AS t, y FROM d0 CROSS JOIN dm),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(t) AS BIGINT) AS st,
        |   CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(t * y) AS BIGINT) AS sty,
        |   CAST(sum(t * t) AS BIGINT) AS stt FROM daily),
        |w AS (SELECT t AS t0, y AS y0 FROM daily CROSS JOIN m
        |  ORDER BY abs(y * n - sy) DESC, t LIMIT 1)
        |SELECT n, CAST(t0 AS BIGINT) AS t0, y0,
        | (n * sty - st * sy) * 1000000
        |   // greatest(n * stt - st * st, 1) AS slope_e6,
        | ((n - 1) * (sty - t0 * y0) - (st - t0) * (sy - y0))
        |   * 1000000 // greatest((n - 1) * (stt - t0 * t0)
        |   - (st - t0) * (st - t0), 1) AS slope_loo_e6,
        | ((n - 1) * (sty - t0 * y0) - (st - t0) * (sy - y0))
        |   * 1000000 // greatest((n - 1) * (stt - t0 * t0)
        |   - (st - t0) * (st - t0), 1)
        |  - (n * sty - st * sy) * 1000000
        |   // greatest(n * stt - st * st, 1) AS shift_e6
        |FROM m CROSS JOIN w""".stripMargin,
    "q_ts_stl_resid_acf" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |det AS (SELECT d, x,
        |   x - (sum(x) OVER w7) // (count(*) OVER w7) AS det,
        |   d % 7 AS dow
        |  FROM daily WINDOW w7 AS (ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |s AS (SELECT dow, CAST(sum(det) // count(*) AS BIGINT)
        |   AS sdow FROM det GROUP BY 1),
        |res AS (SELECT d, det.det - s.sdow AS res
        |  FROM det JOIN s ON det.dow = s.dow),
        |mu AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(res) AS BIGINT) AS sr,
        |   CAST(sum(res) // count(*) AS BIGINT) AS m FROM res),
        |e AS (SELECT d, res - m AS e FROM res CROSS JOIN mu),
        |l AS (SELECT e, lag(e, 1) OVER (ORDER BY d) AS e1,
        |   lag(e, 2) OVER (ORDER BY d) AS e2,
        |   lag(e, 3) OVER (ORDER BY d) AS e3 FROM e),
        |mom AS (SELECT max(mu.n) AS n,
        |   CAST(sum(e * e) AS BIGINT) AS den,
        |   CAST(sum(e * e1) AS BIGINT) AS c1,
        |   CAST(sum(e * e2) AS BIGINT) AS c2,
        |   CAST(sum(e * e3) AS BIGINT) AS c3
        |  FROM l CROSS JOIN mu)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS k, n AS n_days, c1 AS cov, den,
        |  c1 * 10000 // greatest(den, 1) AS r_e4,
        |  CAST(c1 AS HUGEINT) * c1 * n * 10000
        |   <= CAST(38416 AS HUGEINT) * den * den AS white_95 FROM mom
        | UNION ALL SELECT 2, n, c2, den,
        |  c2 * 10000 // greatest(den, 1),
        |  CAST(c2 AS HUGEINT) * c2 * n * 10000
        |   <= CAST(38416 AS HUGEINT) * den * den FROM mom
        | UNION ALL SELECT 3, n, c3, den,
        |  c3 * 10000 // greatest(den, 1),
        |  CAST(c3 AS HUGEINT) * c3 * n * 10000
        |   <= CAST(38416 AS HUGEINT) * den * den FROM mom) u
        |ORDER BY k""".stripMargin,
    "q_ts_variance_ratio" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |l AS (SELECT x - lag(x, 1) OVER w AS d1,
        |   x - lag(x, 2) OVER w AS d2,
        |   x - lag(x, 4) OVER w AS d4,
        |   x - lag(x, 8) OVER w AS d8
        |  FROM daily WINDOW w AS (ORDER BY day)),
        |m AS (SELECT
        |   CAST(count(d1) AS BIGINT) AS nd1,
        |   CAST(sum(d1) AS BIGINT) AS sd1,
        |   CAST(sum(d1 * d1) AS BIGINT) AS ssd1,
        |   CAST(count(d2) AS BIGINT) AS nd2,
        |   CAST(sum(d2) AS BIGINT) AS sd2,
        |   CAST(sum(d2 * d2) AS BIGINT) AS ssd2,
        |   CAST(count(d4) AS BIGINT) AS nd4,
        |   CAST(sum(d4) AS BIGINT) AS sd4,
        |   CAST(sum(d4 * d4) AS BIGINT) AS ssd4,
        |   CAST(count(d8) AS BIGINT) AS nd8,
        |   CAST(sum(d8) AS BIGINT) AS sd8,
        |   CAST(sum(d8 * d8) AS BIGINT) AS ssd8
        |  FROM l),
        |r AS (
        | SELECT 2 AS k, nd2 AS n_diffs,
        |  (ssd2 - sd2 * sd2 // nd2) // nd2 AS var_k,
        |  ((ssd2 - sd2 * sd2 // nd2) // nd2) * 10000
        |   // (2 * greatest((ssd1 - sd1 * sd1 // nd1) // nd1, 1))
        |   AS vr_e4 FROM m
        | UNION ALL SELECT 4, nd4,
        |  (ssd4 - sd4 * sd4 // nd4) // nd4,
        |  ((ssd4 - sd4 * sd4 // nd4) // nd4) * 10000
        |   // (4 * greatest((ssd1 - sd1 * sd1 // nd1) // nd1, 1))
        |  FROM m
        | UNION ALL SELECT 8, nd8,
        |  (ssd8 - sd8 * sd8 // nd8) // nd8,
        |  ((ssd8 - sd8 * sd8 // nd8) // nd8) * 10000
        |   // (8 * greatest((ssd1 - sd1 * sd1 // nd1) // nd1, 1))
        |  FROM m)
        |SELECT CAST(k AS BIGINT) AS k, n_diffs,
        | CAST(var_k AS BIGINT) AS var_k, CAST(vr_e4 AS BIGINT) AS vr_e4
        |FROM r ORDER BY k""".stripMargin,
    "q_ts_bollinger" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |w AS (SELECT day, x,
        |   CAST(count(*) OVER win AS BIGINT) AS n,
        |   CAST(sum(x) OVER win AS BIGINT) AS s,
        |   CAST(sum(x * x) OVER win AS BIGINT) AS ss
        |  FROM daily
        |  WINDOW win AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, x, s * 100 // n AS mean_e2,
        | (x * n - s) > 0 AND (x * n - s) * (x * n - s)
        |   > 4 * (n * ss - s * s) AS breach_up,
        | (x * n - s) < 0 AND (x * n - s) * (x * n - s)
        |   > 4 * (n * ss - s * s) AS breach_dn
        |FROM w WHERE n = 7 ORDER BY day""".stripMargin,
    "q_ts_sax_motifs" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |blocks AS (SELECT day // 7 AS blk,
        |   CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY 1),
        |p AS (SELECT blk, s // c AS paa FROM blocks),
        |sym AS (SELECT blk,
        |   ntile(4) OVER (ORDER BY paa, blk) AS sym FROM p),
        |sq AS (SELECT blk, sym,
        |   lead(sym, 1) OVER (ORDER BY blk) AS s1,
        |   lead(sym, 2) OVER (ORDER BY blk) AS s2 FROM sym),
        |w AS (SELECT concat(chr(CAST(96 + sym AS INTEGER)),
        |   chr(CAST(96 + s1 AS INTEGER)),
        |   chr(CAST(96 + s2 AS INTEGER))) AS word
        |  FROM sq WHERE s2 IS NOT NULL),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        |  FROM w GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
        |SELECT word, n, n * 10000 // nn AS share_e4
        |FROM c CROSS JOIN tot ORDER BY word""".stripMargin,
    "q_ts_perm_entropy" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |t AS (SELECT x, lead(x, 1) OVER (ORDER BY day) AS x1,
        |   lead(x, 2) OVER (ORDER BY day) AS x2 FROM daily),
        |p AS (SELECT (CASE WHEN x1 >= x THEN 4 ELSE 0 END)
        |   + (CASE WHEN x2 >= x1 THEN 2 ELSE 0 END)
        |   + (CASE WHEN x2 >= x THEN 1 ELSE 0 END) AS pattern
        |  FROM t WHERE x2 IS NOT NULL),
        |c AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |h AS (SELECT max(nn) AS nn,
        |   CAST(sum(n * (CAST(floor(ln(nn) * 1000 + 0.5) AS BIGINT)
        |     - CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)))
        |     // max(nn) AS BIGINT) AS h_e3
        |  FROM c CROSS JOIN tot)
        |SELECT CAST(pattern AS BIGINT) AS pattern, n,
        | n * 10000 // h.nn AS share_e4, h_e3,
        | h_e3 * 10000 // 1792 AS pe_norm_e4
        |FROM c CROSS JOIN h ORDER BY pattern""".stripMargin,
    "q_ts_pacf" ->
      """WITH m AS (
        |  SELECT user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
        |    epoch_ns(ts) AS ts_ns, event_id
        |  FROM events),
        |c0 AS (
        |  SELECT user_id, x, ts_ns, event_id,
        |    x - (CAST(sum(x) OVER (PARTITION BY user_id) AS BIGINT)
        |      // CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT))
        |      AS c
        |  FROM m),
        |l AS (
        |  SELECT user_id, c,
        |    lead(c, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_ns, event_id) AS c1,
        |    lead(c, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts_ns, event_id) AS c2,
        |    lead(c, 3) OVER (PARTITION BY user_id
        |      ORDER BY ts_ns, event_id) AS c3
        |  FROM c0),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c * c) AS BIGINT) AS den,
        |    CAST(coalesce(sum(c * c1), 0) AS BIGINT) AS num1,
        |    CAST(coalesce(sum(c * c2), 0) AS BIGINT) AS num2,
        |    CAST(coalesce(sum(c * c3), 0) AS BIGINT) AS num3
        |  FROM l GROUP BY 1),
        |r AS (
        |  SELECT user_id, n,
        |    num1 * 10000 // den AS r1, num2 * 10000 // den AS r2,
        |    num3 * 10000 // den AS r3
        |  FROM a WHERE den > 0),
        |d2 AS (
        |  SELECT *, r2 * 10000 - r1 * r1 AS n2v,
        |    100000000 - r1 * r1 AS d2v
        |  FROM r),
        |f AS (
        |  SELECT *,
        |    r3 * 10000 * d2v - r1 * r2 * (d2v - n2v)
        |      - n2v * r1 * 10000 AS num3p,
        |    100000000 * d2v - r1 * r1 * (d2v - n2v)
        |      - n2v * r2 * 10000 AS den3p
        |  FROM d2 WHERE d2v > 0)
        |SELECT user_id, n, r1 AS r1_e4, r2 AS r2_e4, r3 AS r3_e4,
        |  r1 AS pacf1_e4,
        |  n2v * 10000 // d2v AS pacf2_e4,
        |  CAST(CAST(num3p AS HUGEINT) * 10000 // den3p AS BIGINT)
        |    AS pacf3_e4
        |FROM f WHERE den3p > 0
        |ORDER BY user_id""".stripMargin,
    "q_ts_runs_test" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |dl AS (
        |  SELECT user_id, d, y,
        |    y - lag(y) OVER (PARTITION BY user_id ORDER BY d) AS dy
        |  FROM daily),
        |sg AS (
        |  SELECT user_id, d,
        |    CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
        |  FROM dl WHERE dy IS NOT NULL AND dy <> 0),
        |ch AS (
        |  SELECT user_id, s,
        |    CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY d)
        |      IS DISTINCT FROM s THEN 1 ELSE 0 END AS chg
        |  FROM sg),
        |r AS (
        |  SELECT user_id, CAST(sum(chg) AS BIGINT) AS r_runs,
        |    CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down
        |  FROM ch GROUP BY 1)
        |SELECT user_id, n_up, n_down, r_runs,
        |  ((r_runs - 1) * (n_up + n_down) - 2 * n_up * n_down)
        |    * ((r_runs - 1) * (n_up + n_down) - 2 * n_up * n_down)
        |    * (n_up + n_down - 1) * 10000 >
        |  38416 * (2 * n_up * n_down)
        |    * (2 * n_up * n_down - (n_up + n_down)) AS nonrandom_95
        |FROM r WHERE 2 * n_up * n_down > n_up + n_down
        |ORDER BY user_id""".stripMargin,
    "q_ts_turning_points" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, y,
        |    lag(y) OVER (PARTITION BY user_id ORDER BY d) AS pv,
        |    lead(y) OVER (PARTITION BY user_id ORDER BY d) AS nx
        |  FROM daily),
        |t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_interior,
        |    CAST(sum(CASE WHEN (pv < y AND nx < y)
        |      OR (pv > y AND nx > y) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_pts
        |  FROM w WHERE pv IS NOT NULL AND nx IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_interior + 2 AS n_days, t_pts,
        |  2 * n_interior AS expected_3t,
        |  (3 * t_pts - 2 * n_interior) * (3 * t_pts - 2 * n_interior)
        |    * 100000 > 38416 * (16 * (n_interior + 2) - 29)
        |    AS nonrandom_95
        |FROM t WHERE n_interior + 2 >= 4
        |ORDER BY user_id""".stripMargin,
    "q_ts_wow_growth" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |f AS (SELECT d, rev, lag(rev, 7) OVER (ORDER BY d) AS prev
        |  FROM daily)
        |SELECT d AS day, rev AS rev_cents,
        |  CAST(prev AS BIGINT) AS prev_week_cents,
        |  CAST(CASE WHEN prev IS NOT NULL AND prev > 0
        |   THEN rev * 10000 // prev ELSE NULL END AS BIGINT) AS wow_e4
        |FROM f ORDER BY day""".stripMargin,
    "q_ts_rolling_slope" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |w AS (SELECT d, x,
        |   count(*) OVER win AS n, sum(d) OVER win AS sd,
        |   sum(x) OVER win AS sx, sum(d * x) OVER win AS sdx,
        |   sum(d * d) OVER win AS sdd
        |  FROM daily WINDOW win AS (ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT d AS day, CAST(n AS BIGINT) AS n_window,
        |  CAST(CASE WHEN n * sdd - sd * sd <> 0
        |   THEN (n * sdx - sd * sx) * 1000000 // (n * sdd - sd * sd)
        |   ELSE 0 END AS BIGINT) AS slope_e6
        |FROM w ORDER BY day""".stripMargin,
    "q_ts_period_detect" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |mu AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS m
        |  FROM daily),
        |c AS (SELECT d, x - mu.m AS c FROM daily CROSS JOIN mu),
        |den AS (SELECT CAST(sum(c * c) AS BIGINT) AS den FROM c),
        |lags AS (SELECT CAST(unnest(range(2, 11)) AS BIGINT) AS lag),
        |acf AS (SELECT lags.lag,
        |   CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS num
        |  FROM lags LEFT JOIN c a ON true
        |  JOIN c b ON b.d = a.d + lags.lag
        |  GROUP BY lags.lag),
        |r AS (SELECT acf.lag, acf.num,
        |   CAST((acf.num + den.den) * 10000
        |     // greatest(2 * den.den, 1) AS BIGINT) AS acf_shift_e4
        |  FROM acf CROSS JOIN den),
        |best AS (SELECT min(lag) AS detected_period FROM r
        |  WHERE acf_shift_e4 = (SELECT max(acf_shift_e4) FROM r))
        |SELECT r.lag, r.acf_shift_e4, best.detected_period,
        |  r.lag = best.detected_period AS is_peak
        |FROM r CROSS JOIN best ORDER BY r.lag""".stripMargin,
    "q_ts_ljung_box" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events),
        |m AS (SELECT *, sum(x) OVER (PARTITION BY user_id)
        |   // count(*) OVER (PARTITION BY user_id) AS mean_x FROM e),
        |cc AS (SELECT user_id, event_id, ts_us, x - mean_x AS c
        |  FROM m),
        |w AS (SELECT user_id, c,
        |   lead(c, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c1,
        |   lead(c, 2) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c2,
        |   lead(c, 3) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c3
        |  FROM cc),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c * c) AS BIGINT) AS den,
        |   CAST(coalesce(sum(c * c1), 0) AS BIGINT) AS num1,
        |   CAST(coalesce(sum(c * c2), 0) AS BIGINT) AS num2,
        |   CAST(coalesce(sum(c * c3), 0) AS BIGINT) AS num3
        |  FROM w GROUP BY 1)
        |SELECT user_id, n,
        |  CAST(n * (n + 2)
        |    * ((num1 * 10000 // greatest(den, 1))
        |         * (num1 * 10000 // greatest(den, 1))
        |         // greatest(n - 1, 1)
        |     + (num2 * 10000 // greatest(den, 1))
        |         * (num2 * 10000 // greatest(den, 1))
        |         // greatest(n - 2, 1)
        |     + (num3 * 10000 // greatest(den, 1))
        |         * (num3 * 10000 // greatest(den, 1))
        |         // greatest(n - 3, 1))
        |    // 10000 AS BIGINT) AS q_e4,
        |  n * (n + 2)
        |    * ((num1 * 10000 // greatest(den, 1))
        |         * (num1 * 10000 // greatest(den, 1))
        |         // greatest(n - 1, 1)
        |     + (num2 * 10000 // greatest(den, 1))
        |         * (num2 * 10000 // greatest(den, 1))
        |         // greatest(n - 2, 1)
        |     + (num3 * 10000 // greatest(den, 1))
        |         * (num3 * 10000 // greatest(den, 1))
        |         // greatest(n - 3, 1))
        |    // 10000 > 78150 AS white_noise_rejected
        |FROM g ORDER BY user_id""".stripMargin,
    "q_ts_max_drawdown" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |r AS (SELECT d, x,
        |   max(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) AS peak
        |  FROM daily),
        |dd AS (SELECT d, x, peak, peak - x AS dd FROM r),
        |mx AS (SELECT max(dd) AS max_dd FROM dd),
        |pick AS (SELECT min(d) AS trough_day FROM dd CROSS JOIN mx
        |  WHERE dd.dd = mx.max_dd)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(mx.max_dd) AS BIGINT) AS max_drawdown,
        |  CAST(max(CASE WHEN dd.d = pick.trough_day THEN dd.peak END)
        |    AS BIGINT) AS peak_level,
        |  CAST(max(CASE WHEN dd.d = pick.trough_day THEN dd.x END)
        |    AS BIGINT) AS trough_level,
        |  CAST(max(CASE WHEN dd.d = pick.trough_day
        |    THEN dd.dd * 10000 // greatest(dd.peak, 1) END) AS BIGINT)
        |    AS dd_share_e4,
        |  CAST(max(pick.trough_day) AS BIGINT) AS trough_day
        |FROM dd CROSS JOIN mx CROSS JOIN pick""".stripMargin,
    "q_ts_anomaly_attribution" ->
      """WITH td AS (SELECT event_type AS t,
        |   epoch_us(ts) // 86400000000 AS d,
        |   CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |med AS (SELECT t,
        |   CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN c END)
        |     AS BIGINT) AS med
        |  FROM (SELECT t, c,
        |     row_number() OVER (PARTITION BY t ORDER BY c) AS rn,
        |     count(*) OVER (PARTITION BY t) AS cnt FROM td)
        |  GROUP BY t),
        |g AS (SELECT d, CAST(sum(c) AS BIGINT) AS x FROM td
        |  GROUP BY d),
        |gm AS (SELECT CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN x
        |    END) AS BIGINT) AS m
        |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn,
        |     count(*) OVER () AS cnt FROM g)),
        |pick AS (SELECT min(g.d) AS aday FROM g CROSS JOIN gm
        |  WHERE abs(g.x - gm.m) =
        |    (SELECT max(abs(x - m)) FROM g CROSS JOIN gm)),
        |dev AS (SELECT med.t, pick.aday, coalesce(td.c, 0) AS c_day,
        |   med.med, coalesce(td.c, 0) - med.med AS dev
        |  FROM med CROSS JOIN pick
        |  LEFT JOIN td ON td.t = med.t AND td.d = pick.aday),
        |tot AS (SELECT CAST(sum(abs(dev)) AS BIGINT) AS sad FROM dev)
        |SELECT dev.t AS event_type,
        |  CAST(dev.aday AS BIGINT) AS anomaly_day,
        |  CAST(dev.c_day AS BIGINT) AS c_day,
        |  dev.med AS median_daily, CAST(dev.dev AS BIGINT) AS dev,
        |  CAST(dev.dev * 10000 // greatest(tot.sad, 1) AS BIGINT)
        |    AS share_e4
        |FROM dev CROSS JOIN tot ORDER BY event_type""".stripMargin,
    "q_ts_forecast_baselines" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |f AS (SELECT d, x,
        |   lag(x, 1) OVER (ORDER BY d) AS f1,
        |   lag(x, 7) OVER (ORDER BY d) AS f7
        |  FROM daily),
        |e AS (SELECT CAST(count(f1) AS BIGINT) AS n1,
        |   CAST(sum(abs(x - f1)) AS BIGINT) AS sae1,
        |   CAST(count(f7) AS BIGINT) AS n7,
        |   CAST(sum(CASE WHEN f7 IS NOT NULL THEN abs(x - f7) END)
        |     AS BIGINT) AS sae7
        |  FROM f)
        |SELECT n1 AS n_naive, n7 AS n_snaive,
        |  CAST(sae1 * 100 // greatest(n1, 1) AS BIGINT)
        |    AS mae_naive_x100,
        |  CAST(sae7 * 100 // greatest(n7, 1) AS BIGINT)
        |    AS mae_snaive_x100,
        |  sae7 * 100 // greatest(n7, 1) < sae1 * 100 // greatest(n1, 1)
        |    AS snaive_better
        |FROM e""".stripMargin,
    "q_ts_stl_lite" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |t AS (SELECT d, x, sum(x) OVER w // count(*) OVER w AS tr
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (SELECT d, d % 7 AS dow, x - tr AS det FROM t),
        |s AS (SELECT dow, CAST(sum(det) // count(*) AS BIGINT) AS sdow
        |  FROM det GROUP BY 1),
        |r AS (SELECT det.dow, det.det, det.det - s.sdow AS resid
        |  FROM det JOIN s ON s.dow = det.dow),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(sum(det * det) AS BIGINT) AS ssq_det,
        |   CAST(sum(resid * resid) AS BIGINT) AS ssq_resid FROM r),
        |piv AS (SELECT
        |   CAST(max(CASE WHEN dow = 0 THEN sdow END) AS BIGINT) AS s0,
        |   CAST(max(CASE WHEN dow = 1 THEN sdow END) AS BIGINT) AS s1,
        |   CAST(max(CASE WHEN dow = 2 THEN sdow END) AS BIGINT) AS s2,
        |   CAST(max(CASE WHEN dow = 3 THEN sdow END) AS BIGINT) AS s3,
        |   CAST(max(CASE WHEN dow = 4 THEN sdow END) AS BIGINT) AS s4,
        |   CAST(max(CASE WHEN dow = 5 THEN sdow END) AS BIGINT) AS s5,
        |   CAST(max(CASE WHEN dow = 6 THEN sdow END) AS BIGINT) AS s6
        |  FROM s)
        |SELECT agg.n_days, piv.s0, piv.s1, piv.s2, piv.s3, piv.s4,
        |  piv.s5, piv.s6, agg.ssq_det, agg.ssq_resid,
        |  CAST(greatest(0, 10000 - CAST(ssq_resid AS HUGEINT) * 10000
        |    // greatest(ssq_det, 1)) AS BIGINT) AS strength_e4
        |FROM agg CROSS JOIN piv""".stripMargin,
    "q_ts_kendall_tau" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
        |  FROM events GROUP BY 1),
        |p AS (SELECT b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |  CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |  CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties_x,
        |  CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties_y,
        |  CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS ties_both
        | FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n.n_days, c.n_pairs, c.concordant, c.discordant,
        |  c.ties_x, c.ties_y, c.ties_both,
        |  CAST(CASE WHEN concordant >= discordant THEN 1 ELSE -1 END
        |    * ((CAST(concordant - discordant AS HUGEINT)
        |        * (concordant - discordant) * 100000000)
        |       // greatest(CAST(n_pairs - ties_x AS HUGEINT)
        |        * (n_pairs - ties_y), 1)) AS BIGINT) AS taub2_e8
        |FROM c CROSS JOIN n""".stripMargin,
    "q_ts_mann_kendall" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.user_id,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |    ELSE 0 END AS sg
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.d < b.d),
        |nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM daily GROUP BY 1),
        |s AS (SELECT user_id, CAST(sum(sg) AS BIGINT) AS s_stat,
        |   CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1)
        |SELECT s.user_id AS user_id, nd.n AS n_days, s.n_pairs,
        |  s.s_stat, nd.n * (nd.n - 1) * (2 * nd.n + 5) AS var18,
        |  s.s_stat > 0 AS trend_up,
        |  s.s_stat * s.s_stat * 180000 >
        |    38416 * nd.n * (nd.n - 1) * (2 * nd.n + 5) AS significant_95
        |FROM s JOIN nd ON s.user_id = nd.user_id
        |ORDER BY s.user_id""".stripMargin,
    "q_ts_theil_sen" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.user_id, (b.y - a.y) * 1000000 // (b.d - a.d) AS s
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.d < b.d),
        |r AS (
        |  SELECT user_id, s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM slopes)
        |SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_pairs,
        |  CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN s END) AS BIGINT)
        |    AS theil_sen_e6
        |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_ts_anova_dow" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   count(*) AS x FROM events GROUP BY 1),
        |d2 AS (SELECT day, x, day % 7 AS dow FROM daily),
        |mu AS (SELECT dow, count(*) AS ng, sum(x) AS sg,
        |   sum(x) // count(*) AS mug FROM d2 GROUP BY dow),
        |tot AS (SELECT count(*) AS n, sum(x) AS s,
        |   sum(x) // count(*) AS mu FROM d2),
        |f AS (SELECT max(tot.n) AS n_days,
        |   count(DISTINCT d2.dow) AS k_groups,
        |   sum((x - mug) * (x - mug)) AS ssw,
        |   sum((mug - tot.mu) * (mug - tot.mu)) AS ssb
        |  FROM d2 JOIN mu ON mu.dow = d2.dow CROSS JOIN tot)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        | CAST(k_groups AS BIGINT) AS k_groups,
        | CAST(ssw AS BIGINT) AS ssw, CAST(ssb AS BIGINT) AS ssb,
        | CAST(ssb * (n_days - k_groups) * 10000
        |   // greatest(ssw * (k_groups - 1), 1) AS BIGINT) AS f_e4,
        | ssb * (n_days - k_groups) * 10000
        |   // greatest(ssw * (k_groups - 1), 1) >= 22500 AS seasonal_95
        |FROM f""".stripMargin,
    "q_ts_changepoint" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   count(*) AS x FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS t_days, sum(x) AS s_tot FROM daily),
        |c AS (SELECT day,
        |   CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
        |   sum(x) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
        |  FROM daily),
        |sc AS (SELECT day, idx AS n1, tot.t_days - idx AS n2, s1,
        |   tot.s_tot - s1 AS s2,
        |   CAST((s1 * (tot.t_days - idx) - (tot.s_tot - s1) * idx)
        |     * (s1 * (tot.t_days - idx) - (tot.s_tot - s1) * idx)
        |     // greatest(idx * (tot.t_days - idx), 1) AS BIGINT) AS score
        |  FROM c CROSS JOIN tot WHERE idx < tot.t_days),
        |mx AS (SELECT max(score) AS best_score FROM sc),
        |pick AS (SELECT min(day) AS split_day, mx.best_score
        |  FROM sc CROSS JOIN mx WHERE sc.score = mx.best_score
        |  GROUP BY mx.best_score)
        |SELECT pick.split_day,
        | CAST(sc.n1 AS BIGINT) AS n_left,
        | CAST(sc.n2 AS BIGINT) AS n_right,
        | CAST(sc.s1 // sc.n1 AS BIGINT) AS mean_left,
        | CAST(sc.s2 // sc.n2 AS BIGINT) AS mean_right,
        | CAST(pick.best_score AS BIGINT) AS score
        |FROM pick JOIN sc ON sc.day = pick.split_day""".stripMargin,
    "q_ts_spearman_trend" ->
      """WITH ev AS (SELECT event_type, event_id,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |   epoch_us(ts) * 1000 AS ts_ns FROM events),
        |r AS (SELECT event_type,
        |   CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY cents, event_id) AS BIGINT) AS rv,
        |   CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY ts_ns, event_id) AS BIGINT) AS rt
        |  FROM ev),
        |f AS (SELECT event_type, count(*) AS n,
        |   sum((rv - rt) * (rv - rt)) AS sum_d2
        |  FROM r GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | CAST(sum_d2 AS BIGINT) AS sum_d2,
        | CAST(10000 - sum_d2 * 60000
        |   // greatest(n * (n * n - 1), 1) AS BIGINT) AS rho_e4
        |FROM f ORDER BY event_type""".stripMargin,
    "q_ts_xcorr" ->
      """WITH x AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   count(*) AS x FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1),
        |y AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |   count(*) AS y FROM events WHERE event_type = 'error'
        |  GROUP BY 1),
        |l AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag)
        |SELECT CAST(l.lag AS BIGINT) AS lag,
        | CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(x.x * y.y) AS BIGINT) AS sxy,
        | CAST(sum(x.x) AS BIGINT) AS sx,
        | CAST(sum(y.y) AS BIGINT) AS sy
        |FROM x CROSS JOIN l JOIN y ON x.day + l.lag = y.day
        |GROUP BY l.lag ORDER BY lag""".stripMargin,
    "q_ts_time_weighted_avg" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |l AS (SELECT event_type, cents,
        |   lead(ts_us) OVER (PARTITION BY event_type
        |     ORDER BY ts_us, event_id) - ts_us AS dt
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        | CAST(sum(dt) AS BIGINT) AS span_us,
        | CAST(sum(cents * dt) // greatest(sum(dt), 1) AS BIGINT)
        |   AS twa_cents
        |FROM l WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_m4_downsample" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |span AS (SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM e),
        |b AS (SELECT e.*, (ts_us - t0) * 32 // (t1 - t0 + 1) AS bucket
        |  FROM e CROSS JOIN span),
        |o AS (SELECT *,
        |   row_number() OVER (PARTITION BY event_type, bucket
        |     ORDER BY ts_us ASC, event_id ASC) AS rn_a,
        |   row_number() OVER (PARTITION BY event_type, bucket
        |     ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n,
        | min(cents) AS v_min, max(cents) AS v_max,
        | max(CASE WHEN rn_a = 1 THEN cents END) AS v_first,
        | max(CASE WHEN rn_d = 1 THEN cents END) AS v_last
        |FROM o GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,
    "q_ts_acf" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events),
        |m AS (SELECT *, sum(x) OVER (PARTITION BY user_id)
        |   // count(*) OVER (PARTITION BY user_id) AS mean_x FROM e),
        |cc AS (SELECT user_id, event_id, ts_us, x - mean_x AS c FROM m),
        |w AS (SELECT user_id, c,
        |   lead(c, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c1,
        |   lead(c, 2) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c2,
        |   lead(c, 3) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS c3
        |  FROM cc),
        |g AS (SELECT user_id, count(*) AS n, sum(c * c) AS den,
        |   coalesce(sum(c * c1), 0) AS num1,
        |   coalesce(sum(c * c2), 0) AS num2,
        |   coalesce(sum(c * c3), 0) AS num3
        |  FROM w GROUP BY 1),
        |u AS (SELECT user_id, n, den, 1 AS lag, num1 AS num FROM g
        | UNION ALL SELECT user_id, n, den, 2, num2 FROM g
        | UNION ALL SELECT user_id, n, den, 3, num3 FROM g)
        |SELECT user_id, lag, CAST(n AS BIGINT) AS n,
        | CAST(den AS BIGINT) AS den, CAST(num AS BIGINT) AS num,
        | CAST((num + den) * 10000 // greatest(2 * den, 1) AS BIGINT)
        |   AS acf_shift_e4
        |FROM u ORDER BY user_id, lag""".stripMargin,
    "q_ts_seasonal" ->
      """WITH e AS (SELECT event_id, event_type, hour(ts) AS hr,
        |   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_e6
        |  FROM events),
        |prof AS (SELECT event_type, hr, count(*) AS n,
        |   CAST(CAST(sum(v_e6) AS BIGINT) // count(*) AS BIGINT)
        |     AS mean_e6
        |  FROM e GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, e.hr, e.v_e6, prof.mean_e6,
        | abs(e.v_e6 - prof.mean_e6) AS dev_e6
        |FROM e JOIN prof
        |  ON e.event_type = prof.event_type AND e.hr = prof.hr
        |ORDER BY dev_e6 DESC, e.event_id LIMIT 20""".stripMargin,
    // Recursive CTE, NOT a struct-state list_reduce: this DuckDB
    // build's vectorized list_reduce mis-evaluates struct-literal
    // lambdas over column data (constant-folded literals are fine —
    // measured, K=3 prefix already diverges), so the coupled fold is
    // expressed as per-step recursion on scalar columns instead.
    "q_ts_holt" ->
      """WITH RECURSIVE t AS (SELECT user_id,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS i
        |  FROM events),
        |nn AS (SELECT user_id, count(*) AS n FROM t GROUP BY user_id),
        |rec AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS i, x AS l,
        |    CAST(0 AS BIGINT) AS b
        |  FROM t WHERE i = 1
        |  UNION ALL
        |  SELECT r.user_id, r.i + 1,
        |    (t.x + r.l + r.b) // 2,
        |    (r.b + ((t.x + r.l + r.b) // 2 - r.l)) // 2
        |  FROM rec r JOIN t ON t.user_id = r.user_id AND t.i = r.i + 1)
        |SELECT r.user_id, nn.n, r.l AS level_c, r.b AS trend_c,
        | r.l + r.b AS forecast_c
        |FROM rec r JOIN nn ON nn.user_id = r.user_id AND r.i = nn.n
        |ORDER BY r.user_id""".stripMargin,
    "q_ts_cusum" ->
      """WITH x AS (SELECT user_id,
        |   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS i
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT user_id, i, v,
        |   sum(v) OVER (PARTITION BY user_id ORDER BY i) AS s_i,
        |   sum(v) OVER (PARTITION BY user_id) AS s_n,
        |   count(*) OVER (PARTITION BY user_id) AS n
        |  FROM x),
        |st AS (SELECT user_id, i, n,
        |   CAST(abs(n * s_i - i * s_n) AS BIGINT) AS stat,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY abs(n * s_i - i * s_n) DESC, i) AS rn
        |  FROM c)
        |SELECT user_id, n, i AS cp_idx, stat AS cp_stat
        |FROM st WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_ts_ewma" ->
      """WITH t AS (SELECT user_id, event_id, ts,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS centi
        |  FROM events),
        |g AS (SELECT user_id, count(*) AS n_events,
        |   list(centi ORDER BY ts, event_id) AS vals
        |  FROM t GROUP BY user_id)
        |SELECT user_id, n_events, vals[-1] AS last_centi,
        | list_reduce(vals, (a, b) -> (a + b) // 2) AS ewma_centi
        |FROM g ORDER BY user_id""".stripMargin,
    "q_ts_regr_slope" ->
      """WITH e AS (SELECT user_id,
        |   epoch_us(ts) // 3600000000 AS ts_h,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |m AS (SELECT *, ts_h - min(ts_h) OVER (PARTITION BY user_id) AS x
        |  FROM e),
        |g AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |   sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM m GROUP BY user_id)
        |SELECT user_id, n, CAST(sy AS BIGINT) AS sy,
        | CAST(CASE WHEN n * sxx - sx * sx <> 0
        |   THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
        |   ELSE 0 END AS BIGINT) AS slope_e6
        |FROM g ORDER BY user_id""".stripMargin,
    "q_ts_rolling_median" ->
      """SELECT event_id, user_id,
        | floor(median(CAST(value AS DOUBLE)) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) * 10000.0 + 0.5)
        |   / 10000.0 AS roll_med
        |FROM events ORDER BY event_id""".stripMargin,
    "q_ts_resample" ->
      """WITH daily AS (SELECT user_id,
        |   CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_ev,
        |   floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS day_val
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |   CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                               CAST(d1 AS TIMESTAMP),
        |                               INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1) b)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        | coalesce(d.n_ev, 0) AS n_ev, d.day_val IS NULL AS is_gap,
        | last_value(d.day_val IGNORE NULLS) OVER (
        |   PARTITION BY g.user_id ORDER BY g.day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM grid g LEFT JOIN daily d
        |  ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, day""".stripMargin,
    "q_ts_interp_linear" ->
      """WITH daily AS (SELECT user_id,
        |   CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_ev,
        |   floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS day_val
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |   CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                               CAST(d1 AS TIMESTAMP),
        |                               INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1) b),
        |j AS (SELECT g.user_id, g.day, d.n_ev, d.day_val,
        |   CASE WHEN d.day_val IS NOT NULL THEN g.day END AS obs_day
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day = d.day),
        |w AS (SELECT user_id, day, n_ev, day_val,
        |   last_value(day_val IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |   last_value(obs_day IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
        |   first_value(day_val IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |   first_value(obs_day IGNORE NULLS) OVER (
        |     PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        | coalesce(n_ev, 0) AS n_ev, day_val IS NULL AS is_gap,
        | CASE WHEN day_val IS NOT NULL THEN day_val
        |   ELSE floor((pv + (nv - pv) *
        |     (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)))
        |     * 10000.0 + 0.5) / 10000.0 END AS interp
        |FROM w ORDER BY user_id, day""".stripMargin,
    "q_ts_anomaly_mad" ->
      """WITH med AS (SELECT event_type, median(value) AS med
        |  FROM events GROUP BY 1),
        |stats AS (SELECT e.event_type, any_value(m.med) AS med,
        |   median(abs(e.value - m.med)) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY 1 HAVING median(abs(e.value - m.med)) > 0),
        |scored AS (SELECT e.event_id, e.event_type,
        |   floor(e.value * 10000.0 + 0.5) / 10000.0 AS value,
        |   floor(abs(e.value - s.med) / s.mad * 10000.0 + 0.5) / 10000.0
        |     AS score
        |  FROM events e JOIN stats s USING (event_type))
        |SELECT event_id, event_type, value, score FROM scored
        |WHERE score > 3.5 ORDER BY event_id""".stripMargin,
  )
}
