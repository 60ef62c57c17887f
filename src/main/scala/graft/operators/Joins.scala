package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.functions.BloomFuncs

/** SURVEY.md §2-C — join operators (broadcast, SMJ, multiway, outer,
  * semi/anti, theta-range, as-of, cross).
  *
  * Reference analogs: the logger correlates log lines/events with the
  * container that produced them (attach-on-start, `since=` bookkeeping in
  * muswarmlogger/loggers.py) — the as-of and theta-range joins are that
  * correlation expressed relationally; dim enrichment mirrors
  * `ContainerEvent.container` metadata lookups (muswarmlogger/events.py).
  *
  * Scale notes:
  * - Small dims (part/customer/nation/region at any realistic scale for
  *   dims) are broadcast — no shuffle of the fact side.
  * - Big-big joins (lineitem⋈orders) shuffle on the join key once; we use
  *   a merge hint to pin SMJ where the test SF would otherwise broadcast.
  * - The theta-range self-join is equi on user_id first (hash/SMJ), range
  *   predicate applied as a post-condition — never a cross product. At
  *   100 TB the equi key would be (user_id, coarse time bucket) to bound
  *   per-key fan-out; AQE skew-split handles hot users.
  * - The as-of join exists in two forms: composed builtin (join +
  *   windowed row_number de-dup, q_join_asof) and the native custom
  *   operator (graft.plans.AsOfJoin, q_join_asof_native) — same
  *   semantics, one sort-merge pass with O(1) state in the native form.
  */
object Joins {

  /** Broadcast hash join: fact ⋈ tiny dim, no fact shuffle. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(partB(spark, dir),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
        col("p_name"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Sort-merge join lineitem⋈orders (merge hint: both sides large at
    * production scale), aggregated down to a small deterministic result. */
  def joinSmj(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(orders(spark, dir).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Shuffled hash join: the third big-join strategy next to
    * SMJ and broadcast — right when both sides are large but one is
    * small enough to hash per-partition and sorting would dominate
    * (SMJ pays two sorts; SHJ builds a hash table on the smaller side
    * after the shuffle). Pinned via the shuffle_hash hint; the plan
    * shape (ShuffledHashJoin, no sort on either side) is asserted in
    * BatchSpec. Aggregated to a small deterministic result. */
  def joinShj(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(orders(spark, dir).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      // quantity is integer-valued: exact BIGINT sum → exact mean
      // (no float-aggregation-order drift vs the oracle)
      .agg(
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"),
        count(lit(1)).as("n_lines"))
      .select(col("o_orderpriority"),
        floor(col("qty_sum").cast("double") / col("n_lines") * 10000.0
          + 0.5).cast("long").as("avg_qty_e4"),
        col("n_lines"))
      .orderBy(col("o_orderpriority"))

  /** Explicit bloom-prefiltered join: build a bloom filter
    * over a SELECTIVE dim side's join keys (high-value orders, ~2% of
    * rows), broadcast the one-row sketch, and drop non-matching fact
    * rows with `BloomFuncs.mightContain` BEFORE the exact join — the
    * user-controlled twin of the optimizer's InjectRuntimeFilter
    * (ScaleSpec proves the injected form; this row proves the explicit
    * form stays EXACT, because the subsequent equi-join removes the
    * bloom's false positives). At 100 TB the fact side never shuffles
    * rows whose keys cannot join: the bloom prunes at the scan. */
  def joinBloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val sel = orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // might_contain requires the sketch as a constant or scalar
    // subquery (the same contract the optimizer's injected form
    // satisfies) — a one-row subquery over the selective key set
    val sketch = sel
      .agg(BloomFuncs.agg(xxhash64(col("o_orderkey")), 100000L, 800000L))
      .scalar()
    lineitem(spark, dir)
      .filter(BloomFuncs.mightContain(sketch, xxhash64(col("l_orderkey"))))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
      .orderBy(col("o_orderpriority"))
  }

  /** Three-way dim chain customer⋈nation⋈region (both dims broadcast). */
  def joinMultiway(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
      .orderBy(col("c_custkey"))

  /** Left outer keeping orphan orders (no matching customer row). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"),
        "left")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
      .orderBy(col("o_orderkey"))

  /** Full outer: keep unmatched rows from BOTH sides — the
    * one outer-join variant the surface was missing. Aggregated per
    * customer first so both null-sides occur and the output is compact.
    * Full outer cannot broadcast (both sides must see all partitions of
    * the other's keys) — Spark plans SMJ; that is the correct shape. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val perCust = orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "full")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_acctbal"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("custkey"))
  }

  /** Left-semi: customers having at least one order (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti: customers with no orders (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Theta/range self-join: same-user event pairs within 5 minutes.
    * Equi on user_id + range post-predicate. µs granularity throughout:
    * DuckDB truncates parquet ns-timestamps to µs, so ns-exact arithmetic
    * would diverge at window boundaries. */
  def joinThetaRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
    val a = ev.select(col("event_id").as("a_id"),
      col("user_id"), col("ts_us").as("a_ts"))
    val b = ev.select(col("event_id").as("b_id"),
      col("user_id").as("b_user"), col("ts_us").as("b_ts"))
    a.join(b, col("user_id") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + lit(300L * 1000 * 1000))
      .select(col("user_id"), col("a_id"), col("b_id"),
        expr("(b_ts - a_ts) div 1000000").as("gap_s"))
      .orderBy(col("user_id"), col("a_id"), col("b_id"))
  }

  /** Binned interval join: point-in-interval join with NO
    * natural equi key — the case the theta-range join above avoids by
    * equi-joining on user first. The scale mechanism: quantize the
    * range dimension into width-100 bins, explode each interval across
    * every bin it overlaps (≤ 2 here, width 50), equi-join point-bin to
    * interval-bin, then apply the exact containment predicate. Each
    * (point, interval) pair meets in exactly one bin — the point's own
    * — so no dedup pass is needed. Turns an O(n·m) nested-loop range
    * join into a shuffle-once hash join whose fan-out is bounded by
    * interval_width / bin_width; Spark's own plan for a bare range
    * predicate is BroadcastNestedLoopJoin, which dies when neither side
    * broadcasts. Points are scaled ×30 to overlap the acctbal domain
    * (unit normalization). */
  def joinRangeBinned(spark: SparkSession, dir: String): DataFrame = {
    val W = 100.0
    val iv = customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("iv_id"),
        (col("c_acctbal") - 25.0).as("lo"), (col("c_acctbal") + 25.0).as("hi"))
      .withColumn("bin", explode(expr(
        s"sequence(CAST(floor(lo / $W) AS BIGINT), CAST(floor(hi / $W) AS BIGINT))")))
    val pts = events(spark, dir)
      .select(col("event_id"), (col("value") * 30.0).as("x"))
      .withColumn("bin", expr(s"CAST(floor(x / $W) AS BIGINT)"))
    pts.join(iv, Seq("bin"))
      .filter(col("x") >= col("lo") && col("x") <= col("hi"))
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n_pts"),
        (floor(sum(col("x")) * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("sum_x"))
      .orderBy(col("iv_id"))
  }

  /** As-of join: each purchase matched to the same user's most recent
    * prior-or-equal signup; ties broken by max signup event_id. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts_us").as("s_ts"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("s_ts").desc, col("s_id").desc)
    purchases
      .join(signups, col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts"), "inner")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p_id"), col("s_id"),
        expr("(p_ts - s_ts) div 1000000").as("age_s"))
      .orderBy(col("user_id"), col("p_id"))
  }

  /** As-of join via the NATIVE custom operator (graft.plans.AsOfJoin:
    * LogicalPlan + Strategy + sort-merge SparkPlan with O(1) merge
    * state) — same semantics and oracle as joinAsof, which keeps the
    * composed-builtin formulation for comparison. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts_us").as("s_ts"))
    graft.plans.AsOfJoinDF
      .asofJoin(spark, purchases, signups,
        probeKey = "user_id", buildKey = "s_user",
        probeTs = "p_ts", buildTs = "s_ts", buildTieBreak = "s_id")
      .select(col("user_id"), col("p_id"), col("s_id"),
        expr("(p_ts - s_ts) div 1000000").as("age_s"))
      .orderBy(col("user_id"), col("p_id"))
  }

  /** As-of join with a staleness TOLERANCE: the production
    * knob the plain backward as-of lacks — a match older than 24 h is
    * worse than no match (stale features poison training rows; stale
    * quotes poison fills). LEFT semantics: every purchase survives,
    * with s_id/age_s NULL and matched = false when the freshest
    * signup in the window is still too old. Same composed-builtin
    * shape as q_join_asof (range-predicated key join + per-probe
    * row_number), with the tolerance as a second band predicate —
    * which also BOUNDS the join fan-out per probe by the window's
    * event count (the plain as-of's fan-out grows with full history;
    * this one is O(events per key per 24 h) at any scale).
    *
    * Fixture split: 708 of 1981 purchases match — both verdict
    * directions are populated. */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts_us").as("s_ts"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("s_ts").desc, col("s_id").desc)
    purchases
      .join(signups,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") > col("p_ts") - lit(86400000000L), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p_id"), col("s_id"),
        expr("(p_ts - s_ts) div 1000000").as("age_s"),
        col("s_id").isNotNull.as("matched"))
      .orderBy(col("user_id"), col("p_id"))
  }

  /** Cross product of the two tiny dims (nested-loop). */
  def joinCrossSmall(spark: SparkSession, dir: String): DataFrame =
    region(spark, dir).select(col("r_name"))
      .crossJoin(nation(spark, dir).select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))

  /** Null-safe equality join: `<=>` / IS NOT DISTINCT
    * FROM — NULL keys match each other instead of vanishing, the
    * semantic every dim-lookup with optional attributes needs (plain
    * equality silently drops the "attribute absent" population). The
    * key here is deliberately nullable: the JSON label value, nulled
    * when divisible by 3 — the NULL group (about a third of rows) is
    * real, not an empty edge case.
    *
    * Scale note: under `<=>` NULL hashes and shuffles as an ordinary
    * key value — and in practice the NULL bucket is the heaviest key
    * in the table (exactly what q_diag_skew measures), so at 100 TB
    * this is the first key you salt or AQE-split. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val kRaw = "try_cast(get_json_object(props, '$.k') AS BIGINT)"
    val e = events(spark, dir).select(col("event_id"),
      expr(s"CASE WHEN $kRaw % 3 <> 0 THEN $kRaw END").as("ek"))
    val d = e.select(col("ek").as("k")).distinct()
    d.join(e, col("ek") <=> col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .select(coalesce(col("k").cast("string"), lit("NULL")).as("k_str"),
        col("n"))
      .orderBy(col("k_str"))
  }

  /** Interval-overlap join: which user pairs were active in
    * OVERLAPPING sessions — the interval×interval sibling of the
    * point-in-range [[joinRangeBinned]] row (concurrency detection,
    * co-presence analysis, meeting/contention windows). Sessions come
    * from the q_sessionize_batch 30-minute-gap build (one user-window
    * pass); each [start,end] interval is exploded onto the 1-hour
    * buckets it covers, candidate pairs come from a bucket EQUI-join
    * (never interval-theta against the whole table), the exact overlap
    * predicate then filters, and a distinct collapses pairs that share
    * several buckets. Overlap length in µs is exact integer
    * (least(ends) − greatest(starts), ≥ 0 by the predicate).
    *
    * Scale: fan-out = interval length / bucket; 30-min-gap sessions
    * are hours at most, so per-session bucket counts stay single-digit
    * (same cap argument as joinRangeBinned's bin width). The bucket
    * join shuffles on (bucket) — time-skew (everyone online at 9am)
    * is the AQE-skew-split case, and the u<v guard halves the pair
    * space. Output bounded top-20. */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val sess = Reshape.sessionEvents(spark, dir)
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    val binned = sess.select(col("user_id"), col("session_no"),
      col("start_us"), col("end_us"),
      explode(expr(
        "sequence(start_us div 3600000000, end_us div 3600000000)"))
        .as("bkt"))
    val a = binned.select(col("user_id").as("ua"),
      col("session_no").as("sa"), col("start_us").as("sa_us"),
      col("end_us").as("ea_us"), col("bkt"))
    val b = binned.select(col("user_id").as("ub"),
      col("session_no").as("sb"), col("start_us").as("sb_us"),
      col("end_us").as("eb_us"), col("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("ua") < col("ub") &&
        col("sa_us") <= col("eb_us") && col("sb_us") <= col("ea_us"))
      .select(col("ua"), col("sa"), col("ub"), col("sb"),
        (least(col("ea_us"), col("eb_us")) -
          greatest(col("sa_us"), col("sb_us"))).as("overlap_us"))
      .distinct()
      .groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("overlap_us")).as("overlap_us_total"))
      .orderBy(col("overlap_us_total").desc, col("ua"), col("ub"))
      .limit(20)
  }

  /** Spatial grid join: parts as 2D points (x = size units, y = retail
    * dollars), find the 20 closest pairs under Chebyshev (L∞) distance
    * ≤ 5 — the proximity-join shape (geo tiles, embedding cells,
    * sensor grids). The plan NEVER runs the interval theta join: each
    * point gets one 5×5 grid cell, the probe side fans out to its 9
    * neighbor cells (explode of a 3×3 offset array — bounded, not
    * data-dependent), candidates come from a cell EQUI-join, and the
    * exact L∞ predicate prunes false candidates. Every qualifying pair
    * is found EXACTLY once (both cells are functions of the points, so
    * the (cell_a → cell_b) edge is unique) — no distinct needed.
    *
    * The oracle is deliberately the NAIVE theta join: the grid is pure
    * optimization, so the hash-match proves plan-shape equivalence,
    * not formula mirroring.
    *
    * Scale: candidate volume = Σ_cell |cell|·|9 neighbors| — linear in
    * points at constant density (vs the quadratic theta join); a dense
    * cell is the AQE skew-split case, same argument as
    * q_join_interval_overlap's buckets. */
  def spatialGrid(spark: SparkSession, dir: String): DataFrame = {
    val pts = part(spark, dir).select(col("p_partkey").as("pk"),
      col("p_size").cast("long").as("x"),
      expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) div 100")
        .as("y"))
      .withColumn("cx", expr("x div 5")).withColumn("cy", expr("y div 5"))
    val probe = pts
      .withColumn("dxy", explode(expr(
        "transform(sequence(0, 8), i -> struct(i div 3 - 1 AS dx," +
          " i % 3 - 1 AS dy))")))
      .select(col("pk").as("a"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dxy.dx")).as("cx"),
        (col("cy") + col("dxy.dy")).as("cy"))
    probe.join(pts.select(col("pk").as("b"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("a") < col("b") &&
        abs(col("ax") - col("bx")) <= 5 && abs(col("ay") - col("by")) <= 5)
      .select(col("a"), col("b"),
        greatest(abs(col("ax") - col("bx")), abs(col("ay") - col("by")))
          .as("cheb"))
      .orderBy(col("cheb"), col("a"), col("b"))
      .limit(20)
  }

  /** NEAREST-event as-of join (both directions, unlike the backward-
    * only q_join_asof): for each user's first purchase, the closest
    * 'error' event of the same user on either side of it — backward
    * wins ties. The "closest reading to the event" join a sensor/
    * observability pipeline needs where backward-only as-of loses the
    * just-after reading.
    *
    * Expressed as ONE conditional aggregate per user (max of ts ≤ probe,
    * min of ts > probe) — no range join, no window over the fact
    * stream; the per-user probe travels with the rows via one
    * key-shuffle join. Users with no error event drop (inner). */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"),
      tsUs.as("ts_us"))
    val probes = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("probe_us"))
    ev.filter(col("event_type") === "error")
      .join(probes, "user_id")
      .groupBy(col("user_id"))
      .agg(max(col("probe_us")).as("probe_us"),
        max(when(col("ts_us") <= col("probe_us"), col("ts_us")))
          .as("back_us"),
        min(when(col("ts_us") > col("probe_us"), col("ts_us")))
          .as("fwd_us"))
      .withColumn("nearest_us", expr(
        "CASE WHEN back_us IS NULL THEN fwd_us" +
          " WHEN fwd_us IS NULL THEN back_us" +
          " WHEN probe_us - back_us <= fwd_us - probe_us THEN back_us" +
          " ELSE fwd_us END"))
      .withColumn("delta_us", expr("abs(probe_us - nearest_us)"))
      .withColumn("direction", expr(
        "CASE WHEN nearest_us <= probe_us THEN 'backward'" +
          " ELSE 'forward' END"))
      .select(col("user_id"), col("probe_us"), col("nearest_us"),
        col("delta_us"), col("direction"))
      .orderBy(col("user_id"))
  }

  /** Salted skew join: the manual hot-key mitigation for the
    * worst join distribution — a fact table whose join key has a
    * handful of giant values (event_type: 5 keys, ~N/5 rows EACH).
    * A plain shuffle join puts every row of a hot key in ONE task;
    * salting spreads each key across S=8 subkeys (salt = pmod of the
    * row-unique event_id hash) and replicates the dim row S ways, so
    * the same join runs on 40 balanced partitions instead of 5
    * stragglers. The merge hint pins a shuffle join on BOTH plans —
    * at fixture scale the dim would otherwise broadcast and hide the
    * skew this row exists to demonstrate (production case: the dim is
    * itself too big to broadcast).
    *
    * The enrolled output is the post-join rollup, which provably
    * equals the UNSALTED join's rollup (salting is a partition-level
    * identity: every (row, dim-row) match pairs exactly once, with
    * salt = that row's salt) — the oracle runs the plain join, so a
    * hash match IS the identity proof; BatchSpec additionally pins
    * the salt key into the executed join and the absence of a
    * broadcast. AQE's skew-split does this automatically for sort-
    * merge stages (ScaleSpec pins that engagement); the manual salt
    * is the form that also works under bucketing and in older
    * runtimes, and the one you reach for when AQE's thresholds
    * don't fire. */
  def joinSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val dim = events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val dimSalted = dim
      .withColumn("salt", explode(expr(s"sequence(0, ${S - 1})")))
    val fact = events(spark, dir)
      .withColumn("salt", expr(s"pmod(hash(event_id), $S)"))
    fact.hint("merge")
      .join(dimSalted.hint("merge"), Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), max(col("n_type")).as("n_type"),
        sum(cents("value"))
          .as("cents_total"))
      .withColumn("match_ok", col("n_rows") === col("n_type"))
      .orderBy(col("event_type"))
  }

  /** Mutual nearest-neighbor join (J52): customer↔supplier pairs in
    * the same nation that each pick the OTHER as their closest
    * account-balance peer — the 1-D version of the mutual-kNN filter
    * embedding-alignment pipelines use to keep only high-confidence
    * matches. Distance = |cents diff|, tie-break = lower neighbor key
    * (the brute-force `ORDER BY d, key` order).
    *
    * Scale design — NO per-nation cross product: in one dimension the
    * nearest neighbor is ADJACENT in sort order, so each direction is
    * a union + one window pass (the as-of-join shape): sort
    * (nation, cents) with the neighbor side deduped to min-key per
    * cents (which is exactly what makes prev/next tie-breaks equal
    * the brute-force order), take prev/next neighbor via
    * last/first-ignoreNulls, pick the nearer map-side. O(n log n)
    * per direction vs the O(|C|·|S|) candidate join the oracle uses
    * (oracle scale only). Mutuality = one equi-join of the two
    * directed best frames on the (ck, sk) pair.
    *
    * Equal-cents rows sort neighbor-first (side 0 < 1), so a zero-
    * distance neighbor is always the `prev` — deterministic without
    * any float. */
  def mutualNn(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).select(col("c_nationkey").as("nk"),
      col("c_custkey").as("ck"),
      cents("c_acctbal").as("cb"))
    val s = supplier(spark, dir).select(col("s_nationkey").as("nk"),
      col("s_suppkey").as("sk"),
      cents("s_acctbal").as("sb"))
    val sd = s.groupBy(col("nk"), col("sb")).agg(min(col("sk")).as("sk"))
    val cd = c.groupBy(col("nk"), col("cb")).agg(min(col("ck")).as("ck"))
    def bestFor(full: DataFrame, fk: String, fb: String,
        nbr: DataFrame, nk2: String, nb2: String): DataFrame = {
      val u = full.select(col("nk"), col(fk).as("k"), col(fb).as("b"),
          lit(1).as("side"))
        .unionAll(nbr.select(col("nk"), col(nk2).as("k"),
          col(nb2).as("b"), lit(0).as("side")))
      val w = Window.partitionBy(col("nk"))
        .orderBy(col("b"), col("side"), col("k"))
      val prevW = w.rowsBetween(Window.unboundedPreceding, -1)
      val nextW = w.rowsBetween(1, Window.unboundedFollowing)
      val nbB = when(col("side") === 0, col("b"))
      val nbK = when(col("side") === 0, col("k"))
      u.withColumn("pb", last(nbB, ignoreNulls = true).over(prevW))
        .withColumn("pk", last(nbK, ignoreNulls = true).over(prevW))
        .withColumn("nxb", first(nbB, ignoreNulls = true).over(nextW))
        .withColumn("nxk", first(nbK, ignoreNulls = true).over(nextW))
        .filter(col("side") === 1)
        .withColumn("pd", col("b") - col("pb"))
        .withColumn("nd", col("nxb") - col("b"))
        .filter(col("pd").isNotNull || col("nd").isNotNull)
        .withColumn("take_prev", col("pd").isNotNull &&
          (col("nd").isNull || col("pd") < col("nd") ||
            (col("pd") === col("nd") && col("pk") < col("nxk"))))
        .select(col("nk"), col("k"),
          when(col("take_prev"), col("pk")).otherwise(col("nxk"))
            .as("bk"),
          when(col("take_prev"), col("pd")).otherwise(col("nd"))
            .as("d"))
    }
    val bc = bestFor(c, "ck", "cb", sd, "sk", "sb")
      .select(col("nk"), col("k").as("ck"), col("bk").as("sk"),
        col("d"))
    val bs = bestFor(s, "sk", "sb", cd, "ck", "cb")
      .select(col("k").as("sk2"), col("bk").as("ck2"))
    bc.join(bs, col("ck") === col("ck2") && col("sk") === col("sk2"))
      .select(col("nk").cast("long").as("nationkey"),
        col("ck").cast("long").as("custkey"),
        col("sk").cast("long").as("suppkey"), col("d").as("diff_cents"))
      .orderBy(col("custkey"))
  }

  /** Dynamic partition pruning (J97): the 100 TB join
    * optimization the static-pruning row (q_sink_partitioned_prune)
    * can't show — the fact table is partitioned by event_type, the
    * dim side filters on a NON-join column (per-type volume ≥ the
    * mean), so no literal predicate exists at plan time to push down;
    * DPP inserts a runtime subquery on the fact's partition column
    * and the scan reads ONLY the surviving partitions. On a
    * 1000-partition date-partitioned fact this is the difference
    * between scanning 100 TB and scanning one day. BatchSpec pins
    * `dynamicpruning` in the executed plan, so the row can never
    * silently degrade to a full scan.
    *
    * The volume threshold is data-derived (above-mean types), never a
    * literal on the join key — a literal IN would be propagated
    * statically by constraint inference and the demo would prove
    * nothing. Write-once scratch table per session (the partitioned
    * sink's own discipline). */
  def joinDpp(spark: SparkSession, dir: String): DataFrame = {
    // Scratch path keyed by the fixture dir:
    // the read below is lazy, so a fixed path could be overwritten by
    // an interleaved run against a different scale fixture between
    // plan and collect — keying by dir makes the pairing stable.
    val tmp = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_scratch/dpp-${Integer.toHexString(dir.hashCode)}")
    tmp.mkdirs()
    val path = tmp.toString
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val fact = spark.read.parquet(path)
    val tot = events(spark, dir).count() // control-plane: one long
    val dim = events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
      .filter(col("n_type") >= tot / 5)
    fact.join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(cents("value"))
          .as("cents"))
      .orderBy(col("event_type"))
  }

  /** AQE skew-join evidence (J105): the
    * RUNTIME twin of q_join_salted_skew. That row proves the MANUAL
    * mitigation (salt the key, replicate the dim); this one proves the
    * engine's own: a deliberately Zipf-keyed fact (90 % of lineitem on
    * one key, the rest spread over 31) sort-merge-joined to a 32-row
    * key dim with broadcast disabled, so the zk=0 shuffle partition
    * dwarfs the median and AQE's OptimizeSkewedJoin must SPLIT it at
    * runtime. The executed plan's `skew=true` marker is emitted as a
    * verdict COLUMN (the bucketed-join discipline: the evidence rides
    * the oracle row itself, DuckDB pins `true`), and BatchSpec pins it
    * again on the formatted plan. At 100 TB this is the difference
    * between one straggler task holding 90 % of the join for hours and
    * N even splits — the mitigation nobody has to hand-author.
    *
    * Mechanics: the row runs in a CHILD session (`newSession` — same
    * SparkContext, own SQLConf) so the fixture-scaled skew thresholds
    * (advisory = max(256 B, rows/8) ≈ compressed-bytes/32, threshold =
    * 2× advisory) and the disabled broadcast floor leak into no other
    * enrolled row. `forceOptimizeSkewedJoin` keeps the split legal even
    * though the downstream per-cat rollup inserts its own exchange.
    * The aggregate itself is exact BIGINT (count + quantity sum). */
  def joinSkewAqe(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    val n = graft.Tables.rows(spark, dir, "lineitem")
    // ~compressed-bytes/32 of the fact shuffle (~6 B/row lz4): the
    // zk=0 head splits into ~30 even pieces at every fixture scale
    val advisory = math.max(1024L, n / 6)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      (advisory * 2).toString)
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      advisory.toString)
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    val fact = lineitem(s2, dir).select(
      expr("CASE WHEN l_orderkey % 10 < 9 THEN CAST(0 AS BIGINT)" +
        " ELSE 1 + l_partkey % 31 END").as("zk"),
      col("l_quantity"))
      // 32 round-robin mappers: AQE splits a skewed REDUCE partition by
      // map-output ranges, so a single-mapper fixture scan (one small
      // parquet file = one map task) is UNSPLITTABLE no matter how
      // skewed — at 100 TB the scan has thousands of mappers naturally;
      // this emulates that input shape at fixture scale.
      .repartition(32)
    // Deduped via a (zk, cat) grouping rather than distinct(zk): cat is
    // a function of zk so the row set is identical, but the aggregate's
    // HashPartitioning(zk, cat) does NOT satisfy the join's
    // ClusteredDistribution(zk), so EnsureRequirements inserts a FRESH
    // exchange on zk — OptimizeSkewedJoin only matches an SMJ whose
    // children are Sort(ShuffleQueryStage) directly, and a distinct(zk)
    // dim arrives pre-partitioned and silently disables the split (the
    // bug this comment exists to prevent).
    val dim = part(s2, dir)
      .groupBy((col("p_partkey") % 32).cast("long").as("zk"),
        ((col("p_partkey") % 32) % 4).cast("long").as("cat"))
      .agg(count(lit(1)).as("n_src"))
      .select(col("zk"), col("cat"))
    val agg = fact.hint("merge").join(dim, "zk")
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
      .orderBy(col("cat"))
    val rows = agg.collect() // 4 rollup rows — control-plane sized
    val skewed = agg.queryExecution.executedPlan.toString
      .contains("skew=true")
    import spark.implicits._
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), skewed))
      .toDF("cat", "n_rows", "qty_sum", "skew_join")
      // ^ LocalRelation of computed scalars — the child session's confs
      //   never touch the caller's plans.
  }

  /** Runtime bloom-filter injection evidence (J115): the
    * OPTIMIZER's twin of the explicit q_join_bloom_prefilter row —
    * InjectRuntimeFilter sees a selective dim side (p_size ≤ 2, ~4 %
    * of parts) joined to a large fact and plants a bloom
    * `might_contain` filter on the fact scan by itself, so fact rows
    * whose keys cannot join are dropped BEFORE the shuffle. At 100 TB
    * this is the optimizer quietly saving the majority of the join's
    * shuffle bytes on every selective dim join. The verdict is read
    * from the OPTIMIZED plan (`bloom_filter_agg` + `might_contain` —
    * injection is a logical rewrite, unlike AQE's runtime markers) and
    * the oracle pins `true` plus the exact rollup. Child session: the
    * injection thresholds (app-side scan floor 0, creation cap 100 MB)
    * and the broadcast floor stay scoped to this row. */
  def joinRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
      "applicationSideScanSizeThreshold", "0")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val dim = part(s2, dir).filter(col("p_size") <= 2)
      .select(col("p_partkey"), col("p_size"))
    val fact = lineitem(s2, dir)
      .select(col("l_partkey"), col("l_quantity"))
    val agg = fact.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_size"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
      .orderBy(col("p_size"))
    val oplan = agg.queryExecution.optimizedPlan.toString
    val injected = oplan.contains("bloom_filter_agg") &&
      oplan.contains("might_contain")
    val rows = agg.collect() // 2-row rollup — control-plane sized
    import spark.implicits._
    rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        injected))
      .toDF("p_size", "n_rows", "qty_sum", "runtime_filtered")
  }

  /** AQE join-strategy switch evidence (J118): the canonical
    * adaptive-execution feature, pinned as data — a join whose STATIC
    * plan is sort-merge (the static broadcast floor is 1 KB in the
    * child session, and Catalyst's pre-execution size estimate for the
    * filtered dim is the full relation — selectivity is unknowable
    * without CBO stats) but whose RUNTIME shuffle statistics reveal a
    * tiny dim (o_totalprice > 499 000 keeps ~0.2 % of orders — the fixture's prices are uniform to ~500 k), so
    * AQE re-plans the materialized stage into a broadcast-hash join
    * mid-query. Verdict columns: the INITIAL plan section carries
    * SortMergeJoin, the FINAL carries BroadcastHashJoin — at 100 TB
    * this is the optimizer rescuing every join whose dim selectivity
    * only becomes known at runtime (no manual hint, no stats job). */
  def joinAqeSwitch(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    val dim = orders(s2, dir).filter(col("o_totalprice") > 499000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val agg = lineitem(s2, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
      .orderBy(col("o_orderpriority"))
    val rows = agg.collect() // priority rollup — control-plane sized
    val plan = agg.queryExecution.executedPlan.toString
    val parts = plan.split("== Initial Plan ==")
    val switched = parts.length == 2 &&
      parts(0).contains("BroadcastHashJoin") &&
      parts(1).contains("SortMergeJoin")
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        switched))
      .toDF("o_orderpriority", "n_lines", "qty_sum", "aqe_switched")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_aqe_switch" -> joinAqeSwitch,
    "q_join_runtime_filter" -> joinRuntimeFilter,
    "q_join_skew_aqe" -> joinSkewAqe,
    "q_join_dpp" -> joinDpp,
    "q_join_mutual_nn" -> mutualNn,
    "q_join_salted_skew" -> joinSaltedSkew,
    "q_join_asof_nearest" -> asofNearest,
    "q_join_spatial_grid" -> spatialGrid,
    "q_join_interval_overlap" -> intervalOverlapJoin,
    "q_join_null_safe" -> joinNullSafe,
    "q_join_broadcast" -> joinBroadcast,
    "q_join_smj" -> joinSmj,
    "q_join_shj" -> joinShj,
    "q_join_bloom_prefilter" -> joinBloomPrefilter,
    "q_join_multiway" -> joinMultiway,
    "q_join_left_outer" -> joinLeftOuter,
    "q_join_full_outer" -> joinFullOuter,
    "q_join_semi" -> joinSemi,
    "q_join_anti" -> joinAnti,
    "q_join_theta_range" -> joinThetaRange,
    "q_join_range_binned" -> joinRangeBinned,
    "q_join_asof" -> joinAsof,
    "q_join_asof_native" -> joinAsofNative,
    "q_join_asof_tolerance" -> joinAsofTolerance,
    "q_join_cross_small" -> joinCrossSmall,
  )

  val oracle: Map[String, String] = Map(
    "q_join_aqe_switch" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |  true AS aqe_switched
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 499000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_runtime_filter" ->
      """SELECT p.p_size, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |  true AS runtime_filtered
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_skew_aqe" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 9
        |    THEN CAST(0 AS BIGINT) ELSE 1 + l_partkey % 31 END AS zk,
        |  CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |d AS (SELECT DISTINCT p_partkey % 32 AS zk FROM part)
        |SELECT f.zk % 4 AS cat, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(f.q) AS BIGINT) AS qty_sum, true AS skew_join
        |FROM f JOIN d ON d.zk = f.zk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_dpp" ->
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM events),
        |dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
        |  FROM events GROUP BY 1
        |  HAVING count(*) >= (SELECT t FROM tot) // 5)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM events e JOIN dim ON dim.event_type = e.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_mutual_nn" ->
      """WITH c AS (SELECT c_nationkey AS nk, c_custkey AS ck,
        |   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cb
        |  FROM customer),
        |s AS (SELECT s_nationkey AS nk, s_suppkey AS sk,
        |   CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS sb
        |  FROM supplier),
        |cand AS (SELECT c.nk, ck, sk, abs(cb - sb) AS d
        |  FROM c JOIN s ON c.nk = s.nk),
        |bc AS (SELECT nk, ck, sk, d FROM (
        |   SELECT *, row_number() OVER (PARTITION BY ck
        |     ORDER BY d, sk) AS rn FROM cand) WHERE rn = 1),
        |bs AS (SELECT ck, sk FROM (
        |   SELECT *, row_number() OVER (PARTITION BY sk
        |     ORDER BY d, ck) AS rn FROM cand) WHERE rn = 1)
        |SELECT bc.nk AS nationkey, bc.ck AS custkey, bc.sk AS suppkey,
        |  bc.d AS diff_cents
        |FROM bc JOIN bs ON bc.ck = bs.ck AND bc.sk = bs.sk
        |ORDER BY custkey""".stripMargin,
    // the UNSALTED join+rollup: a hash match proves the salted plan is
    // a row-level identity of the plain join
    "q_join_salted_skew" ->
      """WITH dim AS (SELECT event_type, count(*) AS n_type
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(max(dim.n_type) AS BIGINT) AS n_type,
        | CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS cents_total,
        | count(*) = max(dim.n_type) AS match_ok
        |FROM events e JOIN dim ON dim.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_join_asof_nearest" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |p AS (SELECT user_id, min(ts_us) AS probe_us FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |a AS (SELECT ev.user_id, max(p.probe_us) AS probe_us,
        |   max(CASE WHEN ev.ts_us <= p.probe_us THEN ev.ts_us END)
        |     AS back_us,
        |   min(CASE WHEN ev.ts_us > p.probe_us THEN ev.ts_us END)
        |     AS fwd_us
        |  FROM ev JOIN p USING (user_id)
        |  WHERE ev.event_type = 'error' GROUP BY ev.user_id),
        |n AS (SELECT user_id, probe_us,
        |   CASE WHEN back_us IS NULL THEN fwd_us
        |    WHEN fwd_us IS NULL THEN back_us
        |    WHEN probe_us - back_us <= fwd_us - probe_us THEN back_us
        |    ELSE fwd_us END AS nearest_us
        |  FROM a)
        |SELECT user_id, probe_us, nearest_us,
        | CAST(abs(probe_us - nearest_us) AS BIGINT) AS delta_us,
        | CASE WHEN nearest_us <= probe_us THEN 'backward'
        |  ELSE 'forward' END AS direction
        |FROM n ORDER BY user_id""".stripMargin,
    // NAIVE theta join on purpose — proves the grid plan computes the
    // same relation as the quadratic form it replaces
    "q_join_spatial_grid" ->
      """WITH p AS (SELECT p_partkey AS pk,
        |   CAST(p_size AS BIGINT) AS x,
        |   CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 100 AS y
        |  FROM part)
        |SELECT a.pk AS a, b.pk AS b,
        | CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT) AS cheb
        |FROM p a JOIN p b ON a.pk < b.pk
        | AND abs(a.x - b.x) <= 5 AND abs(a.y - b.y) <= 5
        |ORDER BY cheb, a, b LIMIT 20""".stripMargin,
    "q_join_interval_overlap" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS gap_us
        | FROM events),
        |f AS (SELECT user_id, ts_us,
        |  CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
        |       THEN 1 ELSE 0 END AS new_sess,
        |  event_id FROM g),
        |s AS (SELECT user_id, ts_us,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS BIGINT) AS session_no FROM f),
        |sess AS (SELECT user_id, session_no,
        |   CAST(min(ts_us) AS BIGINT) AS start_us,
        |   CAST(max(ts_us) AS BIGINT) AS end_us
        |  FROM s GROUP BY user_id, session_no),
        |binned AS (SELECT user_id, session_no, start_us, end_us,
        |   unnest(range(start_us // 3600000000,
        |                end_us // 3600000000 + 1)) AS bkt
        |  FROM sess),
        |p AS (SELECT DISTINCT a.user_id AS ua, a.session_no AS sa,
        |   b.user_id AS ub, b.session_no AS sb,
        |   CAST(least(a.end_us, b.end_us)
        |     - greatest(a.start_us, b.start_us) AS BIGINT) AS overlap_us
        |  FROM binned a JOIN binned b ON a.bkt = b.bkt
        |  WHERE a.user_id < b.user_id
        |    AND a.start_us <= b.end_us AND b.start_us <= a.end_us)
        |SELECT ua, ub, count(*) AS n_pairs,
        | CAST(sum(overlap_us) AS BIGINT) AS overlap_us_total
        |FROM p GROUP BY ua, ub
        |ORDER BY overlap_us_total DESC, ua, ub LIMIT 20""".stripMargin,
    "q_join_null_safe" ->
      """WITH e AS (SELECT event_id,
        |   CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |          % 3 <> 0
        |        THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |   END AS ek
        |  FROM events),
        |d AS (SELECT DISTINCT ek AS k FROM e),
        |j AS (SELECT d.k, count(*) AS n FROM d
        |  JOIN e ON e.ek IS NOT DISTINCT FROM d.k GROUP BY d.k)
        |SELECT coalesce(CAST(k AS VARCHAR), 'NULL') AS k_str, n
        |FROM j ORDER BY k_str""".stripMargin,
    "q_join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_brand, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_smj" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_shj" ->
      """SELECT o_orderpriority,
        | CAST(floor(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |   / count(*) * 10000.0 + 0.5) AS BIGINT) AS avg_qty_e4,
        | count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_bloom_prefilter" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_multiway" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left_outer" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_full_outer" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT coalesce(c.c_custkey, pc.o_custkey) AS custkey,
        | c.c_acctbal, coalesce(pc.n_orders, 0) AS n_orders
        |FROM customer c FULL OUTER JOIN pc ON c.c_custkey = pc.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta_range" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        | (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |ORDER BY a.user_id, a_id, b_id""".stripMargin,
    "q_join_range_binned" ->
      """WITH iv AS (SELECT c_custkey AS iv_id, c_acctbal - 25.0 AS lo,
        |   c_acctbal + 25.0 AS hi FROM customer WHERE c_custkey % 3 = 0)
        |SELECT iv.iv_id, count(*) AS n_pts,
        | floor(sum(e.value * 30.0) * 10000.0 + 0.5) / 10000.0 AS sum_x
        |FROM events e JOIN iv
        |  ON e.value * 30.0 >= iv.lo AND e.value * 30.0 <= iv.hi
        |GROUP BY iv.iv_id ORDER BY iv.iv_id""".stripMargin,
    "q_join_asof_tolerance" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |   epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id, epoch_us(ts) AS s_ts
        |  FROM events WHERE event_type = 'signup'),
        |j AS (SELECT p.user_id, p.p_id, s.s_id,
        |    (p.p_ts - s.s_ts) // 1000000 AS age_s,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY s.s_ts DESC, s.s_id DESC) AS rn
        |  FROM p LEFT JOIN s ON p.user_id = s.user_id
        |    AND s.s_ts <= p.p_ts
        |    AND s.s_ts > p.p_ts - 86400000000)
        |SELECT user_id, p_id, s_id, age_s, s_id IS NOT NULL AS matched
        |FROM j WHERE rn = 1 ORDER BY user_id, p_id""".stripMargin,
    "q_join_asof" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id, epoch_us(ts) AS s_ts
        |  FROM events WHERE event_type = 'signup'),
        |j AS (SELECT p.user_id, p.p_id, s.s_id,
        |    (p.p_ts - s.s_ts) // 1000000 AS age_s,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY s.s_ts DESC, s.s_id DESC) AS rn
        |  FROM p JOIN s ON p.user_id = s.user_id AND s.s_ts <= p.p_ts)
        |SELECT user_id, p_id, s_id, age_s FROM j WHERE rn = 1
        |ORDER BY user_id, p_id""".stripMargin,
    "q_join_asof_native" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id, epoch_us(ts) AS s_ts
        |  FROM events WHERE event_type = 'signup'),
        |j AS (SELECT p.user_id, p.p_id, s.s_id,
        |    (p.p_ts - s.s_ts) // 1000000 AS age_s,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY s.s_ts DESC, s.s_id DESC) AS rn
        |  FROM p JOIN s ON p.user_id = s.user_id AND s.s_ts <= p.p_ts)
        |SELECT user_id, p_id, s_id, age_s FROM j WHERE rn = 1
        |ORDER BY user_id, p_id""".stripMargin,
    "q_join_cross_small" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
  )
}
