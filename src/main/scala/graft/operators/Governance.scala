package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-J17 — data-governance audits: privacy risk
  * (k-anonymity, l-diversity) and Deequ-style declarative data-quality
  * constraint suites. These are the reports a training-data pipeline
  * runs BEFORE a corpus ships: "can any quasi-identifier combination
  * single out a user?" and "does every batch satisfy the contract the
  * downstream consumers assume?".
  *
  * Reference analog: the reference (SURVEY §0.5) logs raw container
  * events with user-attributable fields into a shared triplestore;
  * these rows are the read-side governance audits such a log needs
  * before export.
  *
  * Exactness strategy (house rules): all emitted measures are BIGINT —
  * money through the floor(x·100 + 0.5) cents idiom, ratios ×10⁴ via
  * integer div, and every quantity that could go negative is SHIFTED
  * nonnegative before any integer division (Spark `div` truncates
  * toward zero, DuckDB `//` floors toward −∞; they agree only on
  * nonnegative operands — the pinned shifted-ratio idiom).
  *
  * Scale notes (100 TB): every audit here is one fact-table scan plus
  * aggregations on shrinking keys. The k-anonymity class table is
  * bounded by the QI domain (|nations|·|segments|·|bands|), the
  * l-diversity cell table by |QI classes|·|users-per-class|, and the
  * constraint suite is ONE pass with conditional aggregates plus
  * broadcast-dim anti-join checks — no self-joins, no global sorts,
  * no driver materialization. countDistinct in the profiler is the
  * exact-audit form; at 100 TB the same plan swaps in a DataSketches
  * `hll_sketch_agg` per column, which this engine already ships
  * (q_agg_approx_distinct / q_agg_hll_merge).
  */
object Governance {

  /** The dp rows' replayable Laplace draw: `u`, a uniform on [0, 10⁶)
    * from the md5 of the SQL expression `seed`, and `t_e3` =
    * lnE3(1 − 2|u − ½|) + 13816, the inverse-CDF magnitude in the lnE3
    * floor-once lane (13816 = lnE3(10⁶)). The caller scales `t_e3` and
    * signs it by `u ≥ 500000`. The oracle replays the identical draw. */
  private def laplaceDraw(seed: String)(df: DataFrame): DataFrame =
    df.withColumn("u", expr(s"CAST(conv(substring(md5($seed), 1, 15)," +
        " 16, 10) AS BIGINT) % 1000000"))
      .withColumn("t_e3", expr(
        "CAST(floor(ln(greatest(1000000 - 2 * abs(u - 500000), 1))" +
          " * 1000 + 0.5) AS BIGINT) - 13816"))

  /** k-anonymity audit over customer. QI = (nation, market segment,
    * $1000 account-balance band); for k ∈ {2, 5, 10} report how many
    * equivalence classes fall below k and what fraction of rows a
    * suppress-below-k policy would drop.
    *
    * The balance band is computed on cents SHIFTED by +10⁸ (TPC-H
    * acctbal ≥ −$10k, so cents ≥ −10⁶; the shift keeps the integer
    * division nonnegative where Spark `div` and DuckDB `//` agree).
    *
    * Shape: one groupBy on the QI triple (partial-aggregable), then a
    * QI-domain-sized class table cross-joined with the 3-row k frame —
    * the cross join is broadcast-trivial on either side. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cls = customer(spark, dir)
      .withColumn("band",
        expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000000)" +
          " div 100000"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).as("sz"))
    val ks = Seq(2L, 5L, 10L).toDF("k")
    cls.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("sz") < col("k"), 1L).otherwise(0L)).as("n_small"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
          .as("n_suppressed"),
        sum(col("sz")).as("n_rows"),
        min(col("sz")).as("min_class"),
        max(col("sz")).as("max_class"))
      .select(col("k"), col("n_classes"), col("n_small"),
        col("n_suppressed"),
        expr("n_suppressed * 10000 div n_rows").as("supp_rate_e4"),
        col("min_class"), col("max_class"))
      .orderBy(col("k"))
  }

  /** Generalization ladder for k-anonymity (J77): how much
    * COARSENING buys how much safety — the release-design question
    * the fixed-granularity [[kAnonymity]] sweep (which varies k, not
    * the QI) cannot answer. Three rungs over the same customer QI:
    * the enrolled $1k account-balance band, a 10× coarser $10k band,
    * and the band dropped entirely; per rung at k = 5, the class
    * census and the suppression cost (rows in classes smaller than
    * k). Monotone by construction — coarsening merges classes, so
    * suppression can only fall — which the spec pins as the ladder
    * invariant.
    *
    * Shape (100 TB): three partial-aggregable class censuses over the
    * customer dim (each a map-side-combinable groupBy), class-sized
    * folds after. */
  def generalizeLadder(spark: SparkSession, dir: String): DataFrame = {
    val base = customer(spark, dir)
      .withColumn("band",
        expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000000)" +
          " div 100000"))
    def rung(name: String, cols: Seq[Column]): DataFrame =
      base.groupBy(cols: _*).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("sz")).as("min_class"),
          sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_small5"),
          sum(when(col("sz") < 5, col("sz")).otherwise(0L))
            .as("n_suppressed"),
          sum(col("sz")).as("n_rows"))
        .select(lit(name).as("rung"), col("n_classes"),
          col("min_class"), col("n_small5"),
          expr("n_suppressed * 10000 div n_rows").as("supp_rate_e4"))
    rung("0_band_1k",
        Seq(col("c_nationkey"), col("c_mktsegment"), col("band")))
      .unionAll(rung("1_band_10k", Seq(col("c_nationkey"),
        col("c_mktsegment"), expr("band div 10"))))
      .unionAll(rung("2_no_band",
        Seq(col("c_nationkey"), col("c_mktsegment"))))
      .orderBy(col("rung"))
  }

  /** l-diversity audit over events. QI class = (event_type, epoch
    * day); sensitive attribute = user_id. Per class: size, distinct
    * sensitive values (the "l"), whether l ≥ 3, and the top sensitive
    * value's share ×10⁴ (the skew that distinct-l alone hides —
    * a class can have l = 50 yet be 99% one user).
    *
    * Day = unix_micros(ts) div 86400·10⁶ — a pure nonnegative integer
    * bucket, no calendar functions to disagree on.
    *
    * Shape: two partial-aggregable groupBys on strictly shrinking keys
    * (cell = class × user, then class) — one fact shuffle each, the
    * classic two-level distinct-count shape. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .withColumn("day", epochDay)
      .groupBy(col("event_type"), col("day"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    cells
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("sz"),
        count(lit(1)).as("l_distinct"),
        max(col("c")).as("top_cnt"))
      .select(col("event_type"), col("day"), col("sz"), col("l_distinct"),
        (col("l_distinct") >= 3L).as("l_ok"),
        expr("top_cnt * 10000 div sz").as("top_share_e4"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Deequ-style declarative constraint suite: one row per constraint
    * with (checked, violations, pass). Eight constraints across four
    * families — completeness, domain/range, uniqueness, referential
    * integrity — evaluated in TWO fact scans total:
    *
    *   - every lineitem row-level check AND both lineitem RI checks
    *     ride ONE scan: the dim keys are broadcast left-joined onto the
    *     fact stream and all eight measures come out of a single 1-row
    *     conditional aggregate, unpivoted with stack(). A naive suite
    *     runs one scan per constraint — 8× the I/O for the same answer.
    *   - the orders→customer RI check is the second (orders-sized) scan.
    *
    * Uniqueness of (l_orderkey, l_linenumber) is count−countDistinct
    * over the injective key l_orderkey·10 + l_linenumber (linenumber ∈
    * 1..7 < 10), keeping the distinct single-column on both engines. */
  def dqConstraints(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
    val li = lineitem(spark, dir)
      .join(broadcast(ord.select(col("o_orderkey").as("ok_dim"))
        .distinct()), col("l_orderkey") === col("ok_dim"), "left")
      .join((partB(spark, dir)
        .select(col("p_partkey").as("pk_dim")).distinct()),
        col("l_partkey") === col("pk_dim"), "left")
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_comp"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("v_flag"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
        .otherwise(0L)).as("v_disc"),
      sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("ok_dim").isNull, 1L).otherwise(0L)).as("v_ref_o"),
      sum(when(col("pk_dim").isNull, 1L).otherwise(0L)).as("v_ref_p"),
      (count(lit(1)) -
        countDistinct(expr("l_orderkey * 10 + l_linenumber"))).as("v_uniq"))
    val liRows = liAgg.select(expr(
      "stack(7," +
        " 'li_completeness_shipdate', n, v_comp," +
        " 'li_domain_returnflag', n, v_flag," +
        " 'li_range_discount', n, v_disc," +
        " 'li_range_quantity', n, v_qty," +
        " 'li_ref_orderkey', n, v_ref_o," +
        " 'li_ref_partkey', n, v_ref_p," +
        " 'li_unique_order_line', n, v_uniq)" +
        " AS (check_name, n_checked, n_violations)"))
    val ordRows = ord
      .join((customerB(spark, dir)
        .select(col("c_custkey").as("ck_dim")).distinct()),
        col("o_custkey") === col("ck_dim"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("ck_dim").isNull, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("ord_ref_custkey").as("check_name"), col("n_checked"),
        col("n_violations"))
    liRows.unionAll(ordRows)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  /** Column profiler over orders — the data-catalog summary row per
    * column: null count, exact distinct count, min/max normalized to
    * BIGINT (keys as values, money as cents, timestamps as µs, strings
    * as their length — one homogeneous output type, no engine-specific
    * value formatting in the output).
    *
    * Shape: ONE scan, each row stacked into its 6 (column, value) pairs
    * with the value's text as the distinct key, ONE aggregate grouped
    * by column: a single distinct aggregate, so no Expand is planned
    * (several distinct aggregates would plan one, whose slot order
    * varies run to run). The 100 TB form swaps the countDistinct for
    * `hll_sketch_estimate(hll_sketch_agg(k, 14))`, a mergeable sketch.
    * Not HLL++ `approx_count_distinct`: its buffer can be neither
    * stored nor merged across queries. */
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    // (name, value as BIGINT: keys as values, money as cents,
    // timestamps as µs, strings as their length)
    val cols = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> length(col("o_orderstatus")).cast("long"),
      "o_totalprice" -> cents("o_totalprice"),
      // o_orderdate is TIMESTAMP_NTZ; the NTZ→TZ cast reads it in the
      // session zone, which every graft entrypoint pins to UTC — so
      // this equals DuckDB's epoch_us over the same naive value
      "o_orderdate" -> expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"),
      "o_orderpriority" -> length(col("o_orderpriority")).cast("long"))
    orders(spark, dir)
      .select(explode(array(cols.map { case (c, v) =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("k"),
          v.as("v"))
      }: _*)).as("p"))
      .groupBy(col("p.col_name").as("col_name"))
      .agg(sum(when(col("p.k").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("p.k")).as("n_distinct"),
        min(col("p.v")).as("min_v"), max(col("p.v")).as("max_v"))
      .orderBy(col("col_name"))
  }

  /** Distribution-drift audit: split events into two cohorts by epoch-
    * day parity (the even/odd-day A/B the fixture affords; production
    * compares yesterday vs trailing week), histogram `value` into 10
    * equal-width cent bands per event_type, and report a chi-square-
    * style drift statistic Σ (a−b)²·10⁴ div (a+b) over the bands —
    * the alert a data contract fires when a feed's distribution moves.
    * Integer end-to-end: PSI's ln(p/q) is replaced by the χ² form,
    * which needs no logarithm and stays exact.
    *
    * Banding rides the global max (1-row broadcast, the zonemap
    * pattern): band = cents·10 div (max_cents+1) ∈ [0, 10). All values
    * are nonnegative (fixture min $0.01), so every division sits in
    * the engine-agreement zone.
    *
    * Scale shape: one fact scan → (type, band, parity) partial-
    * aggregable counts (≤ 2·10·|types| groups) → per-type fold. The
    * per-band quotient sum is order-independent (each band's term is
    * computed exactly, then summed). */
  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("day", epochDay)
      .withColumn("cents", cents("value"))
    val mx = ev.agg(max(col("cents")).as("maxc"))
    val bands = ev.crossJoin(broadcast(mx))
      .withColumn("band", expr("cents * 10 div (maxc + 1)"))
      .groupBy(col("event_type"), col("band"))
      .agg(sum(when(col("day") % 2 === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("day") % 2 === 1, 1L).otherwise(0L)).as("b"))
    bands.groupBy(col("event_type"))
      .agg(sum(col("a")).as("n_even"), sum(col("b")).as("n_odd"),
        count(lit(1)).as("n_bands"),
        sum(expr("(a - b) * (a - b) * 10000 div (a + b)")).as("chi2_e4"))
      .orderBy(col("event_type"))
  }

  /** Differential-privacy release mechanism plumbing: per event_type
    * count with additive bounded noise in [−10, 10] and the ε=ln(…)
    * accounting columns a DP release ships with. The noise here is a
    * DETERMINISTIC md5-derived stub (hash(type) mod 21 − 10) so the
    * oracle can replay it — a production release swaps ONE expression
    * for a calibrated Laplace sampler; the sensitivity bookkeeping,
    * the per-key release shape, and the never-release-raw-below-
    * threshold suppression gate (noisy < 20 → suppressed row) are the
    * parts this row pins. The true count is emitted ONLY because this
    * is the auditable twin; the production projection drops it.
    *
    * Shape: one partial-aggregable count + map-only noise column. */
  def dpCount(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", expr(
        "CAST(conv(substring(md5(event_type), 1, 15), 16, 10) AS BIGINT)" +
          " % 21 - 10"))
      .withColumn("n_noisy", col("n_true") + col("noise"))
      .withColumn("suppressed", col("n_noisy") < 20L)
      .select(col("event_type"), col("n_true"), col("noise"),
        col("n_noisy"), col("suppressed"))
      .orderBy(col("event_type"))

  /** Cross-table reconciliation audit: per order, the header total vs
    * the sum of its line extended prices (both in exact cents), bucketed
    * by relative deviation ×10⁴ — the finance-style "do the fact and
    * summary tables agree?" check every warehouse runs after load. The
    * fixture is TPC-H-ish, so the row REPORTS the real deviation
    * distribution instead of asserting zero (the dq_constraints
    * uniqueness lesson: an audit that can only pass is not an audit).
    * |diff| is used so every division is nonnegative; the signed
    * direction census (n_over / n_under) is carried separately as
    * pure counts.
    *
    * Shape: lineitem groupBy(orderkey) partial-aggregable fold, one
    * key-shuffle join with orders (co-partitioned at scale), ≤12-key
    * band rollup. */
  def dqReconcile(spark: SparkSession, dir: String): DataFrame = {
    val lineSum = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents("l_extendedprice")).as("line_cents"))
    orders(spark, dir)
      .select(col("o_orderkey"), cents("o_totalprice").as("total_cents"))
      .join(lineSum, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("line_cents", coalesce(col("line_cents"), lit(0L)))
      .withColumn("abs_diff",
        expr("abs(total_cents - line_cents)"))
      .withColumn("rel_e4",
        expr("abs_diff * 10000 div greatest(total_cents, 1)"))
      .withColumn("band", expr("least(CAST(10 AS BIGINT), rel_e4 div 1000)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("total_cents") > col("line_cents"), 1L)
          .otherwise(0L)).as("n_over"),
        sum(when(col("total_cents") < col("line_cents"), 1L)
          .otherwise(0L)).as("n_under"),
        sum(when(col("abs_diff") === 0L, 1L).otherwise(0L)).as("n_exact"),
        min(col("rel_e4")).as("rel_min_e4"),
        max(col("rel_e4")).as("rel_max_e4"))
      .orderBy(col("band"))
  }

  /** t-closeness audit — completes the privacy trio with
    * k-anonymity and l-diversity: per QI class (event_type × epoch
    * day, the lDiversity classes), the TOTAL-VARIATION distance
    * between the class's distribution of the sensitive attribute and
    * the corpus-global distribution. Sensitive attribute = the
    * `value` cent decile band (the dqDrift banding — 10 outcomes, the
    * categorical-EMD case where EMD = ½·Σ|p−q| exactly). A class can
    * be k-anonymous AND l-diverse yet still leak (its sensitive mix
    * differs sharply from background knowledge); t-closeness is the
    * audit that catches it.
    *
    * Exactness: tv_e4 = Σ_v |c_v·N − g_v·n| · 5000 div (n·N) — the
    * ½ folded into the ×5000, every operand nonnegative (abs), so
    * Spark `div` ≡ DuckDB `//`. ABSENT bands contribute |0 − g_v·n|,
    * so the class×band grid is completed (10-row broadcast) before
    * the fold. Overflow bound: Σ ≤ 2nN ≤ 2N², ×5000 exact to
    * N ≤ 3·10⁷ events (sf ~30); past that the same plan runs on
    * DECIMAL(38,0) or per-band pre-divided e4 shares.
    *
    * Shape: one fact scan → (type, day, band) partial-aggregable
    * cells; global band census is 10 rows (broadcast); the grid
    * completion is class-table × 10 — dimension-sized. No self-joins,
    * no global sorts. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("day", epochDay)
      .withColumn("cents", cents("value"))
    val mx = ev.agg(max(col("cents")).as("maxc"))
    val banded = ev.crossJoin(broadcast(mx))
      .withColumn("band", expr("cents * 10 div (maxc + 1)"))
    val cells = banded
      .groupBy(col("event_type"), col("day"), col("band"))
      .agg(count(lit(1)).as("c"))
    val classes = cells
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("n"))
    val global = cells
      .groupBy(col("band")).agg(sum(col("c")).as("g"))
    val total = global.agg(sum(col("g")).as("big_n"))
    classes
      .crossJoin(broadcast(global))
      .join(cells, Seq("event_type", "day", "band"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(total))
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("n")).as("n_rows"),
        count(lit(1)).as("n_bands"),
        sum(when(col("c0") > 0L, 1L).otherwise(0L)).as("n_present"),
        sum(expr("abs(c0 * big_n - g * n)")).as("s"),
        max(expr("n * big_n")).as("nn"))
      .select(col("event_type"), col("day"), col("n_rows"),
        col("n_present"),
        expr("s * 5000 div nn").as("tv_e4"))
      .withColumn("t_ok", col("tv_e4") <= 2500L)
      .orderBy(col("event_type"), col("day"))
  }

  /** Benford's-law first-digit audit over lineitem extended
    * prices — the classic forensic-accounting screen for fabricated or
    * truncated numeric feeds: the observed share of each leading
    * significant digit 1..9 vs Benford's log₁₀(1+1/d) expectation.
    * A synthetic fixture is NOT Benford-distributed (TPC-H prices are
    * near-uniform in a band) — like dqReconcile, the row REPORTS the
    * deviation rather than asserting conformance; the audit shape
    * (per-digit census vs pinned expectation) is what it pins.
    *
    * The nine expected shares are IRRATIONAL, so they enter as nine
    * e4 literal constants written identically in both arms (the
    * zipf/dcg rounding rule: round once, share the text). The leading
    * digit is taken from the CENTS integer — same significant digit
    * as the dollar value (×100 preserves the mantissa), and the
    * BIGINT→string cast is engine-agnostic where doubles are not.
    *
    * Shape: one scan → 9-group census → broadcast literal join.
    * Purely partial-aggregable; at 100 TB it is as cheap as a count. */
  def dqBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bd = Seq(1L -> 3010L, 2L -> 1760L, 3L -> 1249L, 4L -> 969L,
      5L -> 791L, 6L -> 669L, 7L -> 579L, 8L -> 511L, 9L -> 457L)
      .toDF("digit", "benford_e4")
    val obs = lineitem(spark, dir)
      .select(expr(
        "CAST(substring(CAST(" +
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)" +
          " AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("big_n"))
    obs.join(broadcast(bd), Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        expr("n_obs * 10000 div big_n").as("share_e4"),
        col("benford_e4"))
      .withColumn("abs_dev_e4", expr("abs(share_e4 - benford_e4)"))
      .orderBy(col("digit"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test: the exact KS
    * D statistic between the order-total distributions of the even-
    * and odd-orderkey cohorts — the distribution-level data contract
    * check that chi-square banding (dqDrift) approximates; KS needs no
    * binning choice and is sensitive to location AND shape shifts.
    *
    * Exact integer form: on the distinct-cents support, D·(n0·n1) =
    * max |cum0·n1 − cum1·n0| — cross-multiplied CDFs, no division
    * until the final d_e4 = D_num·10⁴ div (n0·n1). The argmax
    * location is tie-broken to the smallest cents (deterministic).
    * Overflow: D_num ≤ n0·n1, so ×10⁴ is exact to n ≈ 6·10⁷ rows per
    * cohort; past that, pre-divide one side to e6 quantization.
    *
    * Shape: one scan → distinct-cents census (support ≪ facts) → ONE
    * ordered cumulative pass over the support table. The global
    * window runs on the support frame, not the fact table — the
    * documented audit cost; the 100 TB variant runs the identical
    * plan on an e2-quantized support (cents div 100) to cap the
    * support size, trading exactness for a bounded sort. */
  def dqKsTest(spark: SparkSession, dir: String): DataFrame = {
    val sup = orders(spark, dir)
      .select(cents("o_totalprice").as("v"),
        (col("o_orderkey") % 2 === 0).as("even"))
      .groupBy(col("v"))
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("c0"),
        sum(when(!col("even"), 1L).otherwise(0L)).as("c1"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val tot = sup.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
      count(lit(1)).as("n_support"))
    val cum = sup
      .withColumn("cum0", sum(col("c0")).over(w))
      .withColumn("cum1", sum(col("c1")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("d_num", expr("abs(cum0 * n1 - cum1 * n0)"))
    val dmax = cum.agg(max(col("d_num")).as("d_max"))
    cum.crossJoin(broadcast(dmax))
      .filter(col("d_num") === col("d_max"))
      .groupBy(col("n0"), col("n1"), col("n_support"), col("d_max"))
      .agg(min(col("v")).as("d_at_cents"))
      .select(col("n0").as("n_even"), col("n1").as("n_odd"),
        col("n_support"),
        expr("d_max * 10000 div (n0 * n1)").as("d_e4"),
        col("d_at_cents"))
  }

  /** Feed-freshness / arrival-rate audit: per event_type,
    * the staleness of the latest record relative to the corpus
    * watermark (global max ts) AND the final-day arrival count vs the
    * type's prior daily average — the two alarms a data-contract
    * monitor fires ("the feed stopped" / "the feed thinned"). A type
    * can be fresh yet collapsing (one straggler event keeps staleness
    * at zero while volume dropped 90%) — which is why the rate column
    * exists beside the staleness column.
    *
    * drop_e4 = n_last_day·10⁴ div max(prior_daily_avg, 1), where
    * prior_daily_avg = n_prior div max(n_prior_days, 1) (distinct
    * ACTIVE prior days — a silent day should lower the average's
    * denominator, not hide in it). All operands nonnegative.
    *
    * Shape: one fact scan → (type, day) partial-aggregable census →
    * type-sized fold against the 1-row broadcast watermark. */
  def dqFreshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), tsUs.as("ts_us"))
      .withColumn("day", expr("ts_us div 86400000000"))
    val wm = ev.agg(max(col("ts_us")).as("wm_us"),
      max(col("day")).as("wm_day"))
    val daily = ev.crossJoin(broadcast(wm))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), max(col("ts_us")).as("d_max_us"),
        max(col("wm_us")).as("wm_us"), max(col("wm_day")).as("wm_day"))
    daily.groupBy(col("event_type"))
      .agg(max(col("d_max_us")).as("last_us"),
        max(col("wm_us")).as("wm_us"),
        sum(when(col("day") === col("wm_day"), col("n")).otherwise(0L))
          .as("n_last_day"),
        sum(when(col("day") < col("wm_day"), col("n")).otherwise(0L))
          .as("n_prior"),
        sum(when(col("day") < col("wm_day"), 1L).otherwise(0L))
          .as("n_prior_days"))
      .withColumn("staleness_us", col("wm_us") - col("last_us"))
      .withColumn("prior_daily_avg",
        expr("n_prior div greatest(n_prior_days, 1)"))
      .withColumn("drop_e4",
        expr("n_last_day * 10000 div greatest(prior_daily_avg, 1)"))
      .select(col("event_type"), col("last_us"), col("staleness_us"),
        col("n_last_day"), col("n_prior_days"), col("prior_daily_avg"),
        col("drop_e4"))
      .orderBy(col("event_type"))
  }

  /** Functional-dependency audit: does LHS → RHS actually
    * hold in the data? The schema-contract primitive Deequ/profiling
    * suites check beyond per-column stats — a silently broken FD
    * (one supplier in two nations, one source in five languages) is
    * how downstream joins start fanning out. Six declared FDs audited
    * over five tables: two that hold (key → attribute) and four that
    * fail, so the row proves both verdict directions. Census per FD:
    * LHS group count, #groups with >1 distinct RHS, the worst group's
    * RHS cardinality, and the verdict max_rhs == 1.
    *
    * Shape (100 TB): each audit is groupBy(lhs).agg(countDistinct
    * (rhs)) — partial-aggregable to a distinct-pair shuffle, then a
    * 1-row fold; the union is 6 rows. No row-level data leaves the
    * executors. */
  def fdViolations(spark: SparkSession, dir: String): DataFrame = {
    def arm(df: DataFrame, name: String, lhs: String, rhs: String) =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("c"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("c")).as("max_rhs"))
        .select(lit(name).as("fd"), col("n_groups"),
          col("n_violating"), col("max_rhs"),
          (col("max_rhs") === 1L).as("fd_holds"))
    arm(documents(spark, dir), "documents.source->lang",
        "source", "lang")
      .unionAll(arm(events(spark, dir), "events.user_id->event_type",
        "user_id", "event_type"))
      .unionAll(arm(lineitem(spark, dir),
        "lineitem.l_returnflag->l_linestatus",
        "l_returnflag", "l_linestatus"))
      .unionAll(arm(nation(spark, dir),
        "nation.n_nationkey->n_regionkey",
        "n_nationkey", "n_regionkey"))
      .unionAll(arm(part(spark, dir), "part.p_brand->p_type",
        "p_brand", "p_type"))
      .unionAll(arm(supplier(spark, dir),
        "supplier.s_suppkey->s_nationkey",
        "s_suppkey", "s_nationkey"))
      .orderBy(col("fd"))
  }

  /** Temporal-order audit: the cross-table twin of the FD
    * audit — does the EVENT ORDER contract "ordered before shipped"
    * hold between orders and lineitem? Census per order priority:
    * violation count and share, plus the exact lower-median and p90
    * of the lag-days distribution (the distribution-counting rank
    * idiom — rank (cnt+1) div 2 and (cnt·9+9) div 10, identical text
    * both engines). On this fixture ~48% of lineitems ship BEFORE
    * their order date — the synthetic dates are uncorrelated, and
    * this is the row that makes that visible instead of silently
    * feeding lag analytics garbage.
    *
    * Shape (100 TB): fact⋈fact
    * equi-join on the order key (co-partitionable), then a
    * DISTRIBUTION-COUNTING census instead of a rank window: the lag
    * domain is bounded (integer DAYS — a few thousand distinct values
    * at any scale), so `groupBy(pri, lg)` partial-aggregates the join
    * output map-side down to the ≤ 5×|lag-domain| census before the
    * one exchange, and the exact lower-median / p90 are read off
    * cumulative offsets over that census (rank r lives in the bucket
    * whose cumulative range [cum−c+1, cum] contains r — identical
    * values share a bucket, so the rank-r VALUE is exactly the
    * row_number answer). The previous form sorted |lineitem⋈orders|
    * rows across ONLY 5 priority partitions — a parallelism-5
    * fact-sized sort at 100 TB; the census form's only window runs
    * over census rows (the same discipline rfmSegments documents).
    * Measured at sf0.1: 2.73 s (r13 builder closing) → 1.96 s subset
    * / 1.11–1.23 s in-suite; scaling exp 0.278 across sf0.01→0.1;
    * hash unchanged. */
  def temporalOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lag = lineitem(spark, dir).as("l")
      .join(orders(spark, dir).as("o"),
        col("o.o_orderkey") === col("l.l_orderkey"))
      .select(col("o.o_orderpriority").as("pri"),
        datediff(col("l.l_shipdate"), col("o.o_orderdate"))
          .cast("long").as("lg"))
    val census = lag.groupBy(col("pri"), col("lg"))
      .agg(count(lit(1)).as("c"))
    val byPri = Window.partitionBy(col("pri"))
    census
      .withColumn("cum", sum(col("c")).over(byPri.orderBy(col("lg"))))
      .withColumn("cnt", sum(col("c")).over(byPri))
      .groupBy(col("pri"))
      .agg(max(col("cnt")).as("n"),
        sum(when(col("lg") < 0, col("c")).otherwise(0L))
          .as("n_negative"),
        max(when(col("cum") - col("c") < expr("(cnt + 1) div 2") &&
            expr("(cnt + 1) div 2") <= col("cum"), col("lg")))
          .as("p50_days"),
        max(when(col("cum") - col("c") < expr("(cnt * 9 + 9) div 10") &&
            expr("(cnt * 9 + 9) div 10") <= col("cum"), col("lg")))
          .as("p90_days"))
      .select(col("pri"), col("n"), col("n_negative"),
        expr("n_negative * 10000 div n").as("neg_share_e4"),
        col("p50_days"), col("p90_days"))
      .orderBy(col("pri"))
  }

  /** Re-identification uniqueness curve: how fast does
    * record-level uniqueness escalate as quasi-identifier sets widen?
    * Four nested QI levels — {type} → {type, weekday} → {type, day} →
    * {type, day, exact centi value} — each reporting combo count,
    * singleton combos, records in singleton combos, and the at-risk
    * share. The fixture tells the canonical story: 0% risk at every
    * coarse level, then 99.2% the moment the raw value joins the set
    * — the quantified argument for k-anonymity generalization
    * (q_priv_k_anon's GATE, this row's CURVE).
    *
    * Shape (100 TB): four independent partial-aggregable
    * groupBy-count folds (no window, no join wider than the broadcast
    * total) — the audit costs four shuffles of shrinking key spaces. */
  def uniquenessCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_type").as("t"),
        epochDay.as("day"),
        epochDow.as("dow"),
        cents("value").as("c"))
    val tot = e.agg(count(lit(1)).as("n"))
    def level(name: String, keys: Seq[String]): DataFrame =
      e.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("combos"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("singletons"),
          sum(when(col("cnt") === 1, col("cnt")).otherwise(0L))
            .as("at_risk"))
        .select(lit(name).as("ql"), col("combos"), col("singletons"),
          col("at_risk"))
    level("Q1:type", Seq("t"))
      .unionAll(level("Q2:type+dow", Seq("t", "dow")))
      .unionAll(level("Q3:type+day", Seq("t", "day")))
      .unionAll(level("Q4:type+day+centi", Seq("t", "day", "c")))
      .crossJoin(broadcast(tot))
      .select(col("ql"), col("combos").as("n_combos"),
        col("singletons").as("n_singletons"),
        col("at_risk").as("n_records_at_risk"),
        expr("at_risk * 10000 div n").as("risk_share_e4"))
      .orderBy(col("ql"))
  }

  /** Tukey-fence outlier audit: IQR fences (1.5×) over
    * supplier balances, with PLANTED contamination (every 97th
    * supplier's balance ×10 — the c4_rules/pii_scrub planting
    * discipline: the uniform synthetic balances contain no natural
    * outliers, so the audit must create the condition it exists to
    * catch). Emits the fence parts (exact quartiles via the
    * distribution-counting rank (cnt+3) div 4 / (3·cnt+3) div 4),
    * the outlier census, and the planted-vs-caught reconciliation:
    * 2/2 caught at sf0.01 but 6/11 at sf0.1 — a ×10 on a SMALL
    * balance stays inside the fences, the known IQR blind spot the
    * row documents rather than hides (MAD on events is the robust
    * sibling). Fence compare is integer-exact: 10·c vs 10·q ± 15·IQR.
    *
    * Shape: one rank window over the supplier frame → broadcast
    * quartiles → map-side fence compare → 1-row census. */
  def balanceFences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = supplier(spark, dir)
      .select(col("s_suppkey"),
        expr("""CASE WHEN s_suppkey % 97 = 0
          |THEN CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) * 10
          |ELSE CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
          |END""".stripMargin).as("c"),
        (col("s_suppkey") % 97 === 0).as("planted"))
    val q = s
      .withColumn("rn", row_number().over(
        Window.orderBy(col("c"), col("s_suppkey"))))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .agg(max(col("cnt")).as("n"),
        max(when(col("rn") === expr("(cnt + 3) div 4"), col("c")))
          .as("q1"),
        max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("c")))
          .as("q3"))
    s.crossJoin(broadcast(q))
      .withColumn("out", expr("10 * c < 10 * q1 - 15 * (q3 - q1)" +
        " OR 10 * c > 10 * q3 + 15 * (q3 - q1)"))
      .agg(max(col("n")).as("n_suppliers"),
        max(col("q1")).as("q1_c"), max(col("q3")).as("q3_c"),
        max(col("q3") - col("q1")).as("iqr_c"),
        sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("planted"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(col("planted") && col("out"), 1L).otherwise(0L))
          .as("n_planted_caught"))
  }

  /** Order-independent table checksums: the replication /
    * migration reconciliation primitive — per table, a row-content
    * fingerprint that any system computing the same per-row hash can
    * reproduce REGARDLESS of row order or partitioning: bit_xor of
    * the h60 row hash plus a modular sum (two independent folds, so
    * a swapped pair that cancels in xor still trips the sum). Row
    * keys: (doc_id, text) for documents, (event_id, user_id, type)
    * for events, (orderkey, linenumber, cents price) for lineitem.
    * The cheap answer to "did the copy arrive intact" that
    * dq_reconcile's aggregate compare can't give at row granularity.
    *
    * Shape: three map-side hash projections → 3-group commutative
    * fold (both combiners are order-independent BY CONSTRUCTION —
    * that is the point). */
  def tableChecksums(spark: SparkSession, dir: String): DataFrame = {
    def arm(df: DataFrame, name: String, keyExpr: String) =
      df.select(expr(graft.operators.LlmOps.h60(keyExpr)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_check"),
          expr("sum(h % 1000000007) % 1000000007").as("sum_check"))
        .select(lit(name).as("tbl"), col("n_rows"), col("xor_check"),
          col("sum_check"))
    arm(documents(spark, dir), "documents",
        "concat(CAST(doc_id AS STRING), '|', text)")
      .unionAll(arm(events(spark, dir), "events",
        "concat(CAST(event_id AS STRING), '|'," +
          " CAST(user_id AS STRING), '|', event_type)"))
      .unionAll(arm(lineitem(spark, dir), "lineitem",
        "concat(CAST(l_orderkey AS STRING), '|'," +
          " CAST(l_linenumber AS STRING), '|'," +
          " CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)" +
          " AS STRING))"))
      .orderBy(col("tbl"))
  }

  /** Id-space density audit (J71): is the orderkey id space dense or
    * gappy? Gaps in a surrogate-key space are the footprint of lost
    * batches, hard deletes, or a writer skipping ranges — the
    * ingestion-completeness question a row count alone can't answer.
    * Exact density over the observed [min, max] span plus a
    * KILOBUCKET census (id div 1000): spanned vs occupied buckets
    * localizes the gaps without ever sorting the id column (the
    * largest-gap-via-window alternative is a global id sort — the
    * scale-hostile form this row exists to avoid).
    *
    * Shape (100 TB): one fold for the span stats + one
    * partial-aggregable kilobucket census → bucket-sized fold. */
  def idDensity(spark: SparkSession, dir: String): DataFrame = {
    val ids = orders(spark, dir).select(col("o_orderkey").as("id"))
    val s = ids.agg(count(lit(1)).as("n"),
      countDistinct(col("id")).as("n_distinct"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    val kb = ids.select(expr("id div 1000").as("kb"))
      .groupBy(col("kb")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("kb_occupied"), max(col("c")).as("kb_max"))
    s.crossJoin(broadcast(kb))
      .select(col("n"), col("n_distinct"), col("min_id"),
        col("max_id"),
        expr("n * 10000 div (max_id - min_id + 1)").as("density_e4"),
        expr("max_id div 1000 - min_id div 1000 + 1").as("kb_spanned"),
        col("kb_occupied"),
        expr("max_id div 1000 - min_id div 1000 + 1 - kb_occupied")
          .as("kb_empty"),
        col("kb_max"))
  }

  /** Enum first-seen audit (J72): for every value of the three
    * low-cardinality enum columns (order status, order priority,
    * return flag), the first ORDER YEAR it appears plus its count —
    * the schema-drift question for VALUES: a new enum value appearing
    * mid-history is a producer change every consumer contract wants
    * to hear about (fixture: all values present from year one — the
    * stable baseline this row would break against).
    *
    * Shape (100 TB): two fact scans (orders / lineitem⋈orders year) →
    * stacked enum census, ≤ 13 rows. */
  def enumFirstSeen(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
      .select(expr("CAST(year(o_orderdate) AS BIGINT)").as("yr"),
        col("o_orderstatus"), col("o_orderpriority"))
    val fromOrders = o.select(expr(
      "stack(2, 'o_orderstatus', o_orderstatus," +
        " 'o_orderpriority', o_orderpriority) AS (col, value)"),
      col("yr"))
    val fromLines = lineitem(spark, dir)
      .join(orders(spark, dir).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .select(lit("l_returnflag").as("col"),
        col("l_returnflag").as("value"),
        expr("CAST(year(o_orderdate) AS BIGINT)").as("yr"))
    fromOrders.unionAll(fromLines)
      .groupBy(col("col"), col("value"))
      .agg(min(col("yr")).as("first_year"), count(lit(1)).as("n"))
      .orderBy(col("col"), col("value"))
  }

  /** Sequence-inversion audit (J73): per user, the share of
    * consecutive-by-event_id pairs whose timestamps run BACKWARD —
    * the "does the surrogate id respect event time" question behind
    * every id-ordered incremental consumer (a backfill or a
    * multi-writer race shows up here first). Global census: pairs,
    * inversions, worst user.
    *
    * Shape (100 TB): per-USER id-ordered window (key-partitioned,
    * never a global id sort) → user fold → 1-row census +
    * TakeOrdered worst user. */
  def seqInversion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val pu = eventsUs(spark, dir)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ts_us") < col("prev_ts"), 1L).otherwise(0L))
          .as("n_back"))
    val worst = pu.orderBy(expr("n_back * 10000 div n_pairs").desc,
        col("user_id")).limit(1)
      .select(col("user_id").as("worst_user"),
        expr("n_back * 10000 div n_pairs").as("worst_share_e4"))
    pu.agg(sum(col("n_pairs")).as("n_pairs"),
        sum(col("n_back")).as("n_back"))
      .crossJoin(broadcast(worst))
      .select(col("n_pairs"), col("n_back"),
        expr("n_back * 10000 div n_pairs").as("back_share_e4"),
        col("worst_user"), col("worst_share_e4"))
  }

  /** DP histogram with CALIBRATED Laplace noise (J85): the
    * (event_type, epoch-dow) activity histogram released under
    * ε = 0.5 — per cell, Laplace(b = 1/ε = 2) noise drawn by the exact
    * inverse CDF on an md5-derived uniform (the sketch-hash
    * determinism discipline: the oracle replays the identical draw),
    * where q_priv_dp_count's bounded-uniform sketch only gestured at
    * the mechanism. noise = −b·sign(u−½)·ln(1−2|u−½|), in the lnE3
    * floor-once lane (13816 = lnE3(10⁶)); production swaps the hash
    * for a seeded CSPRNG — the calibration and the release shape are
    * what this row pins. Suppression at noisy < 10 (release hygiene).
    *
    * Exactness: the signed noise-to-count fold rides the SHIFT idiom
    * ((x + 10⁶) div 10³ − 10³) — signed div truncates toward zero in
    * Spark but floors in DuckDB (the assortativity lesson), so no
    * signed operand ever reaches a div. Epoch-dow (day mod 7) avoids
    * calendar-locale dow divergence. Shape: one partial-aggregable
    * cell census; noise is a per-cell scalar expression. */
  def dpHistogram(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("dow", epochDow)
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_true"))
      .transform(laplaceDraw("concat(event_type, '|', dow)"))
      .withColumn("noise_e3", expr(
        "CASE WHEN u >= 500000 THEN -2 * t_e3 ELSE 2 * t_e3 END"))
      .withColumn("n_noisy", expr(
        "n_true + ((noise_e3 + 1000000) div 1000 - 1000)"))
      .select(col("event_type"), col("dow"), col("n_true"),
        col("noise_e3"), col("n_noisy"),
        (col("n_noisy") < 10L).as("suppressed"))
      .orderBy(col("event_type"), col("dow"))

  /** Candidate-key discovery over orders (J90): per column —
    * row count, nulls, exact distinct count, uniqueness share, and the
    * candidate-key verdict (distinct == rows AND null-free). The
    * DISCOVERY member of the profiling family: dq_profile reports
    * completeness/ranges against a declared contract, fd_violations
    * tests DECLARED dependencies — this row asks the schema question
    * nobody declared (which columns could key this table), the first
    * thing every catalog/profiling tool (Deequ uniqueness,
    * `ANALYZE`-style stats) computes on an unknown feed.
    *
    * Exactness: pure integer counting on raw typed columns — distinct
    * counts never pass through a string representation (a
    * double/timestamp round-trip repr would be engine-dependent);
    * uniqueness_e4 carries the one truncating div.
    *
    * Shape (100 TB): one partial-aggregable pass per column (6 arms,
    * each count+countDistinct — map-side partials, one exchange
    * each). A single multi-countDistinct agg would expand the fact
    * table ×6 through ONE shuffle instead; at 6 columns the arms win
    * on per-pass memory and lose nothing on IO (the scan is
    * column-pruned to one column per arm). */
  def keyDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    def arm(c: String): DataFrame =
      o.agg(count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          expr("n_distinct * 10000 div n_rows").as("uniqueness_e4"),
          (col("n_distinct") === col("n_rows") &&
            col("n_nulls") === 0L).as("is_candidate_key"))
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .map(arm).reduce(_ unionAll _)
      .orderBy(col("column"))
  }

  /** DP privacy-utility sweep (J92): the ε=0.5 release
    * q_priv_dp_hist ships, re-released at ε ∈ {1/4, 1/2, 2} and scored
    * against the true (event_type × dow) histogram — L1 error, worst
    * cell, per-cell mean, and suppressed-cell count per arm. The
    * privacy twin of the sketch-sizing sweeps (count-min width, Bloom
    * bits): every DP deployment picks ε off exactly this curve, and
    * the row makes the tradeoff DATA on this corpus instead of a
    * citation. Noise is the dp_hist inverse-CDF Laplace on an md5
    * uniform, salted per arm (a real release draws fresh noise per
    * ε), scale 1/ε as the exact rational sn/sd ∈ {4/1, 2/1, 1/2}.
    *
    * Exactness: lnE3 floor-once per cell (the dp_hist idiom); the
    * scaled noise (sn·t_e3) div sd divides a NEGATIVE t_e3 — both
    * engines truncate toward zero (the holt note), identical text;
    * released counts round through the same (+10⁶)/1000 shift as
    * dp_hist.
    *
    * Shape (100 TB): one partial-aggregable (type, dow) census —
    * constant ≤ |types|×7 cells — crossed with 3 constant arms; all
    * post-census work is on ≤ 126 rows. */
  def dpUtilitySweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = events(spark, dir)
      .withColumn("dow", epochDow)
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_true"))
    val arms = Seq((25L, 4L, 1L), (50L, 2L, 1L), (200L, 1L, 2L))
      .toDF("eps_e2", "sn", "sd")
    cells.crossJoin(broadcast(arms))
      .transform(laplaceDraw("concat(event_type, '|', dow, '|', eps_e2)"))
      .withColumn("noise_e3", expr(
        "CASE WHEN u >= 500000 THEN -((sn * t_e3) div sd)" +
          " ELSE (sn * t_e3) div sd END"))
      .withColumn("released", expr(
        "n_true + ((noise_e3 + 1000000) div 1000 - 1000)"))
      .groupBy(col("eps_e2"))
      .agg(count(lit(1)).as("n_cells"),
        sum(abs(col("released") - col("n_true"))).as("l1_err"),
        max(abs(col("released") - col("n_true"))).as("max_err"),
        sum(when(col("released") < 10L, 1L).otherwise(0L))
          .as("n_suppressed"))
      .select(col("eps_e2"), col("n_cells"), col("l1_err"),
        col("max_err"),
        expr("l1_err * 100 div n_cells").as("mean_err_e2"),
        col("n_suppressed"))
      .orderBy(col("eps_e2"))
  }

  /** Per-column value entropy over orders (J103): Shannon
    * entropy of each column's value distribution in lnE3 nats, with
    * the ln(n) ceiling and the normalized share — the
    * INFORMATION-content axis q_dq_key_discovery's distinct counts
    * flatten (two columns with equal cardinality can carry wildly
    * different entropy: a 99%-one-value enum vs a balanced one), and
    * the profiling number behind join-key and partition-key choice
    * (low-entropy keys skew shuffles). A near-key continuous column
    * reads H ≈ ln(n) — the ceiling makes that legible.
    *
    * Exactness: the markovEntropy lane — H_e3 = lnE3(n) −
    * (Σ c·lnE3(c)) div n over the value census, floor-once per
    * operand; normalized ×10⁴ one truncating div.
    *
    * Shape (100 TB): one partial-aggregable value census per column
    * (column-pruned scans, the key-discovery arm shape) →
    * census-sized fold → 6 rows. */
  def columnEntropy(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    def arm(c: String): DataFrame =
      o.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"),
          sum(expr("cnt * (CAST(floor(ln(cnt) * 1000 + 0.5)" +
            " AS BIGINT))")).as("sclnc"))
        .select(lit(c).as("column"), col("n").as("n_rows"),
          col("n_distinct"),
          expr("""CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)
            | - sclnc div n""".stripMargin).as("entropy_e3"),
          expr("CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT)")
            .as("max_entropy_e3"))
        .withColumn("normalized_e4", expr(
          "entropy_e3 * 10000 div greatest(max_entropy_e3, 1)"))
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .map(arm).reduce(_ unionAll _)
      .orderBy(col("column"))
  }

  /** DP report-noisy-max (J104): release WHICH event type
    * is most common without releasing the counts — Laplace noise on
    * every per-type count (the dp_hist ε = 0.5 lane, 'nm'-salted
    * md5 uniforms), emit per type the noisy score's argmax flag
    * beside the true one, plus the true runner-up margin (the number
    * that predicts whether noisy-max can flip). Completes the DP
    * family's mechanism trio: dp_count/dp_hist release VALUES,
    * dp_utility prices ε, this row releases a SELECTION — the
    * exponential mechanism's practical sibling (noisy-max with
    * Laplace is ε-DP for counting queries by the standard argument).
    *
    * Exactness: the dp_hist inverse-CDF lanes verbatim; argmax
    * tie-break (noisy desc, type asc) is total.
    *
    * Shape (100 TB): one partial-aggregable type census → |types|-row
    * algebra. */
  def noisyMax(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
      .transform(laplaceDraw("concat(event_type, '|nm')"))
      .withColumn("noise_e3", expr(
        "CASE WHEN u >= 500000 THEN -2 * t_e3 ELSE 2 * t_e3 END"))
      .withColumn("n_noisy", expr(
        "n_true + ((noise_e3 + 1000000) div 1000 - 1000)"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_noisy").desc, col("event_type"))
    val wt = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_true").desc, col("event_type"))
    base
      .withColumn("released_argmax",
        row_number().over(w) === 1)
      .withColumn("true_argmax", row_number().over(wt) === 1)
      .withColumn("margin_true", expr(
        "n_true - max(CASE WHEN NOT true_argmax THEN n_true END)" +
          " OVER ()"))
      .select(col("event_type"), col("n_true"), col("n_noisy"),
        col("released_argmax"), col("true_argmax"),
        when(col("true_argmax"), col("margin_true")).otherwise(0L)
          .as("argmax_margin"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_priv_noisy_max" -> noisyMax,
    "q_dq_column_entropy" -> columnEntropy,
    "q_priv_dp_utility" -> dpUtilitySweep,
    "q_dq_key_discovery" -> keyDiscovery,
    "q_priv_dp_histogram" -> dpHistogram,
    "q_priv_generalize" -> generalizeLadder,
    "q_dq_seq_inversion" -> seqInversion,
    "q_dq_enum_firstseen" -> enumFirstSeen,
    "q_dq_id_density" -> idDensity,
    "q_dq_table_checksum" -> tableChecksums,
    "q_dq_balance_fences" -> balanceFences,
    "q_priv_uniqueness_curve" -> uniquenessCurve,
    "q_dq_temporal_order" -> temporalOrder,
    "q_dq_fd_violations" -> fdViolations,
    "q_dq_freshness" -> dqFreshness,
    "q_priv_t_closeness" -> tCloseness,
    "q_dq_benford" -> dqBenford,
    "q_dq_ks_test" -> dqKsTest,
    "q_dq_reconcile" -> dqReconcile,
    "q_priv_dp_count" -> dpCount,
    "q_dq_drift" -> dqDrift,
    "q_priv_k_anon" -> kAnonymity,
    "q_priv_l_diversity" -> lDiversity,
    "q_dq_constraints" -> dqConstraints,
    "q_dq_profile" -> dqProfile,
  )

  private def keyArmSql(c: String): String =
    s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_nulls,
       | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       | CAST(count(DISTINCT $c) * 10000 // count(*) AS BIGINT)
       |   AS uniqueness_e4,
       | count(DISTINCT $c) = count(*)
       |   AND sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0
       |   AS is_candidate_key
       |FROM orders""".stripMargin

  private def entropyArmSql(c: String): String =
    s"""SELECT '$c' AS "column", CAST(sum(cnt) AS BIGINT) AS n_rows,
       | CAST(count(*) AS BIGINT) AS n_distinct,
       | CAST(CAST(floor(ln(sum(cnt)) * 1000 + 0.5) AS BIGINT)
       |   - CAST(sum(cnt * (CAST(floor(ln(cnt) * 1000 + 0.5)
       |       AS BIGINT))) AS BIGINT) // sum(cnt) AS BIGINT)
       |   AS entropy_e3,
       | CAST(floor(ln(sum(cnt)) * 1000 + 0.5) AS BIGINT)
       |   AS max_entropy_e3,
       | CAST((CAST(floor(ln(sum(cnt)) * 1000 + 0.5) AS BIGINT)
       |   - CAST(sum(cnt * (CAST(floor(ln(cnt) * 1000 + 0.5)
       |       AS BIGINT))) AS BIGINT) // sum(cnt)) * 10000
       |   // greatest(CAST(floor(ln(sum(cnt)) * 1000 + 0.5)
       |       AS BIGINT), 1) AS BIGINT) AS normalized_e4
       |FROM (SELECT $c, CAST(count(*) AS BIGINT) AS cnt
       |      FROM orders GROUP BY $c)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_priv_noisy_max" ->
      """WITH b AS (SELECT event_type, CAST(count(*) AS BIGINT)
        |   AS n_true FROM events GROUP BY 1),
        |n AS (SELECT event_type, n_true,
        |   CAST('0x' || substr(md5(event_type || '|nm'), 1, 15)
        |     AS BIGINT) % 1000000 AS u FROM b),
        |t AS (SELECT *, CAST(floor(ln(greatest(1000000
        |     - 2 * abs(u - 500000), 1)) * 1000 + 0.5) AS BIGINT)
        |     - 13816 AS t_e3 FROM n),
        |r AS (SELECT event_type, n_true,
        |   CAST(n_true + (((CASE WHEN u >= 500000 THEN -2 * t_e3
        |     ELSE 2 * t_e3 END) + 1000000) // 1000 - 1000) AS BIGINT)
        |     AS n_noisy FROM t),
        |f AS (SELECT *,
        |   row_number() OVER (ORDER BY n_noisy DESC, event_type) = 1
        |     AS released_argmax,
        |   row_number() OVER (ORDER BY n_true DESC, event_type) = 1
        |     AS true_argmax FROM r),
        |m AS (SELECT max(CASE WHEN NOT true_argmax THEN n_true END)
        |   AS runner FROM f)
        |SELECT event_type, n_true, n_noisy, released_argmax,
        |  true_argmax,
        |  CAST(CASE WHEN true_argmax THEN n_true - m.runner
        |    ELSE 0 END AS BIGINT) AS argmax_margin
        |FROM f CROSS JOIN m ORDER BY event_type""".stripMargin,
    "q_dq_column_entropy" ->
      (Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
        .map(entropyArmSql).mkString("", "\nUNION ALL\n",
          "\nORDER BY \"column\"")),
    "q_priv_dp_utility" ->
      """WITH cells AS (SELECT event_type,
        |   (epoch_us(ts) // 86400000000) % 7 AS dow,
        |   CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY 1, 2),
        |arms(eps_e2, sn, sd) AS (VALUES
        |  (CAST(25 AS BIGINT), CAST(4 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(50 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(200 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(2 AS BIGINT))),
        |x AS (SELECT c.*, a.eps_e2, a.sn, a.sd,
        |   CAST('0x' || substr(md5(c.event_type || '|' || c.dow
        |     || '|' || a.eps_e2), 1, 15) AS BIGINT) % 1000000 AS u
        |  FROM cells c CROSS JOIN arms a),
        |n AS (SELECT *,
        |   CAST(floor(ln(greatest(1000000 - 2 * abs(u - 500000), 1))
        |     * 1000 + 0.5) AS BIGINT) - 13816 AS t_e3
        |  FROM x),
        |r AS (SELECT eps_e2, n_true,
        |   n_true + (((CASE WHEN u >= 500000
        |      THEN -((sn * t_e3) // sd)
        |      ELSE (sn * t_e3) // sd END) + 1000000) // 1000 - 1000)
        |     AS released
        |  FROM n)
        |SELECT eps_e2, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(abs(released - n_true)) AS BIGINT) AS l1_err,
        |  CAST(max(abs(released - n_true)) AS BIGINT) AS max_err,
        |  CAST(sum(abs(released - n_true)) * 100 // count(*)
        |    AS BIGINT) AS mean_err_e2,
        |  CAST(sum(CASE WHEN released < 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_suppressed
        |FROM r GROUP BY eps_e2 ORDER BY eps_e2""".stripMargin,
    "q_dq_key_discovery" ->
      (Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
        .map(keyArmSql).mkString("", "\nUNION ALL\n",
          "\nORDER BY \"column\"")),
    "q_priv_dp_histogram" ->
      """WITH cells AS (SELECT event_type,
        |   (epoch_us(ts) // 86400000000) % 7 AS dow,
        |   CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY 1, 2),
        |nz AS (SELECT event_type, dow, n_true,
        |   CAST(CAST('0x' || substr(md5(event_type || '|' || dow), 1, 15)
        |     AS BIGINT) % 1000000 AS BIGINT) AS u
        |  FROM cells),
        |tt AS (SELECT event_type, dow, n_true, u,
        |   CAST(floor(ln(greatest(1000000 - 2 * abs(u - 500000), 1))
        |     * 1000 + 0.5) AS BIGINT) - 13816 AS t_e3
        |  FROM nz),
        |fin AS (SELECT event_type, dow, n_true,
        |   CASE WHEN u >= 500000 THEN -2 * t_e3 ELSE 2 * t_e3 END
        |     AS noise_e3
        |  FROM tt)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, n_true, noise_e3,
        | CAST(n_true + ((noise_e3 + 1000000) // 1000 - 1000) AS BIGINT)
        |   AS n_noisy,
        | n_true + ((noise_e3 + 1000000) // 1000 - 1000) < 10
        |   AS suppressed
        |FROM fin ORDER BY event_type, dow""".stripMargin,
    "q_priv_generalize" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment,
        |   (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000000)
        |     // 100000 AS band
        |  FROM customer),
        |r0 AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM base
        |  GROUP BY c_nationkey, c_mktsegment, band),
        |r1 AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM base
        |  GROUP BY c_nationkey, c_mktsegment, band // 10),
        |r2 AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM base
        |  GROUP BY c_nationkey, c_mktsegment)
        |SELECT * FROM (
        | SELECT '0_band_1k' AS rung,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(sz) AS BIGINT) AS min_class,
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small5,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000
        |    // sum(sz) AS BIGINT) AS supp_rate_e4 FROM r0
        | UNION ALL SELECT '1_band_10k', CAST(count(*) AS BIGINT),
        |  CAST(min(sz) AS BIGINT),
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000
        |    // sum(sz) AS BIGINT) FROM r1
        | UNION ALL SELECT '2_no_band', CAST(count(*) AS BIGINT),
        |  CAST(min(sz) AS BIGINT),
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000
        |    // sum(sz) AS BIGINT) FROM r2
        |) u ORDER BY rung""".stripMargin,
    "q_dq_seq_inversion" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |   lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |     ORDER BY event_id) AS prev_ts
        |  FROM events),
        |pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |   CAST(sum(CASE WHEN ts_us < prev_ts THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_back
        |  FROM l WHERE prev_ts IS NOT NULL GROUP BY 1),
        |worst AS (SELECT user_id AS worst_user,
        |   n_back * 10000 // n_pairs AS worst_share_e4
        |  FROM pu ORDER BY n_back * 10000 // n_pairs DESC, user_id
        |  LIMIT 1),
        |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
        |   CAST(sum(n_back) AS BIGINT) AS n_back FROM pu)
        |SELECT n_pairs, n_back,
        | n_back * 10000 // n_pairs AS back_share_e4,
        | worst_user, worst_share_e4
        |FROM tot CROSS JOIN worst""".stripMargin,
    "q_dq_enum_firstseen" ->
      """WITH u AS (
        |  SELECT 'o_orderstatus' AS col, o_orderstatus AS value,
        |   CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority,
        |   CAST(year(o_orderdate) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'l_returnflag', l_returnflag,
        |   CAST(year(o_orderdate) AS BIGINT)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT col, value, CAST(min(yr) AS BIGINT) AS first_year,
        | CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2 ORDER BY col, value""".stripMargin,
    "q_dq_id_density" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |   CAST(min(o_orderkey) AS BIGINT) AS min_id,
        |   CAST(max(o_orderkey) AS BIGINT) AS max_id FROM orders),
        |kb AS (SELECT CAST(count(*) AS BIGINT) AS kb_occupied,
        |   CAST(max(c) AS BIGINT) AS kb_max
        |  FROM (SELECT o_orderkey // 1000 AS kb, count(*) AS c
        |   FROM orders GROUP BY 1) t)
        |SELECT n, n_distinct, min_id, max_id,
        | n * 10000 // (max_id - min_id + 1) AS density_e4,
        | max_id // 1000 - min_id // 1000 + 1 AS kb_spanned,
        | kb_occupied,
        | max_id // 1000 - min_id // 1000 + 1 - kb_occupied
        |   AS kb_empty,
        | kb_max
        |FROM s CROSS JOIN kb""".stripMargin,
    "q_dq_table_checksum" ->
      """WITH h AS (
        |  SELECT 'documents' AS tbl,
        |    CAST('0x' || substr(md5(doc_id || '|' || text), 1, 15)
        |      AS BIGINT) AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT 'events',
        |    CAST('0x' || substr(md5(event_id || '|' || user_id || '|'
        |      || event_type), 1, 15) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'lineitem',
        |    CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber
        |      || '|' || CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)), 1, 15) AS BIGINT)
        |  FROM lineitem)
        |SELECT tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_check,
        |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT)
        |    AS sum_check
        |FROM h GROUP BY tbl ORDER BY tbl""".stripMargin,
    "q_dq_balance_fences" ->
      """WITH s AS (SELECT s_suppkey,
        |   CASE WHEN s_suppkey % 97 = 0
        |     THEN CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) * 10
        |     ELSE CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
        |   END AS c,
        |   s_suppkey % 97 = 0 AS planted
        |  FROM supplier),
        |r AS (SELECT s_suppkey, c, planted,
        |   row_number() OVER (ORDER BY c, s_suppkey) AS rn,
        |   count(*) OVER () AS cnt FROM s),
        |q AS (SELECT CAST(max(cnt) AS BIGINT) AS n,
        |   CAST(max(CASE WHEN rn = (cnt + 3) // 4 THEN c END)
        |     AS BIGINT) AS q1,
        |   CAST(max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN c END)
        |     AS BIGINT) AS q3
        |  FROM r)
        |SELECT q.n AS n_suppliers, q.q1 AS q1_c, q.q3 AS q3_c,
        |  CAST(q.q3 - q.q1 AS BIGINT) AS iqr_c,
        |  CAST(sum(CASE WHEN 10 * s.c < 10 * q.q1 - 15 * (q.q3 - q.q1)
        |    OR 10 * s.c > 10 * q.q3 + 15 * (q.q3 - q.q1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN s.planted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted,
        |  CAST(sum(CASE WHEN s.planted AND (10 * s.c < 10 * q.q1
        |    - 15 * (q.q3 - q.q1) OR 10 * s.c > 10 * q.q3
        |    + 15 * (q.q3 - q.q1)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted_caught
        |FROM s CROSS JOIN q GROUP BY q.n, q.q1, q.q3""".stripMargin,
    "q_priv_uniqueness_curve" ->
      """WITH e AS (SELECT event_type AS t,
        |   epoch_us(ts) // 86400000000 AS day,
        |   (epoch_us(ts) // 86400000000) % 7 AS dow,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |q1 AS (SELECT 'Q1:type' AS ql, count(*) AS combos,
        |   sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS singletons,
        |   sum(CASE WHEN cnt = 1 THEN cnt ELSE 0 END) AS at_risk
        |  FROM (SELECT t, count(*) AS cnt FROM e GROUP BY 1)),
        |q2 AS (SELECT 'Q2:type+dow', count(*),
        |   sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END),
        |   sum(CASE WHEN cnt = 1 THEN cnt ELSE 0 END)
        |  FROM (SELECT t, dow, count(*) AS cnt FROM e GROUP BY 1, 2)),
        |q3 AS (SELECT 'Q3:type+day', count(*),
        |   sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END),
        |   sum(CASE WHEN cnt = 1 THEN cnt ELSE 0 END)
        |  FROM (SELECT t, day, count(*) AS cnt FROM e GROUP BY 1, 2)),
        |q4 AS (SELECT 'Q4:type+day+centi', count(*),
        |   sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END),
        |   sum(CASE WHEN cnt = 1 THEN cnt ELSE 0 END)
        |  FROM (SELECT t, day, c, count(*) AS cnt FROM e
        |        GROUP BY 1, 2, 3))
        |SELECT ql, CAST(combos AS BIGINT) AS n_combos,
        |  CAST(singletons AS BIGINT) AS n_singletons,
        |  CAST(at_risk AS BIGINT) AS n_records_at_risk,
        |  CAST(at_risk * 10000 // tot.n AS BIGINT) AS risk_share_e4
        |FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2
        |  UNION ALL SELECT * FROM q3 UNION ALL SELECT * FROM q4)
        |  t(ql, combos, singletons, at_risk) CROSS JOIN tot
        |ORDER BY ql""".stripMargin,
    "q_dq_temporal_order" ->
      """WITH lagd AS (SELECT o.o_orderpriority AS pri,
        |   CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
        |     AS BIGINT) AS lg
        |  FROM lineitem l JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey),
        |r AS (SELECT pri, lg,
        |   row_number() OVER (PARTITION BY pri ORDER BY lg) AS rn,
        |   count(*) OVER (PARTITION BY pri) AS cnt
        |  FROM lagd)
        |SELECT pri, CAST(max(cnt) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lg < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative,
        |  CAST(sum(CASE WHEN lg < 0 THEN 1 ELSE 0 END) * 10000
        |    // max(cnt) AS BIGINT) AS neg_share_e4,
        |  CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN lg END)
        |    AS BIGINT) AS p50_days,
        |  CAST(max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN lg END)
        |    AS BIGINT) AS p90_days
        |FROM r GROUP BY 1 ORDER BY pri""".stripMargin,
    "q_dq_fd_violations" -> {
      def arm(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(max(c) AS BIGINT) AS max_rhs, max(c) = 1 AS fd_holds
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS c FROM $table
           |      GROUP BY 1)""".stripMargin
      Seq(
        arm("documents.source->lang", "documents", "source", "lang"),
        arm("events.user_id->event_type", "events",
          "user_id", "event_type"),
        arm("lineitem.l_returnflag->l_linestatus", "lineitem",
          "l_returnflag", "l_linestatus"),
        arm("nation.n_nationkey->n_regionkey", "nation",
          "n_nationkey", "n_regionkey"),
        arm("part.p_brand->p_type", "part", "p_brand", "p_type"),
        arm("supplier.s_suppkey->s_nationkey", "supplier",
          "s_suppkey", "s_nationkey"),
      ).mkString("", "\nUNION ALL ", "\nORDER BY fd")
    },
    "q_dq_freshness" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |wm AS (SELECT max(ts_us) AS wm_us, max(day) AS wm_day FROM ev),
        |daily AS (SELECT event_type, day, count(*) AS n,
        |   max(ts_us) AS d_max_us
        |  FROM ev GROUP BY 1, 2),
        |f AS (SELECT event_type,
        |   max(d_max_us) AS last_us,
        |   sum(CASE WHEN day = wm.wm_day THEN n ELSE 0 END)
        |     AS n_last_day,
        |   sum(CASE WHEN day < wm.wm_day THEN n ELSE 0 END) AS n_prior,
        |   sum(CASE WHEN day < wm.wm_day THEN 1 ELSE 0 END)
        |     AS n_prior_days,
        |   max(wm.wm_us) AS wm_us
        |  FROM daily CROSS JOIN wm GROUP BY event_type)
        |SELECT event_type, CAST(last_us AS BIGINT) AS last_us,
        | CAST(wm_us - last_us AS BIGINT) AS staleness_us,
        | CAST(n_last_day AS BIGINT) AS n_last_day,
        | CAST(n_prior_days AS BIGINT) AS n_prior_days,
        | CAST(n_prior // greatest(n_prior_days, 1) AS BIGINT)
        |   AS prior_daily_avg,
        | CAST(n_last_day * 10000
        |   // greatest(n_prior // greatest(n_prior_days, 1), 1)
        |   AS BIGINT) AS drop_e4
        |FROM f ORDER BY event_type""".stripMargin,
    "q_priv_t_closeness" ->
      """WITH ev AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS day,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mx AS (SELECT max(cents) AS maxc FROM ev),
        |banded AS (SELECT event_type, day,
        |   cents * 10 // (mx.maxc + 1) AS band
        |  FROM ev CROSS JOIN mx),
        |cells AS (SELECT event_type, day, band, count(*) AS c
        |  FROM banded GROUP BY 1, 2, 3),
        |classes AS (SELECT event_type, day, sum(c) AS n
        |  FROM cells GROUP BY 1, 2),
        |gb AS (SELECT band, sum(c) AS g FROM cells GROUP BY band),
        |tot AS (SELECT sum(g) AS big_n FROM gb),
        |grid AS (SELECT cl.event_type, cl.day, cl.n, gl.band, gl.g,
        |   coalesce(ce.c, 0) AS c0
        |  FROM classes cl CROSS JOIN gb gl
        |  LEFT JOIN cells ce ON ce.event_type = cl.event_type
        |   AND ce.day = cl.day AND ce.band = gl.band),
        |folded AS (SELECT event_type, day,
        |   max(n) AS n_rows,
        |   sum(CASE WHEN c0 > 0 THEN 1 ELSE 0 END) AS n_present,
        |   sum(abs(c0 * tot.big_n - g * n)) AS s,
        |   max(n * tot.big_n) AS nn
        |  FROM grid CROSS JOIN tot GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        | CAST(n_rows AS BIGINT) AS n_rows,
        | CAST(n_present AS BIGINT) AS n_present,
        | CAST(s * 5000 // nn AS BIGINT) AS tv_e4,
        | s * 5000 // nn <= 2500 AS t_ok
        |FROM folded ORDER BY event_type, day""".stripMargin,
    "q_dq_benford" ->
      """WITH obs AS (SELECT
        |   CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
        |     AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |   count(*) AS n_obs
        |  FROM lineitem GROUP BY 1),
        |bd AS (SELECT * FROM (VALUES (1, 3010), (2, 1760), (3, 1249),
        |   (4, 969), (5, 791), (6, 669), (7, 579), (8, 511), (9, 457))
        |   AS t(digit, benford_e4)),
        |tot AS (SELECT sum(n_obs) AS big_n FROM obs)
        |SELECT CAST(obs.digit AS BIGINT) AS digit,
        | CAST(n_obs AS BIGINT) AS n_obs,
        | CAST(n_obs * 10000 // tot.big_n AS BIGINT) AS share_e4,
        | CAST(benford_e4 AS BIGINT) AS benford_e4,
        | CAST(abs(n_obs * 10000 // tot.big_n - benford_e4) AS BIGINT)
        |   AS abs_dev_e4
        |FROM obs JOIN bd ON bd.digit = obs.digit CROSS JOIN tot
        |ORDER BY digit""".stripMargin,
    "q_dq_ks_test" ->
      """WITH sup AS (SELECT
        |   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |   sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS c0,
        |   sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1,
        |   count(*) AS n_support FROM sup),
        |cum AS (SELECT v,
        |   sum(c0) OVER (ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
        |   sum(c1) OVER (ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
        |  FROM sup),
        |d AS (SELECT v, abs(cum0 * tot.n1 - cum1 * tot.n0) AS d_num
        |  FROM cum CROSS JOIN tot),
        |dm AS (SELECT max(d_num) AS d_max FROM d)
        |SELECT CAST(tot.n0 AS BIGINT) AS n_even,
        | CAST(tot.n1 AS BIGINT) AS n_odd,
        | CAST(tot.n_support AS BIGINT) AS n_support,
        | CAST(dm.d_max * 10000 // (tot.n0 * tot.n1) AS BIGINT) AS d_e4,
        | CAST(min(d.v) AS BIGINT) AS d_at_cents
        |FROM d CROSS JOIN dm CROSS JOIN tot
        |WHERE d.d_num = dm.d_max
        |GROUP BY tot.n0, tot.n1, tot.n_support, dm.d_max""".stripMargin,
    "q_dq_reconcile" ->
      """WITH ls AS (SELECT l_orderkey,
        |   CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |     AS BIGINT) AS line_cents
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT o.o_orderkey,
        |   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |     AS total_cents,
        |   coalesce(ls.line_cents, 0) AS line_cents
        |  FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey),
        |b AS (SELECT total_cents, line_cents,
        |   abs(total_cents - line_cents) AS abs_diff,
        |   abs(total_cents - line_cents) * 10000
        |     // greatest(total_cents, 1) AS rel_e4
        |  FROM j)
        |SELECT least(10, rel_e4 // 1000) AS band,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN total_cents > line_cents THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_over,
        | CAST(sum(CASE WHEN total_cents < line_cents THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_under,
        | CAST(sum(CASE WHEN abs_diff = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_exact,
        | CAST(min(rel_e4) AS BIGINT) AS rel_min_e4,
        | CAST(max(rel_e4) AS BIGINT) AS rel_max_e4
        |FROM b GROUP BY band ORDER BY band""".stripMargin,
    "q_priv_dp_count" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_true,
        | CAST(CAST('0x' || substr(md5(event_type), 1, 15) AS BIGINT)
        |   % 21 - 10 AS BIGINT) AS noise,
        | CAST(count(*) + CAST('0x' || substr(md5(event_type), 1, 15)
        |   AS BIGINT) % 21 - 10 AS BIGINT) AS n_noisy,
        | count(*) + CAST('0x' || substr(md5(event_type), 1, 15)
        |   AS BIGINT) % 21 - 10 < 20 AS suppressed
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dq_drift" ->
      """WITH ev AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS day,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mx AS (SELECT max(cents) AS maxc FROM ev),
        |bands AS (SELECT event_type, cents * 10 // (mx.maxc + 1) AS band,
        |   sum(CASE WHEN day % 2 = 0 THEN 1 ELSE 0 END) AS a,
        |   sum(CASE WHEN day % 2 = 1 THEN 1 ELSE 0 END) AS b
        |  FROM ev CROSS JOIN mx GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(a) AS BIGINT) AS n_even,
        | CAST(sum(b) AS BIGINT) AS n_odd,
        | CAST(count(*) AS BIGINT) AS n_bands,
        | CAST(sum((a - b) * (a - b) * 10000 // (a + b)) AS BIGINT)
        |   AS chi2_e4
        |FROM bands GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_priv_k_anon" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |   (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000000)
        |     // 100000 AS band,
        |   count(*) AS sz
        |  FROM customer GROUP BY 1, 2, 3),
        |ks AS (SELECT unnest([2, 5, 10]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        | CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_small,
        | CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |   AS n_suppressed,
        | CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 10000
        |   // sum(sz) AS BIGINT) AS supp_rate_e4,
        | CAST(min(sz) AS BIGINT) AS min_class,
        | CAST(max(sz) AS BIGINT) AS max_class
        |FROM cls CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin,
    "q_priv_l_diversity" ->
      """WITH cells AS (SELECT event_type,
        |   epoch_us(ts) // 86400000000 AS day, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        | CAST(sum(c) AS BIGINT) AS sz,
        | CAST(count(*) AS BIGINT) AS l_distinct,
        | count(*) >= 3 AS l_ok,
        | CAST(max(c) * 10000 // sum(c) AS BIGINT) AS top_share_e4
        |FROM cells GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
    "q_dq_constraints" ->
      """WITH li AS (SELECT l.*,
        |   o.o_orderkey AS ok_dim, p.p_partkey AS pk_dim
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |    ON l.l_partkey = p.p_partkey),
        |la AS (SELECT count(*) AS n,
        |   sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_comp,
        |   sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |     THEN 1 ELSE 0 END) AS v_flag,
        |   sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |     THEN 1 ELSE 0 END) AS v_disc,
        |   sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
        |   sum(CASE WHEN ok_dim IS NULL THEN 1 ELSE 0 END) AS v_ref_o,
        |   sum(CASE WHEN pk_dim IS NULL THEN 1 ELSE 0 END) AS v_ref_p,
        |   count(*) - count(DISTINCT l_orderkey * 10 + l_linenumber)
        |     AS v_uniq
        |  FROM li),
        |oa AS (SELECT count(*) AS n,
        |   sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |rows0 AS (
        | SELECT 'li_completeness_shipdate' AS check_name,
        |   n AS n_checked, v_comp AS n_violations FROM la
        | UNION ALL SELECT 'li_domain_returnflag', n, v_flag FROM la
        | UNION ALL SELECT 'li_range_discount', n, v_disc FROM la
        | UNION ALL SELECT 'li_range_quantity', n, v_qty FROM la
        | UNION ALL SELECT 'li_ref_orderkey', n, v_ref_o FROM la
        | UNION ALL SELECT 'li_ref_partkey', n, v_ref_p FROM la
        | UNION ALL SELECT 'li_unique_order_line', n, v_uniq FROM la
        | UNION ALL SELECT 'ord_ref_custkey', n, v FROM oa)
        |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
        | CAST(n_violations AS BIGINT) AS n_violations,
        | n_violations = 0 AS pass
        |FROM rows0 ORDER BY check_name""".stripMargin,
    "q_dq_profile" ->
      """WITH a AS (SELECT
        | sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_ok,
        | count(DISTINCT o_orderkey) AS nd_ok,
        | min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
        | sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_ck,
        | count(DISTINCT o_custkey) AS nd_ck,
        | min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
        | sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn_st,
        | count(DISTINCT o_orderstatus) AS nd_st,
        | min(length(o_orderstatus)) AS mn_st,
        | max(length(o_orderstatus)) AS mx_st,
        | sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn_tp,
        | count(DISTINCT o_totalprice) AS nd_tp,
        | min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mn_tp,
        | max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mx_tp,
        | sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn_od,
        | count(DISTINCT o_orderdate) AS nd_od,
        | min(epoch_us(o_orderdate)) AS mn_od,
        | max(epoch_us(o_orderdate)) AS mx_od,
        | sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn_op,
        | count(DISTINCT o_orderpriority) AS nd_op,
        | min(length(o_orderpriority)) AS mn_op,
        | max(length(o_orderpriority)) AS mx_op
        |FROM orders),
        |rows0 AS (
        | SELECT 'o_orderkey' AS col_name, nn_ok AS n_null, nd_ok
        |   AS n_distinct, mn_ok AS min_v, mx_ok AS max_v FROM a
        | UNION ALL SELECT 'o_custkey', nn_ck, nd_ck, mn_ck, mx_ck FROM a
        | UNION ALL SELECT 'o_orderstatus', nn_st, nd_st, mn_st, mx_st
        |   FROM a
        | UNION ALL SELECT 'o_totalprice', nn_tp, nd_tp, mn_tp, mx_tp
        |   FROM a
        | UNION ALL SELECT 'o_orderdate', nn_od, nd_od, mn_od, mx_od FROM a
        | UNION ALL SELECT 'o_orderpriority', nn_op, nd_op, mn_op, mx_op
        |   FROM a)
        |SELECT col_name, CAST(n_null AS BIGINT) AS n_null,
        | CAST(n_distinct AS BIGINT) AS n_distinct,
        | CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v
        |FROM rows0 ORDER BY col_name""".stripMargin,
  )
}
