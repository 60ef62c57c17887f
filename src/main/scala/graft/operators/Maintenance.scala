package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-J4 — incremental view maintenance: merge a new batch's
  * partial aggregate into a materialized base aggregate WITHOUT
  * rescanning the base data — the identity every 100 TB rollup pipeline
  * lives on (count and sum are commutative monoids; merging partials
  * equals recomputing, so a day's delta updates a year's rollup in one
  * tiny join).
  *
  * The enrolled row proves the identity end-to-end: it computes the
  * base aggregate (event_id%10 < 8 — the "materialized" 80%), the delta
  * aggregate (the new 20%), full-outer-merges them, AND recomputes the
  * aggregate from scratch, emitting an `agrees` verdict per group. Sums
  * run over integer-quantized values (floor(value·10⁴) as BIGINT), so
  * merge-vs-recompute equality is exact — never a float-summation-order
  * artifact.
  *
  * Scale shape: base and delta aggregates are partial-aggregable
  * single-shuffle groupBys; the merge is a full-outer join on the
  * (low-cardinality) group key; in production the base side is the
  * stored rollup table and only the delta side is computed per batch.
  */
object Maintenance {

  def incrAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(floor(value * 10000.0) AS BIGINT)").as("vq"))
    def agg(df: DataFrame, nc: String, sc: String) =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as(nc), sum(col("vq")).as(sc))
    val base = agg(ev.filter(pmod(col("event_id"), lit(10)) < 8), "n0", "s0")
    val delta = agg(ev.filter(pmod(col("event_id"), lit(10)) >= 8), "n1", "s1")
    val full = agg(ev, "n_full", "s_full")
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
          .as("n_merged"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("s1"), lit(0L)))
          .as("s_merged"))
      .join(full, Seq("event_type"))
      .select(col("event_type"), col("n_merged"), col("s_merged"),
        (col("n_merged") === col("n_full") &&
          col("s_merged") === col("s_full")).as("agrees"))
      .orderBy(col("event_type"))
  }

  /** Incremental JOIN maintenance — the delta-join algebra
    * that lets a materialized join view absorb a batch without
    * rescanning either base table:
    * J(O∪ΔO, L∪ΔL) = J(O,L) ∪ (ΔO⋈L) ∪ (O⋈ΔL) ∪ (ΔO⋈ΔL).
    * The enrolled row proves the identity end-to-end on orders⋈lineitem
    * with deterministic deltas (ΔO: o_orderkey ≡ 0 mod 13, ΔL:
    * l_orderkey ≡ 0 mod 17): each of the four terms is computed by its
    * OWN pruned join — the delta filters reach the parquet scans, so
    * the three delta terms join 1/13- and 1/17-sized inputs, which is
    * the whole IVM point — then the term totals are compared against an
    * independent full recompute; the final `7_identity_diff` row must
    * be (0, 0). Revenue rides as per-row cents (floor(x·100+0.5),
    * the q14 idiom), so merge-vs-recompute equality is exact BIGINT,
    * never a float-summation-order artifact.
    *
    * Scale shape: in production the `1_base` term is the STORED view
    * (zero cost) and only the delta terms run per batch — each is one
    * equi-join whose small side a broadcast or bloom gate would prune
    * further; here all five joins run to make the audit self-contained,
    * every one a single natural-key shuffle. */
  def ivmJoinDelta(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"))
    val l = lineitem(spark, dir).select(col("l_orderkey"),
      cents("l_extendedprice")
        .as("cents"))
    val ob = o.filter(col("o_orderkey") % 13 =!= 0)
    val od = o.filter(col("o_orderkey") % 13 === 0)
    val lb = l.filter(col("l_orderkey") % 17 =!= 0)
    val ld = l.filter(col("l_orderkey") % 17 === 0)
    def term(name: String, os: DataFrame, ls: DataFrame): DataFrame =
      ls.join(os, ls("l_orderkey") === os("o_orderkey"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("cents"))
        .select(lit(name).as("term"), col("n_rows"), col("cents"))
    val t1 = term("1_base", ob, lb)
    val t2 = term("2_delta_orders", od, lb)
    val t3 = term("3_delta_lines", ob, ld)
    val t4 = term("4_delta_both", od, ld)
    val inc = t1.unionAll(t2).unionAll(t3).unionAll(t4)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("cents")).as("cents"))
      .select(lit("5_incremental_total").as("term"),
        col("n_rows"), col("cents"))
    val full = term("6_full_recompute", o, l)
    val diff = full.select(col("n_rows").as("nf"), col("cents").as("cf"))
      .crossJoin(inc.select(col("n_rows").as("ni"), col("cents").as("ci")))
      .select(lit("7_identity_diff").as("term"),
        (col("nf") - col("ni")).as("n_rows"),
        (col("cf") - col("ci")).as("cents"))
    t1.unionAll(t2).unionAll(t3).unionAll(t4)
      .unionAll(inc).unionAll(full).unionAll(diff)
      .orderBy(col("term"))
  }

  /** Pipeline observability: piggyback data-quality counters
    * onto the SAME job via `Dataset.observe` — row counts, null rates,
    * value bounds ride the pipeline's one pass as accumulator-backed
    * aggregates, so a 100 TB job self-audits without a second scan (a
    * separate audit query would re-read the input). The returned
    * [[org.apache.spark.sql.Observation]] yields the metric row after
    * the first action on the returned frame; works identically under
    * streaming via `StreamingQueryListener` observed metrics. */
  def withAudit(df: DataFrame, name: String,
      metrics: org.apache.spark.sql.Column*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "at least one audit metric")
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ivm_agg_merge" -> incrAggMerge,
    "q_ivm_join_delta" -> ivmJoinDelta,
  )

  val oracle: Map[String, String] = Map(
    "q_ivm_join_delta" ->
      """WITH l AS (SELECT l_orderkey,
        |   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |t1 AS (SELECT '1_base' AS term, count(*) AS n_rows,
        |   CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents
        |  FROM l JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey % 13 <> 0 AND l_orderkey % 17 <> 0),
        |t2 AS (SELECT '2_delta_orders', count(*),
        |   CAST(coalesce(sum(cents), 0) AS BIGINT)
        |  FROM l JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey % 13 = 0 AND l_orderkey % 17 <> 0),
        |t3 AS (SELECT '3_delta_lines', count(*),
        |   CAST(coalesce(sum(cents), 0) AS BIGINT)
        |  FROM l JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey % 13 <> 0 AND l_orderkey % 17 = 0),
        |t4 AS (SELECT '4_delta_both', count(*),
        |   CAST(coalesce(sum(cents), 0) AS BIGINT)
        |  FROM l JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey % 13 = 0 AND l_orderkey % 17 = 0),
        |terms AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2
        |  UNION ALL SELECT * FROM t3 UNION ALL SELECT * FROM t4),
        |inc AS (SELECT '5_incremental_total' AS term,
        |   CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |   CAST(sum(cents) AS BIGINT) AS cents FROM terms),
        |f AS (SELECT '6_full_recompute' AS term, count(*) AS n_rows,
        |   CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents
        |  FROM l JOIN orders ON l_orderkey = o_orderkey),
        |d AS (SELECT '7_identity_diff' AS term,
        |   f.n_rows - inc.n_rows AS n_rows,
        |   f.cents - inc.cents AS cents FROM f, inc)
        |SELECT term, n_rows, cents FROM (
        |  SELECT * FROM terms UNION ALL SELECT * FROM inc
        |  UNION ALL SELECT * FROM f UNION ALL SELECT * FROM d)
        |ORDER BY term""".stripMargin,
    "q_ivm_agg_merge" ->
      """WITH ev AS (SELECT event_id, event_type,
        |   CAST(floor(value * 10000.0) AS BIGINT) AS vq FROM events),
        |base AS (SELECT event_type, count(*) AS n0,
        |   CAST(sum(vq) AS BIGINT) AS s0
        |  FROM ev WHERE event_id % 10 < 8 GROUP BY 1),
        |delta AS (SELECT event_type, count(*) AS n1,
        |   CAST(sum(vq) AS BIGINT) AS s1
        |  FROM ev WHERE event_id % 10 >= 8 GROUP BY 1),
        |fullagg AS (SELECT event_type, count(*) AS n_full,
        |   CAST(sum(vq) AS BIGINT) AS s_full FROM ev GROUP BY 1),
        |merged AS (SELECT coalesce(b.event_type, d.event_type) AS event_type,
        |   coalesce(b.n0, 0) + coalesce(d.n1, 0) AS n_merged,
        |   coalesce(b.s0, 0) + coalesce(d.s1, 0) AS s_merged
        |  FROM base b FULL OUTER JOIN delta d ON b.event_type = d.event_type)
        |SELECT m.event_type, m.n_merged, m.s_merged,
        | m.n_merged = f.n_full AND m.s_merged = f.s_full AS agrees
        |FROM merged m JOIN fullagg f ON m.event_type = f.event_type
        |ORDER BY m.event_type""".stripMargin,
  )
}
