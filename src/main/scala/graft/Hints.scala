package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one owner of the broadcast size gate. The size-gated form of a
  * global sort, and of a one-split file scan, is a planner strategy,
  * [[graft.plans.OnePartition]], because it reads the sizes AQE measures
  * at runtime and the files a scan lists.
  *
  * A forced `broadcast()` never falls back: past the broadcast cap or
  * executor memory it kills the job, so hinting a frame whose row count
  * GROWS with the data (per-node degree/rank/marginal tables, dimension
  * tables in TPC-H-style scaling) is a 100×-scale hazard even when the
  * frame is tiny on the fixture. House rule:
  *
  *   - frames bounded by a CONSTANT (top-k rows, quantile thresholds,
  *     1-row scalar totals, fixed walker frontiers) keep an
  *     unconditional hint — their size is a property of the query, not
  *     of the data;
  *   - data-sized frames joined ONCE get NO hint at all: AQE picks
  *     broadcast-hash at runtime while the frame is actually under the
  *     threshold (plan-pinned in BatchSpec) and falls back to a keyed
  *     co-partitioned join when it is not;
  *   - data-sized frames inside ITERATED/unrolled loops, where the
  *     hint has a measured win (pagerank/hits/textrank: without the
  *     hint AQE left SortMergeJoins in later unrolled iterations —
  *     57→8 exchanges measured on pagerank), and data-sized dimension
  *     tables, are size-gated through [[gate]]: the gate count runs once
  *     per session against a memoized substrate
  *     ([[FrameMemo.cachedCount]]), the hint applies only below the row
  *     cap, and above the cap the SAME plan runs hint-free with keyed
  *     co-partitioned joins — the scale plan is code the engine
  *     executes, not a scaladoc promise.
  */
object Hints {

  /** Broadcast byte budget per executor copy: ~100 MB — comfortably
    * inside a 4–8 GiB executor and far under the 8 GB broadcast-table
    * hard cap. The row gate derives from this budget and a
    * caller-supplied average row width, so wide rows tighten the row
    * cap instead of sailing past a rows-only gate: the 4 M-row ≈ 100 MB
    * arithmetic assumes ~24 B/row, which holds for narrow integer-keyed
    * projections but not for string-keyed vocab tokens or full
    * dimension rows. */
  val BcastByteBudget: Long = 100L * 1024 * 1024

  /** Row cap below which a NARROW (≈24 B/row, integer-keyed projection)
    * node/dimension-sized frame is safely force-broadcast:
    * 4 M rows × ~24 B/row ≈ 100 MB per executor copy. Callers whose
    * gated frame carries strings or full rows must pass a realistic
    * `avgRowBytes` instead of relying on this default. */
  val NodeRowCap: Long = 4000000L

  /** The broadcast gate keyed on a session-memoized row count: reads the
    * row count of `counted` once per (session, `dir`, `key`) through
    * [[FrameMemo.cachedCount]] and returns the function that hints a
    * frame by [[bcastIfAtMost]] on that count. `counted` is typically a
    * memoized substrate whose size bounds every gated frame (edges bound
    * nodes, so an edge count is a conservative gate for any node-sized
    * derivative) or the gated table itself. */
  def gate(spark: SparkSession, dir: String, key: String,
      counted: => DataFrame, cap: Long = NodeRowCap,
      avgRowBytes: Long = 24L): DataFrame => DataFrame = {
    val rows = FrameMemo.cachedCount(spark, dir, key)(counted)
    df => bcastIfAtMost(df, rows, cap, avgRowBytes)
  }

  /** Apply the broadcast hint only when `rows` is at most `cap` AND the
    * estimated broadcast footprint `rows × avgRowBytes` fits
    * [[BcastByteBudget]]; otherwise return the frame unhinted so the
    * join plans as a keyed shuffle join that co-partitions.
    * `avgRowBytes` defaults to the narrow-projection width the row cap
    * was calibrated for; string-keyed or full-row frames pass their
    * observed width (fixture-measured, conservative). */
  def bcastIfAtMost(df: DataFrame, rows: Long,
      cap: Long = NodeRowCap, avgRowBytes: Long = 24L): DataFrame =
    if (rows <= cap && rows <= BcastByteBudget / math.max(avgRowBytes, 1L))
      broadcast(df)
    else df
}
