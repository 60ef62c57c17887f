package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-J4 — graph analytics over relational data: PageRank on
  * the part↔supplier bipartite graph derived from lineitem.
  *
  * Exactness strategy: ranks live in integer MICRO-UNITS (initial rank
  * = 10⁶), per-edge contributions are integer divisions
  * (rank div out_degree) and the damping update is
  * 150000 + (85 · Σcontrib) div 100 — every operation is exact BIGINT
  * arithmetic, so the result is independent of Spark's aggregation
  * order and the DuckDB oracle replicates it bit-for-bit. Float
  * PageRank would hash-mismatch: Σ of doubles depends on partitioning.
  *
  * Scale shape: each iteration is one equi-join (edges ⋈ ranks on src)
  * + one partial-aggregable groupBy(dst) — the Pregel message-passing
  * shape. Three iterations UNROLLED into one declarative plan (no
  * driver loop, no checkpoint needed at depth 3); an open-ended variant
  * would loop with lineage truncation exactly like
  * LlmOps.connectedComponents. Degrees are computed once and re-joined
  * per iteration (tiny vs the edge table; broadcastable at any scale).
  */
object Graph {

  /** 3 exact-integer PageRank iterations over the undirected (both
    * directions materialized) part↔supplier graph.
    *
    * Node ids are BIGINT (part → 2k, supplier → 2k+1, [[psArcs]]) through
    * the whole loop — every shuffle and join keys on an 8-byte integer,
    * never the "p:123" label string (string-keyed graph loops were
    * measured ~2× slower; labels are minted once in the final
    * projection).
    *
    * No `.cache()`: the whole 3-iteration loop is ONE declarative plan,
    * so Catalyst's ReuseExchange dedupes the edge-distinct shuffle and
    * the degree aggregation across iterations for free, while an
    * explicit cache forced a blocking InMemoryRelation materialization
    * job plus a columnar round-trip on every read (measured: cache 4.9 s
    * vs reuse 2.0 s, identical results). An open-ended (driver-loop)
    * variant loses cross-iteration exchange reuse, and then
    * checkpointing the graph IS the right call — that shape is
    * [[pagerankConverged]].
    *
    * The node-sized rank and degree frames are broadcast through the
    * size gate on the memoized edge count (edges bound nodes, so it is a
    * conservative bound for every node-sized frame here): without the
    * hint AQE left SortMergeJoins in later iterations (measured: 57
    * exchanges → 8); past the cap the SAME loop runs hint-free and the
    * keyed equi-joins co-partition edges and ranks on the node key. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = psArcs(spark, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val r0 = deg.select(col("src").as("nid"), lit(1000000L).as("rank"),
      col("outd"))
    val gate = graft.Hints.gate(spark, dir, "ps-edges", psEdges(spark, dir))
    // the final step skips the degree re-attach (the inner deg-join is
    // semantically a no-op — every dst is also a src in the undirected
    // graph — but Catalyst cannot prove that, so it is elided by
    // construction)
    def step(ranks: DataFrame, last: Boolean): DataFrame =
      pagerankStep(edges, ranks, if (last) None else Some(deg), gate)
    step(step(step(r0, last = false), last = false), last = true)
      .select(psLabel.as("node"), col("rank"))
      .orderBy(col("node"))
  }

  /** One exact-integer PageRank update over the arc list `arcs`
    * (src, dst) — shared by [[pagerank]], [[pagerankConverged]] and
    * `Analytics.textrank`. Each node's contribution `rank div outd` is
    * folded into the node-sized `ranks` (nid, rank, outd) BEFORE the
    * join, so each step hash-joins the arc stream against ONE small
    * table; each dst sums its contributions and blends to
    * `150000 + (85 · Σ) div 100` (exact BIGINT, so the result is
    * independent of aggregation order). With `deg` (src, outd) the
    * out-degree is re-attached for the next step, giving
    * (nid, rank, outd); without it the result is (nid, rank). `gate`
    * hints the node-sized frames. */
  private[operators] def pagerankStep(arcs: DataFrame, ranks: DataFrame,
      deg: Option[DataFrame], gate: DataFrame => DataFrame): DataFrame = {
    val msgs = arcs
      .join(gate(ranks.withColumn("contrib", expr("rank div outd"))
        .select(col("nid"), col("contrib"))),
        arcs("src") === col("nid"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("msum"))
      .select(col("dst").as("nid"),
        (lit(150000L) + expr("(85 * msum) div 100")).as("rank"))
    deg.fold(msgs)(d => msgs.join(gate(d), col("nid") === d("src"))
      .select(col("nid"), col("rank"), col("outd")))
  }

  /** Both directions of the memoized part↔supplier edges as scaled-id
    * arcs (src, dst): part p → 2p, supplier s → 2s + 1, so one BIGINT
    * key space holds both sides ([[psLabel]] maps back). */
  private def psArcs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = psEdges(spark, dir)
      .select(expr("p * 2L").as("p"), expr("s * 2L + 1L").as("s"))
    pairs.select(col("p").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("p").as("dst")))
  }

  /** The "p:k" / "s:k" label of a [[psArcs]] node id `nid`. */
  private def psLabel: Column = expr(
    "CASE WHEN nid % 2 = 0 THEN 'p:' || (nid div 2)" +
      " ELSE 's:' || (nid div 2) END")

  /** Open-ended PageRank: iterate the SAME exact-integer update as
    * [[pagerank]] until the largest per-node rank change is ≤ `epsMicro`
    * micro-units (or `maxIter`, whichever first) — the form a real
    * deployment runs, where the needed depth is a property of the graph,
    * not a constant in the query text. Returns (result, iterations run).
    *
    * Shape per iteration: one hash join of the edge stream against the
    * node-sized rank table (size-gated broadcast, as in [[pagerank]]) +
    * one partial-aggregable groupBy(dst) + a scalar max-|Δrank|
    * convergence job. Unlike the unrolled form, the driver loop CUTS
    * cross-iteration exchange reuse, so the loop checkpoints:
    * `localCheckpoint` truncates lineage every round (same load-bearing
    * reason as LlmOps.connectedComponents — the plan would otherwise
    * grow geometrically and optimizer time would dominate), and the
    * eager checkpoint doubles as the materialization the Δ-check reads,
    * so each round computes the new ranks exactly once. A non-converged
    * exit at `maxIter` with `failOnMaxIter` THROWS rather than returning
    * a silently-unconverged ranking. `bcastCap` is the gate's row cap:
    * BatchSpec forces the over-cap, hint-free path (cap = 0) and proves
    * both forms hash-identical on the fixture.
    *
    * Convergence-rate reality check: this graph is BIPARTITE
    * (part↔supplier), so the power iteration carries a period-2
    * oscillation whose amplitude decays exactly ×0.85 (the damping) per
    * step — measured at sf0.001 the max-|Δ| sequence is 1.66e7, 1.41e7,
    * … ×0.85 each iteration, so reaching eps needs
    * ≈ log(Δ₁/eps)/log(1/0.85) iterations where Δ₁ is the FIRST delta
    * (set by the hottest node's in-degree mass, ~17× the initial rank
    * here — not by the 10⁶ initial rank). eps=10⁴ → ~47 iterations,
    * eps=100 → ~75. The default maxIter covers eps=100 at this shape;
    * pick eps from the ranking stability you need, not smaller.
    *
    * ScalaTest (BatchSpec): eps=0, maxIter=3 reproduces the unrolled
    * depth-3 query bit-for-bit; free-running converges on sf0.001 and
    * one extra step moves no rank by more than eps. */
  def pagerankConverged(
      spark: SparkSession, dir: String,
      epsMicro: Long = 100L, maxIter: Int = 80,
      failOnMaxIter: Boolean = false,
      bcastCap: Long = graft.Hints.NodeRowCap): (DataFrame, Int) = {
    val edges = psArcs(spark, dir).localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      .localCheckpoint()
    var ranks = deg
      .select(col("src").as("nid"), lit(1000000L).as("rank"), col("outd"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    val gate = graft.Hints.gate(spark, dir, "ps-edges", psEdges(spark, dir),
      bcastCap)
    while (!converged && iter < maxIter) {
      val next = pagerankStep(edges, ranks, Some(deg), gate)
        .localCheckpoint() // eager: materializes once, Δ-check reuses it
      val deltaRow = next.as("n")
        .join(ranks.as("p"), col("n.nid") === col("p.nid"))
        .agg(max(abs(col("n.rank") - col("p.rank"))).as("d"))
        .first()
      // empty graph → max() is NULL: treat as converged, don't NPE
      val delta = if (deltaRow.isNullAt(0)) 0L else deltaRow.getLong(0)
      converged = delta <= epsMicro
      ranks = next
      iter += 1
    }
    if (!converged && failOnMaxIter)
      throw new IllegalStateException(
        s"pagerank did not converge to eps=$epsMicro in $maxIter iterations")
    val out = ranks.select(psLabel.as("node"), col("rank"))
      .orderBy(col("node"))
    (out, iter)
  }

  /** Degree-distribution diagnostic: log2-bucketed
    * degree histogram per bipartite side — the first measurement before
    * ANY graph job at scale (it decides broadcast vs co-partition, skew
    * salting, and whether a super-node needs splitting). The bucket is
    * bit-length arithmetic (`length(bin(deg)) - 1`), never float log2 —
    * exact at every power-of-two boundary in both engines.
    *
    * Scale shape: one distinct-edge shuffle (shared with any downstream
    * graph job), two partial-aggregable degree groupBys, and a ~64-key
    * final rollup. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val edges = psEdges(spark, dir)
    val d = edges.groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .select(lit("part").as("side"), col("deg"))
      .union(edges.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .select(lit("supplier").as("side"), col("deg")))
    d.withColumn("log2_bucket",
        expr("CAST(length(bin(deg)) - 1 AS BIGINT)"))
      .groupBy(col("side"), col("log2_bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("side"), col("log2_bucket"))
  }

  /** Bipartite projection / co-occurrence: supplier pairs
    * weighted by shared parts — the item-item co-occurrence matrix of
    * every recommender ("suppliers that stock the same parts"), plus an
    * integer Jaccard affinity (shared·10⁴ div (d₁+d₂−shared)). Top-50
    * by (shared desc, s1, s2) — deterministic total order.
    *
    * Scale shape: the pair fan-out is Σ_p d_p(d_p−1)/2 over per-part
    * degrees — bounded when per-part degree is (as here, ≤41); a
    * super-node part at 100 TB gets capped or salted FIRST (measure
    * with q_graph_degree_dist — that row exists precisely to make this
    * call). The self-join is an equi-join on part (no cartesian); the
    * pair groupBy key space is ≤ |suppliers|²/2 but the aggregation is
    * partial-aggregable so map-side combine collapses it early; the
    * degree lookups carry NO broadcast() hint: the frame is
    * node-sized — data-sized, not constant — so AQE picks
    * broadcast-hash at runtime while it is small and a keyed
    * co-partitioned join past that (plan-pinned in BatchSpec). */
  def coProjection(spark: SparkSession, dir: String): DataFrame = {
    val e = psEdges(spark, dir)
    val deg = e.groupBy(col("s")).agg(count(lit(1)).as("d"))
    // The pair fan-out is the row's irreducible cost (sf0.1 fixture:
    // 591 k edges, per-part degree ~30 → 8.7 M pair rows into a 500 k-
    // key exact aggregate — EVERY supplier pair co-occurs, the
    // projection graph is complete; measured in PLANS.md).
    // The groupBy key is PACKED into one long (s1·10⁶ + s2 — exact
    // through 10⁶ suppliers ≈ sf100) so the 8.7 M-row exchange carries
    // one 8-byte key instead of two, and partial/final hashing probes
    // a single-column map: measured 1.94 → 1.76 s min-of-3 at sf0.1.
    // The range bound is ENFORCED, not just documented: an id ≥ 10⁶
    // would silently collide keys and
    // aggregate wrong — the guard is a per-row two-compare CASE inside
    // the same codegen'd projection (no extra job), raising loudly on
    // the first out-of-range fixture instead.
    val pairs = e.as("a")
      .join(e.as("b"), col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .select(expr(
        """CASE WHEN a.s >= 1000000L OR b.s >= 1000000L OR a.s < 0
          |  THEN raise_error('coProjection: supplier id outside' ||
          |    ' [0, 1e6) overflows the packed pair key')
          |  ELSE a.s * 1000000L + b.s END""".stripMargin).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("shared"))
      .select(expr("k div 1000000").as("s1"), (col("k") % lit(1000000L)).as("s2"),
        col("shared"))
    pairs
      .join(deg.select(col("s").as("s1"), col("d").as("d1")),
        "s1")
      .join(deg.select(col("s").as("s2"), col("d").as("d2")),
        "s2")
      .select(col("s1"), col("s2"), col("shared"),
        expr("shared * 10000 div (d1 + d2 - shared)").as("affinity_e4"))
      .orderBy(col("shared").desc, col("s1"), col("s2"))
      .limit(50)
  }

  /** Distinct (order, part) pairs — the basket substrate under
    * cooccEdges, basketLift, and assocRules, MEMOIZED per
    * (application, sfDir): each consumer re-ran the same
    * corpus-sized distinct shuffle. At 100 TB this is the deduped
    * order-lines projection every basket pipeline materializes
    * first. */
  private[operators] def opPairs(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "op-pairs") {
      lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
        .distinct()
    }

  /** Distinct (part, supplier) bipartite edges — shared by pagerank
    * (scaled-id view), degreeDist, coProjection, and hits, MEMOIZED
    * for the same reason as [[opPairs]]. */
  private[operators] def psEdges(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "ps-edges") {
      lineitem(spark, dir)
        .select(col("l_partkey").cast("long").as("p"),
          col("l_suppkey").cast("long").as("s"))
        .distinct()
    }

  /** Undirected distinct co-occurrence edges u < v (parts sharing an
    * order) — the common substrate of FOUR enrolled graph rows
    * (triangles, lpa, modularity, kcore), memoized per (application,
    * sfDir) with an eager localCheckpoint. Each row
    * previously re-ran the basket self-join + distinct; at 100 TB this
    * frame is the persisted edge table every graph pipeline keeps
    * anyway (the same argument as the MinHash fingerprint memo). */
  private[operators] def cooccEdges(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "coocc-edges") {
      val li = opPairs(spark, dir)
      li.as("a")
        .join(li.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
    }

  /** Both directions of the memoized [[cooccEdges]] as arcs (u, v) —
    * the symmetric edge list every walk, peel and neighbor join reads.
    * Not memoized: the union is narrow work on top of the checkpointed
    * frame, and a consumer that reads it in several jobs cuts it with
    * its own `localCheckpoint`. */
  private[operators] def cooccArcs(spark: SparkSession,
      dir: String): DataFrame = {
    val und = cooccEdges(spark, dir)
    und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
  }

  /** Per-node degree census of the memoized co-occurrence graph —
    * MEMOIZED: triangles' orientation,
    * local bridges, rich club, transitivity, degree gini, modularity's
    * community degrees, and the bfs2/closeness frontier seeds each
    * re-ran the same union+groupBy degree shuffle over the edge frame.
    * Node-sized — (n, d) — so the checkpoint is small by construction;
    * at 100 TB this is the persisted degree table every graph audit
    * reads (the coocc-edges argument one derivation further down). */
  private[operators] def cooccDegrees(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "coocc-deg") {
      val e0 = cooccEdges(spark, dir)
      e0.select(col("u").as("n"))
        .union(e0.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    }

  /** Per-oriented-edge triangle-closing frame (ta, tb, cs): for each
    * compact-forward-oriented edge a→b, cs = N⁺(a) ∩ N⁺(b) — every
    * triangle appears exactly once at its base edge. MEMOIZED per
    * (application, sfDir): its three consumers
    * (q_graph_triangles, q_graph_transitivity via triangles,
    * q_graph_local_bridges) each re-ran the orientation + adjacency
    * build + intersection — the recompute was the whole cost of the
    * local_bridges row when it ran over the driver bench's budget. At
    * 100 TB this is the persisted triangle-incidence table.
    *
    * EDGE-ITERATOR closing, not wedge materialization. The first cut
    * enumerated the ~20 M oriented wedges and joined them back to the
    * edge list — measured 13.3–26.3 s inside the full bench (the wedge
    * set dominated every data move, whether shuffled or probed against
    * a broadcast). The adjacency-intersection form never materializes
    * a wedge: out-degree is orientation-capped at O(√m), so each
    * sorted neighbor array is small by construction. The only
    * corpus-sized flow is the edge list streaming through two joins
    * against the node-sized adjacency table. NO broadcast() hint on
    * those joins: adjacency is per-node with arrays — a
    * forced broadcast is an executor-memory wall at 100×; the keyed
    * equi-join co-partitions at scale, and AQE still picks
    * broadcast-hash at runtime while the frame is actually small
    * (plan-pinned in BatchSpec). */
  private[operators] def triBase(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "tri-base") {
      val e0 = cooccEdges(spark, dir)
      val deg = cooccDegrees(spark, dir)
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = e0
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"))
      val adj = o.groupBy(col("src")).agg(
        sort_array(collect_list(col("dst"))).as("nbrs"))
      o.join(adj.select(col("src"), col("nbrs").as("na")), "src")
        // a sink node has no adjacency row — left join + empty default
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")),
          Seq("dst"), "left")
        .select(col("src").as("ta"), col("dst").as("tb"),
          expr("array_intersect(na, coalesce(nb, array()))").as("cs"))
    }

  /** Degree-oriented triangle counting on the market-basket
    * graph: parts co-purchased within the same order. All-integer, so
    * exact in both engines. Top-10 parts by triangle participation
    * (ties → part asc), with the global triangle total on every row.
    *
    * The algorithm is degree-oriented EDGE ITERATION: orient each
    * undirected edge from the lower-(degree, id) endpoint to the
    * higher — orientation caps out-degree at O(√m), so total
    * intersection work is O(m^1.5) instead of Σd² (quadratic in the
    * hub degree), THE difference between feasible and not at 100 TB —
    * then close each oriented edge (a→b) by intersecting the two
    * oriented out-neighborhoods: the closing nodes are N⁺(a) ∩ N⁺(b),
    * and every triangle is discovered exactly once at its base edge.
    * Here: 116 k edges, max oriented out-degree ≈ O(√m) → small
    * per-node arrays; the ~3.9 M (sf0.01) / ~20 M (sf0.1) wedge set
    * that a wedge-join formulation materializes NEVER exists (measured
    * A/B in DESIGN.md — the wedge set dominated every data move).
    *
    * Scale shape: basket pair fan-out is Σ_o |o|(|o|−1)/2 — bounded by
    * order size (≤7 lineitems in TPC-H shapes), NOT by part popularity,
    * so no super-node salting is needed on the build side; one distinct
    * shuffle for e0; the degree and adjacency tables are NODE-sized
    * (broadcast here, co-partition on the join key past broadcast
    * scale); the per-edge intersection runs inside one map stage; the
    * only explode is |triangles| rows for the c-role count. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val base = triBase(spark, dir)
    // SINGLE-PASS role counting: a form that consumed `base` FOUR
    // times (ta-role agg + tb-role agg + c-role explode + total) re-ran
    // the edge self-join + distinct + adjacency build per consumer, as
    // ReuseExchange does not dedupe across separate union branches
    // (measured 12.4 s in the driver bench, the most expensive row in
    // the suite). Each discovered triangle (ta,tb,c) emits its three
    // corners in ONE explode — 3·|triangles| rows, one groupBy — so
    // `base` is evaluated exactly once. The node-sized
    // count table is localCheckpoint'd (~2 k rows) so the total-count
    // branch reuses it instead of re-deriving the whole edge pipeline.
    val roles = base
      .select(explode(
        expr("flatten(transform(cs, c -> array(ta, tb, c)))"))
        .as("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n_tri"))
      .localCheckpoint()
    val tot = roles.agg(
      expr("coalesce(sum(n_tri), 0L) div 3").as("total_tri"))
    roles.crossJoin(broadcast(tot))
      .orderBy(col("n_tri").desc, col("p_partkey"))
      .limit(10)
      .select(col("p_partkey"), col("n_tri"), col("total_tri"))
  }

  /** Neighbor-set Jaccard similarity: top part pairs by
    * |orders(p1) ∩ orders(p2)| / |orders(p1) ∪ orders(p2)| — the
    * co-occurrence similarity behind "bought together" and graph-based
    * near-dup scoring. Candidates come from the basket equi-join on
    * l_orderkey (only pairs sharing ≥1 order — zero-overlap pairs
    * never materialize), intersections are a count per pair, and the
    * union is inclusion–exclusion from per-part degrees, so nothing
    * all-pairs ever exists. j_e4 is integer (10⁴·∩) div ∪ —
    * nonnegative, so Spark `div` ≡ DuckDB `//`.
    *
    * Scale shape: NO edge self-join — the triangle row's lesson
    * (broadcasting a corpus-sized edge list measured 4× slower
    * in-suite and OOMs at 100 TB) applied from the start: ONE shuffle
    * groups each order's distinct parts into a sorted basket array,
    * pairs fan out map-side bounded by basket size² (~7² here; a
    * hot-key order would cap, pre-measured by q_graph_degree_dist),
    * and the degree frame explodes from the SAME collected baskets
    * (ReuseExchange dedupes the build). The degree joins carry NO
    * broadcast() hint: node-sized is data-sized — AQE
    * runtime-broadcasts while small, co-partitions past that. */
  def jaccardNeighbors(spark: SparkSession, dir: String): DataFrame = {
    // baskets off the memoized distinct (order, part) frame
    val baskets = opPairs(spark, dir)
      .groupBy(col("o"))
      .agg(expr("sort_array(collect_set(pk))").as("ps"))
    val deg = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            b -> struct(a AS p1, b AS p2))))""".stripMargin))
        .as("s"))
      .groupBy(col("s.p1").as("p1"), col("s.p2").as("p2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(deg.select(col("p").as("p1"), col("d").as("d1")),
        Seq("p1"))
      .join(deg.select(col("p").as("p2"), col("d").as("d2")),
        Seq("p2"))
      .withColumn("uni", col("d1") + col("d2") - col("inter"))
      .withColumn("j_e4", expr("10000 * inter div uni"))
      .select(col("p1"), col("p2"), col("inter"), col("uni"), col("j_e4"))
      .orderBy(col("j_e4").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** Label propagation communities: two unrolled synchronous
    * LPA rounds on the basket graph — every node starts as its own
    * label, then repeatedly adopts its neighbors' MOST FREQUENT label
    * (deterministic tiebreak: min label), a linear-time community
    * detector that needs no modularity optimization. Distinct from
    * q_llm_dup_clusters' min-label CC: LPA's plurality vote finds
    * dense communities inside one connected component. Output is the
    * community size distribution.
    *
    * Scale shape: each round is ONE equi-join of the edge list against
    * the node-sized label frame (co-partitioned on the join key) + one
    * partial-aggregable (node, label) count + one node-partitioned
    * top-1 window — the same per-round cost envelope as pagerank, and
    * the same fixed-unroll discipline (a driver-loop variant would
    * follow pagerankConverged). */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    lpaLabels(spark, dir)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("n")).as("min_node"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(50)

  /** Two-round LPA label frame (n, lab), MEMOIZED per (application,
    * sfDir): its three consumers ([[labelProp]], [[modularity]],
    * [[communityEntropy]]) score the SAME communities, so the three rows
    * can never drift apart, and none re-runs the two join+window
    * rounds. At 100 TB this frame is the persisted community-assignment
    * table every downstream audit reads — the same argument as
    * coocc-edges. Node-sized (one row per node), so the checkpoint is
    * small by construction. */
  private[operators] def lpaLabels(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "lpa-labels") {
      val e0 = cooccArcs(spark, dir)
      val l0 = cooccDegrees(spark, dir).select(col("n"))
        .withColumn("lab", col("n"))
      def round(l: DataFrame): DataFrame = {
        val counts = e0
          .join(l.withColumnRenamed("n", "v"), Seq("v"))
          .groupBy(col("u").as("n"), col("lab"))
          .agg(count(lit(1)).as("c"))
        counts.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("n"))
              .orderBy(col("c").desc, col("lab"))))
          .filter(col("rn") === 1)
          .select(col("n"), col("lab"))
      }
      round(round(l0))
    }

  /** Modularity audit of the LPA communities: Q = Σ_c [e_c/m −
    * (d_c/2m)²] over the SAME two-round labels q_graph_lpa reports —
    * the number that says whether the propagation found real structure
    * (Q≈0: no better than random given the degree sequence). Computed
    * on the directed-both-ways edge list E₂ (|E₂| = 2m), where the
    * formula becomes Σ_c [in_c²ᵈⁱʳ/|E₂| − (d_c/|E₂|)²] with d_c the
    * out-degree sum — no halving anywhere, so everything stays
    * integer: per-community contributions in ×10⁶ with truncating div
    * (identical in DuckDB), then one BIGINT sum. Overflow bound:
    * d_c²·10⁶ ≤ |E₂|²·10⁶ ≈ 3·10¹⁸ at sf0.1 — inside BIGINT; at 100×
    * scale the d_c/|E₂| ratio rounds to e6 BEFORE squaring (documented
    * swap, loses <1e-6 per term).
    *
    * Scale shape: the label frame is node-sized (broadcast here,
    * co-partition at scale); in-community edge counting is ONE
    * edge-stream join against it; everything after is community-sized. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    // labels arrive memoized+checkpointed from lpaLabels; feeds 3
    // branches. NO broadcast() hint on the label joins: the frame is
    // per-NODE, so a forced broadcast is an executor-memory wall at
    // 100× — the keyed equi-join is the scale-safe shape, and AQE still
    // picks broadcast-hash at runtime while the frame is actually small
    // (plan-pinned in BatchSpec). The arc list is cut here: the scoring
    // plan reads it in a SEPARATE job where ReuseExchange cannot help
    // (measured 6.98 → 6.13 s; plain q_graph_lpa is faster without it).
    val e0 = cooccArcs(spark, dir).localCheckpoint()
    val lab = lpaLabels(spark, dir)
    val el = e0
      .join(lab.select(col("n").as("u"), col("lab").as("lu")),
        Seq("u"))
      .join(lab.select(col("n").as("v"), col("lab").as("lv")),
        Seq("v"))
    val m2 = e0.agg(count(lit(1)).as("m2"))
    val inC = el.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("c")).agg(count(lit(1)).as("in2"))
    val degC = cooccDegrees(spark, dir)
      .select(col("n").as("u"), col("d"))
      .join(lab.select(col("n").as("u"), col("lab")), Seq("u"))
      .groupBy(col("lab").as("c")).agg(sum(col("d")).as("dc"))
    degC
      .join(inC, Seq("c"), "left_outer")
      .na.fill(0L, Seq("in2"))
      .crossJoin(broadcast(m2))
      .withColumn("contrib_e6", expr(
        "(in2 * 1000000) div m2 - (dc * dc * 1000000) div (m2 * m2)"))
      .agg(count(lit(1)).as("n_comm"), max(col("m2")).as("m2"),
        sum(col("contrib_e6")).as("q_e6"))
  }

  /** Degree assortativity of the basket graph: Pearson
    * correlation of endpoint degrees over the DIRECTED edge list — do
    * hub parts co-occur with hubs (assortative, r > 0) or with leaves
    * (disassortative, r < 0)? The standard Newman mixing coefficient,
    * computed entirely in BIGINT moments over the memoized
    * [[cooccEdges]] frame. Because the directed list contains both
    * orientations of every edge, the x- and y-marginals are IDENTICAL,
    * so r = num/den with den = n·Σd² − (Σd)² — no square root, no
    * float. The ratio ships SHIFTED (the q_ts_acf idiom):
    * assort_shift_e4 = (num+den)·10⁴ div (2·den) — Cauchy–Schwarz
    * bounds |num| ≤ den, the dividend is non-negative, and Spark's
    * truncating div equals DuckDB's flooring //.
    *
    * Overflow: the sf0.01 fixture fit the raw BIGINT
    * moment products, but sf0.1 did NOT — n·Σ(dx·dy) and (Σd)² crossed
    * 2⁶³ and ANSI mode threw mid-bench. The cross moments therefore
    * accumulate in DECIMAL(38,0) (the engine-portable 128-bit lane —
    * DuckDB's side was already HUGEINT), and the two REPORTING columns
    * ship divided by n_dir_edges so they fit BIGINT at any scale:
    * numpd_div_n = (num+den) div n (nonnegative by Cauchy–Schwarz, so
    * truncate ≡ floor) and den_div_n = den div n. The e4 ratio itself
    * is computed on the full decimal values — unchanged. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val dirEdges = cooccArcs(spark, dir)
    val deg = dirEdges.groupBy(col("u").as("n"))
      .agg(count(lit(1)).as("d"))
    // NO broadcast() hint on the node-sized degree joins:
    // AQE runtime-broadcasts while small, co-partitions past that
    val pairs = dirEdges
      .join(deg.select(col("n").as("u"), col("d").as("dx")),
        Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dy")),
        Seq("v"))
    pairs.agg(count(lit(1)).as("n_dir_edges"),
        sum(col("dx")).as("sx"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"))
      .select(col("n_dir_edges"),
        expr("CAST(n_dir_edges AS DECIMAL(38,0)) * sxy" +
          " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))")
          .as("num"),
        expr("CAST(n_dir_edges AS DECIMAL(38,0)) * sxx" +
          " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))")
          .as("den"))
      .select(col("n_dir_edges"),
        expr("CAST((num + den) div n_dir_edges AS BIGINT)")
          .as("numpd_div_n"),
        expr("CAST(den div n_dir_edges AS BIGINT)").as("den_div_n"),
        expr("CAST((num + den) * 10000" +
          " div greatest(2 * den, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
          .as("assort_shift_e4"))
  }

  /** k-core peeling, two unrolled rounds at k=100: drop
    * nodes with degree < k, recompute degrees on the induced subgraph,
    * drop again — the dense-subgraph extractor (spam rings, co-citation
    * cores) and the standard preprocessing before community detection.
    * k=100 is fixture-calibrated so BOTH rounds bind (sf0.01:
    * 2000 → 1512 → 749 nodes; degree medians are scale-stable, ~119 at
    * sf0.1) — a k below the degree floor would make the row vacuous,
    * the countmin w=16 principle. Output: surviving nodes with their
    * in-core degree.
    *
    * Scale shape: edges build from basket arrays map-side (the
    * jaccard/triangle shape — no edge self-join); each peel is one
    * partial-aggregable degree count + two LeftSemi joins against the
    * node-sized keep frame (broadcast here, co-partition at 100 TB).
    * Full k-core runs peels to fixpoint — each round is this same
    * bounded shape (pagerankConverged's driver-loop pattern). */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    // the symmetric edge list feeds SIX consumers through the two
    // nested peels (each peel: degree aggregate + two semi probes) and
    // the union-of-two-projections shape defeats ReuseExchange — keep
    // the per-row cut (A/B sf0.1 local[4]: 4.77 s plain → 2.72 s cut,
    // outputs identical) on top of the session-memoized arc list.
    val edges = cooccArcs(spark, dir).localCheckpoint()
    def peel(e: DataFrame): DataFrame = {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u"))
      e.join(keep, Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
    peel(peel(edges))
      .groupBy(col("u").as("p_partkey"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy(col("p_partkey"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) on the DIRECTED
    * part→supplier graph: parts are pure hubs (only out-edges), suppliers
    * pure authorities — the bipartite case where HITS and simple degree
    * diverge only after mutual reinforcement kicks in (a hub's weight is
    * the sum of its authorities' weights, not its degree). Two full
    * update rounds (a¹ = Eᵀh⁰, h¹ = Ea¹, a² = Eᵀh¹), each followed by
    * exact-integer L1 normalization: score_e6 = raw·10⁶ div Σraw. The
    * division-by-total is the HITS analog of PageRank's damping blend —
    * without it the powers of EᵀE overflow; with integer div both
    * engines floor identically (all terms non-negative).
    *
    * Scale shape: the [[pagerank]] skeleton — each half-step is the edge
    * stream hash-joined against ONE node-sized score table (broadcast
    * hint SIZE-GATED like pagerank's: below the memoized edge count cap
    * it is a map-side hash join, above it the same plan runs hint-free
    * co-partitioned) + one partial-aggregable groupBy; the
    * normalizing Σ is a 1-row broadcast (constant-sized — unconditional
    * hint is correct there). Output is bounded top-10 per side. Overflow bound:
    * raw ≤ 10⁶·max-degree and Σraw ≤ 10⁶·|E|, so raw·10⁶ ≤ 10¹²·degree
    * — safe until |E| ~ 10⁹ per the documented d·10¹² law (and the
    * normalization resets the magnitude every half-step, unlike
    * unnormalized power iteration). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val e = psEdges(spark, dir)
    val gate = graft.Hints.gate(spark, dir, "ps-edges", e)
    // L1-normalize a raw score frame: ×10⁶ div the 1-row broadcast total
    def norm(raw: DataFrame, key: String): DataFrame =
      raw.crossJoin(broadcast(raw.agg(sum(col("raw")).as("tot"))))
        .select(col(key), expr("raw * 1000000 div tot").as("sc"))
    // h⁰ ≡ 1 ⇒ a¹raw(s) = in-degree(s); the uniform start is folded in
    val a1 = norm(e.groupBy(col("s")).agg(count(lit(1)).as("raw")), "s")
    val h1 = norm(e.join(gate(a1), Seq("s"))
      .groupBy(col("p")).agg(sum(col("sc")).as("raw")), "p")
    val a2 = norm(e.join(gate(h1), Seq("p"))
      .groupBy(col("s")).agg(sum(col("sc")).as("raw")), "s")
    val hubs = h1.orderBy(col("sc").desc, col("p")).limit(10)
      .select(lit("hub").as("kind"), col("p").as("node_key"),
        col("sc").as("score_e6"))
    val auths = a2.orderBy(col("sc").desc, col("s")).limit(10)
      .select(lit("authority").as("kind"), col("s").as("node_key"),
        col("sc").as("score_e6"))
    hubs.unionAll(auths)
      .orderBy(col("kind"), col("score_e6").desc, col("node_key"))
  }

  /** Two-hop BFS from the basket graph's hottest node: level
    * sizes and key checksums of the distance-0/1/2 frontiers from the
    * max-degree part (ties → smallest key) — the reachability /
    * neighborhood-growth profile that sizes any graph-sampling or
    * ego-network extraction step, and the missing "shortest distance"
    * member of the graph family (pagerank/CC/k-core/LPA/triangles are
    * all here; none answers "how far?").
    *
    * Shape per hop: edge stream hash-joined against the node-sized
    * broadcast frontier + distinct + anti-joins against the visited
    * levels — the standard frontier-expansion BFS step; an open-ended
    * variant would driver-loop with localCheckpoint exactly like
    * [[pagerankConverged]]. Consumes the session-memoized
    * [[cooccEdges]] frame; the only corpus-sized work is already paid
    * there. Output is 3 aggregate rows. */
  def bfs2(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val d0 = cooccDegrees(spark, dir)
      .orderBy(col("d").desc, col("n")).limit(1)
      .select(col("n").cast("long").as("n"))
    // d0 is 1 row by construction (limit 1) — its hints stay
    // unconditional. f1 is the hub's 1-hop neighborhood: bounded by the
    // max degree, which on a Zipf graph is DATA-dependent (the hub's
    // neighborhood grows with the corpus), so every hint on f1 is
    // size-gated on the session-memoized edge count like the rest of
    // this family — past the cap the same plan runs as keyed shuffle
    // joins co-partitioned on the node key.
    val gate = graft.Hints.gate(spark, dir, "coocc-edges",
      cooccEdges(spark, dir))
    def expand(frontier: DataFrame, gated: Boolean): DataFrame = {
      val f = frontier.select(col("n").as("fn"))
      edges.join(if (gated) gate(f) else broadcast(f),
          col("u") === col("fn"))
        .select(col("v").cast("long").as("n")).distinct()
    }
    val f1 = expand(d0, gated = false)
      .join(broadcast(d0), Seq("n"), "left_anti")
    val f2 = expand(f1, gated = true)
      .join(broadcast(d0), Seq("n"), "left_anti")
      .join(gate(f1), Seq("n"), "left_anti")
    def lvl(d: Long, f: DataFrame): DataFrame =
      f.agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(col("n")), lit(0L)).as("key_sum"))
        .select(lit(d).as("dist"), col("n_nodes"), col("key_sum"))
    lvl(0L, d0).unionAll(lvl(1L, f1)).unionAll(lvl(2L, f2))
      .orderBy(col("dist"))
  }

  /** Radius-2 truncated HARMONIC closeness of the top-20 basket-graph
    * hubs: score_e6 = n1·10⁶ + n2·(10⁶/2), where n1 = direct neighbors
    * (degree) and n2 = nodes at exactly distance 2 (reciprocal-distance
    * weights 1 and 1/2 — exact in integer µ-units, no division at all).
    * The "how central are the hubs?" audit generalizing [[bfs2]] from
    * one source to a hub set.
    *
    * Scale: all-nodes 2-hop closeness is Σ_m deg(m)² — superlinear and
    * skew-amplified, the textbook scale killer. Restricting sources to
    * a fixed hub set caps the expansion at Σ_{s∈20} Σ_{n∈N(s)} deg(n)
    * (the same volume class as one triangles round), and every step is
    * an equi-join + distinct on the memoized [[cooccEdges]] frame. The
    * hub frame (20 rows) and the hub-neighbor frame (20·deg rows) ride
    * broadcast; only the candidate distinct shuffles corpus-sized. */
  def closeness(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val hubs = cooccDegrees(spark, dir)
      .orderBy(col("d").desc, col("n")).limit(20)
      .select(col("n").as("s"), col("d").as("dg"))
    // d1: (source hub, direct neighbor) — distinct by construction
    // (cooccEdges is a distinct pair set)
    val d1 = edges.join(broadcast(hubs.select(col("s"))),
        col("u") === col("s"))
      .select(col("s"), col("v").as("n"))
    val cand = edges.join(d1.select(col("s"), col("n")),
        col("u") === col("n"))
      .select(col("s"), col("v").as("m")).distinct()
    val d2 = cand.filter(col("m") =!= col("s"))
      .join(d1.select(col("s"), col("n").as("m")), Seq("s", "m"),
        "left_anti")
      .groupBy(col("s")).agg(count(lit(1)).as("n2"))
    hubs.join(d2, Seq("s"), "left")
      .select(col("s").as("node"), col("dg").as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("harmonic_e6",
        expr("n1 * 1000000 + n2 * 500000"))
      .orderBy(col("harmonic_e6").desc, col("node"))
  }

  /** Local clustering coefficient of the top-20 hubs: lcc_e6 =
    * 2·T(s)·10⁶ div (deg·(deg−1)) where T(s) = edges among N(s) — "are
    * the hub's neighbors a community or a star?", the per-node
    * complement of the global triangles row. T(s) arrives as the count
    * of ORDERED neighbor pairs that are edges (each undirected edge
    * counted once per direction = exactly 2·T, so the numerator needs
    * no halving and stays integer-exact).
    *
    * Scale: same expansion budget as [[closeness]] (Σ_{n∈N(s)} deg(n)
    * over 20 hubs); the membership test is a semi-join against the
    * broadcast hub-neighbor frame — never an all-pairs of neighbors. */
  def localCC(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val hubs = cooccDegrees(spark, dir)
      .orderBy(col("d").desc, col("n")).limit(20)
      .select(col("n").as("s"), col("d").as("dg"))
    val d1 = edges.join(broadcast(hubs.select(col("s"))),
        col("u") === col("s"))
      .select(col("s"), col("v").as("n"))
    val tri2 = edges.join(d1.select(col("s"), col("n")),
        col("u") === col("n"))
      .select(col("s"), col("v"))
      .join(d1.select(col("s"), col("n").as("v")), Seq("s", "v"),
        "left_semi")
      .groupBy(col("s")).agg(count(lit(1)).as("t2"))
    hubs.join(tri2, Seq("s"), "left")
      .select(col("s").as("node"), col("dg").as("degree"),
        expr("coalesce(t2, CAST(0 AS BIGINT)) div 2").as("n_tri"),
        expr("coalesce(t2, CAST(0 AS BIGINT)) * 1000000" +
          " div (dg * (dg - 1))").as("lcc_e6"))
      .orderBy(col("lcc_e6").desc, col("node"))
  }

  /** Deterministic random-walk sampling (node2vec/DeepWalk plumbing):
    * from each of the top-5 hubs, a 3-step walk whose "random" next
    * hop is the md5-derived index hash(node, step) mod deg(node) into
    * the id-ordered neighbor list — the md5 sketch-hash discipline
    * applied to walk sampling, so the oracle replays the exact walks.
    * Production swaps the hash for a seeded PRNG per walker; the
    * ranked-adjacency build, the iterated hop join, and the bounded
    * walker frontier are what this row pins.
    *
    * Shape: ranked adjacency = one corpus window (the degree-dist
    * shuffle, built once); each hop is an equi-join of the 5-row
    * walker frame (broadcast) against it — O(steps) tiny joins, the
    * Pregel frontier pattern at walker scale. */
  def walkSample(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val hubs = cooccDegrees(spark, dir)
      .orderBy(col("d").desc, col("n")).limit(5)
      .select(col("n").as("s"), col("n").as("cur"))
    // Per hop, only the ≤5 walker nodes' adjacency lists are ranked:
    // a broadcast semi-filter of the (checkpointed) edge frame, then a
    // window over ≤ 5·maxdeg rows. Ranking the FULL edge list per hop
    // measured 5.2 s at sf0.1 (3 corpus-sized windows, over the row
    // budget); this form is 3.6 s standalone — of which the shared
    // cooccEdges build dominates — and is also the plan a 10⁹-edge
    // graph needs (never rank edges a walker can't reach this hop).
    def hop(walkers: DataFrame, step: Int): DataFrame = {
      val needed = walkers.select(col("cur")).distinct()
      val nbrs = edges.join(broadcast(needed),
          edges("u") === needed("cur"))
        .select(col("u"), col("v"))
      val dgN = nbrs.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      val ranked = nbrs.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("u")).orderBy(col("v"))))
      val picked = walkers
        .join(dgN.select(col("u").as("cur"), col("dg")), "cur")
        .withColumn("pick", expr(
          s"1 + CAST(conv(substring(md5(concat(CAST(cur AS STRING)," +
            s" '#', '$step')), 1, 15), 16, 10) AS BIGINT) % dg"))
      ranked.join(broadcast(picked),
          col("u") === col("cur") && col("rn") === col("pick"))
        .select(col("s"), col("v").as("cur"))
    }
    // Each walker frame is 5 ROWS — localCheckpoint is free and cuts
    // the hop lineage. Without the cuts, wN's plan re-executes every
    // earlier hop AND the final 4-way join re-executes w1/w2 again:
    // ~14 edge scans, measured 5.7 s in-suite at sf0.1 (over the row
    // budget); with them each hop's edge scan runs exactly once.
    val hubsCk = hubs.localCheckpoint()
    val w1 = hop(hubsCk, 1).withColumnRenamed("cur", "step1")
      .localCheckpoint()
    val w2 = hop(w1.select(col("s"), col("step1").as("cur")), 2)
      .withColumnRenamed("cur", "step2").localCheckpoint()
    val w3 = hop(w2.select(col("s"), col("step2").as("cur")), 3)
      .withColumnRenamed("cur", "step3").localCheckpoint()
    hubsCk.select(col("s"))
      .join(w1, "s").join(w2, "s").join(w3, "s")
      .select(col("s").as("start"), col("step1"), col("step2"),
        col("step3"))
      .orderBy(col("start"))
  }

  /** Weight-≥2 co-purchase pairs (u < v, n_ab) — the ROBUST backbone
    * of the basket graph (pairs sharing at least two orders; one
    * shared order is noise), MEMOIZED: basketLift,
    * assocRules, and the components row each re-ran the same basket
    * self-join + pair census. At 100 TB this is the persisted weighted
    * edge table every market-basket pipeline keeps. */
  private[graft] def robustPairs(spark: SparkSession,
      dir: String): DataFrame =
    graft.FrameMemo.cached(spark, dir, "robust-pairs") {
      val li = opPairs(spark, dir)
      li.as("a")
        .join(li.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2L)
    }

  /** Market-basket LIFT over the part co-occurrence graph:
    * lift(a,b) = P(a,b)/(P(a)·P(b)) over order baskets — the
    * association-rule measure that separates "bought together because
    * popular" from "bought together because related" (the co-occ EDGE
    * set and q_graph_coproj's counts can't make that distinction —
    * lift normalizes by both marginals). Exact ×10⁴ with ONE
    * truncating division: n_ab·N·10⁴ div (n_a·n_b), the triple
    * product in DECIMAL(38,0) (n_ab·N crosses 2⁶³ near N ~ 10⁸
    * baskets). Support floor n_ab ≥ 2 — fixture-scaled (TPC-H-ish
    * baskets are near-independent, so co-occurrence counts are thin;
    * production floors sit at 10s-100s); top-20 by (lift desc, u, v).
    *
    * Shape: the coocc per-order pair join (per-basket fan-out bounded
    * by basket size ≤ 7) with COUNT payloads, part-sized marginal
    * joins (NO broadcast() hint — part-sized is data-sized;
    * AQE runtime-broadcasts while small), distributed top-k. */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    val li = opPairs(spark, dir)
    val baskets = li.agg(countDistinct(col("o")).as("big_n"))
    val marg = li.groupBy(col("pk")).agg(count(lit(1)).as("np"))
    val pairs = robustPairs(spark, dir)
    pairs
      .join(marg.select(col("pk").as("u"), col("np").as("n_a")),
        Seq("u"))
      .join(marg.select(col("pk").as("v"), col("np").as("n_b")),
        Seq("v"))
      .crossJoin(broadcast(baskets))
      .select(col("u"), col("v"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * big_n * 10000" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Directed association rules (J61): confidence, conviction and
    * leverage for part pairs — the rule-quality trio beside
    * q_orders_basket_lift's symmetric lift: confidence n_ab/n_a is
    * DIRECTED (bread→butter ≠ butter→bread), conviction
    * (1−P(b))/(1−conf) measures how much MORE often the rule would
    * have to fail under independence, leverage P(ab)−P(a)P(b) is the
    * absolute-scale excess the ratio measures hide. Top-10 by
    * confidence (support floor n_ab ≥ 2, the basketLift fixture
    * scaling).
    *
    * Exactness: conf_e4 = n_ab·10⁴ div n_a; conviction cleared to
    * (N−n_b)·n_a·10⁴ div (N·(n_a−n_ab)) with a greatest(·,1) guard —
    * a rule with conf = 1 emits the guard's N-scaled ceiling rather
    * than ∞, documented; leverage ×10⁸ signed with the triple product
    * in DECIMAL(38,0)/HUGEINT.
    *
    * Shape: the basketLift per-order bounded pair join, then BOTH
    * directions of each unordered pair via union — marginal joins
    * unhinted like basketLift's, distributed top-k. */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val li = opPairs(spark, dir)
    val baskets = li.agg(countDistinct(col("o")).as("big_n"))
    val marg = li.groupBy(col("pk")).agg(count(lit(1)).as("np"))
    val und = robustPairs(spark, dir)
    val dir2 = und.select(col("u"), col("v"), col("n_ab"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v"),
        col("n_ab")))
    dir2
      .join(marg.select(col("pk").as("u"),
        col("np").as("n_a")), Seq("u"))
      .join(marg.select(col("pk").as("v"),
        col("np").as("n_b")), Seq("v"))
      .crossJoin(broadcast(baskets))
      .select(col("u"), col("v"), col("n_ab"), col("n_a"), col("n_b"),
        expr("n_ab * 10000 div n_a").as("conf_e4"),
        expr("""CAST((big_n - n_b) * n_a * 10000
          | div greatest(big_n * (n_a - n_ab), 1) AS BIGINT)"""
          .stripMargin).as("conv_e4"),
        expr("""CAST((CAST(n_ab AS DECIMAL(38,0)) * big_n
          | - CAST(n_a AS DECIMAL(38,0)) * n_b) * 100000000
          | div (CAST(big_n AS DECIMAL(38,0)) * big_n) AS BIGINT)"""
          .stripMargin).as("lev_e8"))
      .orderBy(col("conf_e4").desc, col("u"), col("v"))
      .limit(10)
  }

  /** The (p_partkey, p_brand) part dim of [[brandHomophily]] and
    * [[communityEntropy]], broadcast through the part table's row gate:
    * the part table grows with SF, so the hint applies only below the
    * row cap; past it the keyed join co-partitions. ~48 B/row: a long
    * key plus a short brand string. */
  private def partBrand(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.rowsGate(spark, dir, "part", avgRowBytes = 48L)(
      part(spark, dir).select(col("p_partkey"), col("p_brand")))

  /** Brand homophily (J72, Newman categorical assortativity): do
    * same-brand parts co-occur in baskets more than the degree
    * structure predicts? r = (Σe_ii − Σa_i²)/(1 − Σa_i²) over the
    * brand mixing matrix of the co-occurrence graph — the CATEGORICAL
    * twin of q_graph_assortativity's degree correlation; r > 0 means
    * brand-loyal baskets, r ≈ 0 means brands mix freely (the honest
    * TPC-H expectation).
    *
    * Exactness: with m directed edge-ends, e_ii and a_i are counts/2m
    * — cleared: r_e4 = (2m·Σe_ii_cnt − Σa_cnt²)·10⁴ div
    * (4m² − Σa_cnt²) where e_ii_cnt = same-brand directed edges and
    * a_cnt = per-brand edge-ends; products in DECIMAL(38,0)/HUGEINT.
    *
    * Shape (100 TB): the memoized edge frame + the size-gated
    * [[partBrand]] dim lookup → one conditional census + 25-row margin
    * fold. */
  def brandHomophily(spark: SparkSession, dir: String): DataFrame = {
    val bp = partBrand(spark, dir)
    val e = cooccEdges(spark, dir)
      .join(bp.withColumnRenamed("p_partkey", "u")
        .withColumnRenamed("p_brand", "bu"), "u")
      .join(bp.withColumnRenamed("p_partkey", "v")
        .withColumnRenamed("p_brand", "bv"), "v")
    val ends = e.select(col("bu").as("b"))
      .unionAll(e.select(col("bv").as("b")))
      .groupBy(col("b")).agg(count(lit(1)).as("a"))
    val m = e.agg(count(lit(1)).as("m"),
      sum(when(col("bu") === col("bv"), 1L).otherwise(0L))
        .as("same"))
    val aa = ends.agg(sum(expr("a * a")).as("sa2"),
      count(lit(1)).as("k_brands"))
    m.crossJoin(broadcast(aa))
      .select(col("m").as("n_edges"), col("same").as("same_brand"),
        col("k_brands"),
        expr("same * 10000 div m").as("same_share_e4"),
        // greatest(...,1) guards the degenerate all-one-brand graph
        // where 4m² = sa2 (house denominator discipline)
        expr("""CAST((CAST(2 AS DECIMAL(38,0)) * m * (2 * same)
          | - sa2) * 10000 div greatest(CAST(4 AS DECIMAL(38,0)) * m * m
          | - sa2, 1) AS BIGINT)""".stripMargin).as("homophily_e4"))
  }

  /** Local-bridge census (J68): edges that close NO triangle — every
    * shortest alternative path between their endpoints is ≥ 3 hops,
    * so cutting one disconnects neighborhoods (Granovetter's weak
    * ties; in the co-purchase graph these are the CROSS-CATEGORY
    * links a recommender should protect). Emits the census plus the
    * top-10 bridges by combined endpoint degree — the highest-traffic
    * fragile links.
    *
    * Shape (100 TB): triangle-closing edges are found with the
    * triangles row's machinery — the compact-forward orientation caps
    * wedge volume at O(m^1.5); bridge set = edges anti-join closed
    * edges (three orientations of each triangle). The node-sized
    * degree joins are unhinted — AQE runtime-broadcasts
    * while small, co-partitions past the threshold. */
  def localBridges(spark: SparkSession, dir: String): DataFrame = {
    val e0 = cooccEdges(spark, dir)
    val deg = cooccDegrees(spark, dir)
    // the MEMOIZED triangle-closing frame — shared with
    // q_graph_triangles/transitivity, so the orientation + adjacency +
    // intersection pass runs once per session. Each discovered
    // triangle emits its THREE closed edges in one explode —
    // 3·|triangles| rows into one distinct, the only shuffle left.
    val closed = triBase(spark, dir)
      .select(explode(expr(
        """flatten(transform(cs, c -> array(
          |  struct(least(ta, tb) AS u, greatest(ta, tb) AS v),
          |  struct(least(tb, c) AS u, greatest(tb, c) AS v),
          |  struct(least(ta, c) AS u, greatest(ta, c) AS v))))"""
          .stripMargin)).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    val bridges = e0.join(closed, Seq("u", "v"), "left_anti")
    bridges
      .join(deg.select(col("n").as("u"), col("d").as("du")),
        "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")),
        "v")
      .select(col("u"), col("v"), (col("du") + col("dv")).as("deg_sum"))
      .orderBy(col("deg_sum").desc, col("u"), col("v"))
      .limit(10)
  }

  /** Adamic–Adar link prediction (J62): for NON-edge part pairs, the
    * classic AA score Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — common
    * neighbors weighted by how selective they are. The link-PREDICTION
    * complement of q_graph_jaccard (which scores similarity) and the
    * "what co-purchase is missing" recommender primitive. Top-20
    * predicted links.
    *
    * Scale: wedge volume is Σ_w deg(w)², hub-dominated — so wedge
    * CENTERS are capped at deg ≤ 64, documented and principled: a
    * center's weight falls as 1/ln(deg) exactly while its wedge count
    * grows as deg², so the dropped centers are the maximum-cost
    * minimum-signal ones (the df-capped-shingle argument in graph
    * form). The cap bounds wedges by 64·2|E|. Oracle applies the
    * identical cap.
    *
    * Exactness: aa_e6 = Σ 10⁹ div lnE3(deg) — floor-once lnE3 per
    * center, one truncating div per wedge term. */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val e0 = cooccEdges(spark, dir)
    val inc = e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
    val deg = inc.groupBy(col("w")).agg(count(lit(1)).as("d"))
    // value-filtered but still O(nodes) rows — unhinted
    val cinc = inc.join(deg.filter(col("d") <= 64), "w")
    val pairs = cinc.as("a").join(cinc.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .select(col("a.x").as("u"), col("b.x").as("v"),
        col("a.d").as("d"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000000 div CAST(floor(ln(d) * 1000 + 0.5)" +
          " AS BIGINT)")).as("aa_e6"))
    pairs.join(e0, Seq("u", "v"), "left_anti")
      .orderBy(col("aa_e6").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Preferential-attachment link prediction (J87): the
    * degree-only baseline score deg(u)·deg(v) over the SAME capped
    * distance-2 candidate pairs as [[adamicAdar]] — the two classic
    * link predictors enrolled side by side, so "AA's selectivity
    * weighting beats raw popularity" is a comparison the data makes,
    * not a citation. Candidates keep the deg ≤ 64 wedge-center cap
    * (identical rationale and oracle treatment); the PA score itself
    * uses FULL degrees from the memoized census. Top-20 predicted
    * links, existing edges anti-joined out. */
  def prefAttachment(spark: SparkSession, dir: String): DataFrame = {
    val e0 = cooccEdges(spark, dir)
    val inc = e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
    val deg = cooccDegrees(spark, dir)
    val cinc = inc.join(deg.filter(col("d") <= 64)
      .select(col("n").as("w")), Seq("w"))
    val pairs = cinc.as("a").join(cinc.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .select(col("a.x").as("u"), col("b.x").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(e0, Seq("u", "v"), "left_anti")
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"), col("du"), col("dv"),
        (col("du") * col("dv")).as("pa"))
      .orderBy(col("pa").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Rich-club coefficient: for the degree-distribution
    * quantiles q ∈ {p50, p75, p90}, the edge density among nodes with
    * degree > k_q — φ = 2·E_club·10⁴ div (N_club·(N_club−1)) — the
    * "do the hubs form a club?" audit that degree distribution and
    * assortativity (one global number) both miss. Thresholds are
    * QUANTILES of the degree census (exact discrete percentiles via
    * the interarrival cross-multiplied-CDF idiom), not fixed
    * constants — a fixed k degenerates the moment the fixture's
    * minimum degree crosses it (observed: every co-occ node exceeds
    * deg 40 at sf0.01), while quantile thresholds keep the three
    * clubs strictly nested at any scale.
    *
    * Shape: the memoized coocc edge frame + node-sized degree joins
    * on both endpoints (unhinted — AQE runtime-broadcasts
    * while small); the quantile computation runs on the DEGREE-VALUE
    * census (≪ nodes); 3-row threshold broadcast (constant-sized, so
    * its hint stays), conditional sums. φ's N_club product stays in
    * BIGINT (node counts, not fixture-growing moments). */
  def richClub(spark: SparkSession, dir: String): DataFrame = {
    val e = cooccEdges(spark, dir)
    val deg = cooccDegrees(spark, dir)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val ks = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(org.apache.spark.sql
        .expressions.Window.partitionBy(lit(1))))
      .agg(min(when(col("cum") * 2 >= col("n"), col("d"))).as("k50"),
        min(when(col("cum") * 4 >= col("n") * 3, col("d"))).as("k75"),
        min(when(col("cum") * 10 >= col("n") * 9, col("d"))).as("k90"))
      .select(expr(
        "stack(3, 5000, k50, 7500, k75, 9000, k90) AS (q_e4, k)"))
      .select(col("q_e4").cast("long").as("q_e4"), col("k"))
    val nodes = deg.crossJoin(broadcast(ks))
      .groupBy(col("q_e4"), col("k"))
      .agg(sum(when(col("d") > col("k"), 1L).otherwise(0L)).as("n_club"))
    val edges = e
      .join(deg.select(col("n").as("u"), col("d").as("du")),
        Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")),
        Seq("v"))
      .crossJoin(broadcast(ks))
      .groupBy(col("q_e4"))
      .agg(sum(when(col("du") > col("k") && col("dv") > col("k"), 1L)
        .otherwise(0L)).as("e_club"))
    nodes.join(edges, Seq("q_e4"))
      .select(col("q_e4"), col("k"), col("n_club"), col("e_club"),
        expr("2 * e_club * 10000" +
          " div greatest(n_club * (n_club - 1), 1)").as("phi_e4"))
      .orderBy(col("q_e4"))
  }

  /** Global transitivity: 3·triangles / wedges — the one-
    * number closure summary that complements q_graph_local_cc
    * (per-node) and q_graph_triangles (per-node census + total). A
    * graph can have high mean LOCAL cc yet low transitivity when
    * closure lives only in low-degree corners — the global ratio
    * weights by wedge count, the local mean doesn't. Consumes the
    * enrolled triangles frame (total_tri rides every row — max picks
    * it) so the two rows cannot disagree on the triangle census;
    * wedges fold from the degree frame as Σ d(d−1)/2.
    *
    * Shape: the triangles plan (edge-iterator closing, O(m^1.5))
    * plus one degree fold; output is 1 row. */
  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    val t = triangles(spark, dir)
      .agg(max(col("total_tri")).as("n_triangles"))
    val wedges = cooccDegrees(spark, dir)
      .agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    wedges.crossJoin(broadcast(t))
      .select(col("n_nodes"), col("n_wedges"), col("n_triangles"),
        expr("3 * n_triangles * 10000 div greatest(n_wedges, 1)")
          .as("transitivity_e4"))
  }

  /** Two-path brokerage census (J75 — Burt's structural
    * holes): per wedge CENTER w, how many of its 2-paths u–w–v connect
    * endpoints that are NOT directly linked? Those are the pairs whose
    * only short route runs THROUGH w — the broker positions a
    * recommender or a supply planner should protect (the node-role
    * complement of q_graph_local_bridges' edge census, and the
    * aggregate-by-center twin of q_graph_adamic_adar's
    * aggregate-by-endpoints). Emits the top-20 brokers by open-wedge
    * count with their openness share.
    *
    * Scale: wedge volume is hub-dominated (Σ_w deg(w)²), so wedge
    * centers are capped at deg ≤ 64 — the IDENTICAL documented cap,
    * rationale, and oracle treatment as adamicAdar (a high-degree
    * center's wedges are each individually weak brokerage claims while
    * costing deg² — maximum-cost minimum-signal). Candidates stream
    * through one self-join on the capped incidence frame; the anti
    * probe against the edge list is keyed (u,v); everything after is
    * center-sized.
    *
    * Exactness: pure counts + one e4 truncating div. */
  def brokerage(spark: SparkSession, dir: String): DataFrame = {
    val e0 = cooccEdges(spark, dir)
    val inc = e0.select(col("u").as("w"), col("v").as("x"))
      .unionAll(e0.select(col("v").as("w"), col("u").as("x")))
    val deg = inc.groupBy(col("w")).agg(count(lit(1)).as("d"))
    // value-filtered but still O(nodes) rows — unhinted
    val cinc = inc.join(deg.filter(col("d") <= 64), "w")
    val wedges = cinc.as("a").join(cinc.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .select(col("a.w").as("w"), col("a.x").as("u"), col("b.x").as("v"))
    val open = wedges.join(e0, Seq("u", "v"), "left_anti")
      .groupBy(col("w")).agg(count(lit(1)).as("n_open"))
    val all = wedges.groupBy(col("w")).agg(count(lit(1)).as("n_wedges"))
    all.join(open, Seq("w"), "left_outer")
      .na.fill(0L, Seq("n_open"))
      .select(col("w").as("broker"), col("n_wedges"), col("n_open"),
        expr("n_open * 10000 div n_wedges").as("openness_e4"))
      .orderBy(col("n_open").desc, col("broker"))
      .limit(20)
  }

  /** Community label entropy: are the LPA communities
    * BRAND-coherent? Per community (top-10 by size): member count,
    * distinct brands, the modal brand (min-brand tie-break), and the
    * brand-mix Shannon entropy in e3 nats (the lnE3 floor-once
    * family) — the graph-community twin of q_llm_cluster_purity's
    * embedding-cluster purity. Low entropy = the co-purchase graph
    * recovers brand structure; high entropy = communities are
    * cross-brand baskets. Consumes [[lpaLabels]] (shared with
    * q_graph_lpa/modularity, so the three rows can't disagree about
    * the partition).
    *
    * Shape: label frame ⋈ [[partBrand]] (broadcast SIZE-GATED — the
    * part table grows with SF) → (community, brand) census →
    * community-sized folds; top-10 via TakeOrdered. */
  def communityEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = lpaLabels(spark, dir)
      .join(partBrand(spark, dir), col("p_partkey") === col("n"))
      .groupBy(col("lab"), col("p_brand"))
      .agg(count(lit(1)).as("c"))
    val sz = census.groupBy(col("lab"))
      .agg(sum(col("c")).as("n_nodes"),
        count(lit(1)).as("n_brands"))
    val topb = census.withColumn("rn", row_number().over(
        Window.partitionBy(col("lab"))
          .orderBy(col("c").desc, col("p_brand"))))
      .filter(col("rn") === 1)
      .select(col("lab"), col("p_brand").as("top_brand"))
    val h = census.join(sz.select(col("lab"), col("n_nodes")), "lab")
      .groupBy(col("lab"))
      .agg(expr("""CAST(sum(c *
        | (CAST(floor(ln(n_nodes) * 1000 + 0.5) AS BIGINT)
        |  - CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT)))
        | div max(n_nodes) AS BIGINT)""".stripMargin).as("h_e3"))
    sz.orderBy(col("n_nodes").desc, col("lab")).limit(10)
      .join(topb, "lab").join(h, "lab")
      .select(col("lab").as("community"), col("n_nodes"),
        col("n_brands"), col("top_brand"), col("h_e3"))
      .orderBy(col("n_nodes").desc, col("community"))
  }

  /** Basket-size distribution: the measured census behind
    * the claim every co-occurrence row leans on — "wedge volume is
    * bounded by order size". Size histogram with shares and the
    * cumulative curve; the observed max (13 at sf0.01) REFINES the
    * informal ≤7 note in the triangles scaladoc into data, and the
    * cum curve shows 95% of orders have ≤7 lines (why the fan-out is
    * benign even though the max is higher). The pre-flight
    * measurement for the graph family, like q_diag_skew for joins.
    *
    * Shape: one orderkey fold → size histogram → tiny ordered pass. */
  def basketSizes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_orders"))
    val tot = h.agg(sum(col("n_orders")).as("t"))
    h.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_orders")).over(
        Window.orderBy(col("s"))))
      .select(col("s").as("basket_size"), col("n_orders"),
        expr("n_orders * 10000 div t").as("share_e4"),
        expr("cum * 10000 div t").as("cum_share_e4"))
      .orderBy(col("basket_size"))
  }

  /** Degree-distribution Gini (J83): inequality of the
    * basket-graph degree distribution — gini ≈ 0 means every part
    * co-occurs with a similar number of others (uniform load; hash
    * partitioning just works), gini → 1 means hub-dominated (the skew
    * that forces the salting/deg-cap mitigations the graph family
    * documents). The ONE-number companion to q_graph_degree_dist's
    * bucket histogram and the graph twin of q_agg_gini — computed by
    * the same HISTOGRAM ALGEBRA (a run of c nodes with degree v and
    * smaller-degree mass a contributes v·c·(2a + c − n) to the
    * classical numerator), never a node sort.
    *
    * Exactness: numerator provably ≥ 0; one e4 truncating div over
    * n·Σd; per-run terms signed but only summed (BIGINT, |term| ≤
    * maxdeg·n² — the q_agg_gini overflow note applies at ~10⁷ nodes,
    * documented there).
    *
    * Shape: the memoized coocc frame → degree census →
    * degree-VALUE-sized window (domain-bounded) → 1-row fold. */
  def degreeGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deg = cooccDegrees(spark, dir)
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
    hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("d"))))
      .withColumn("a", col("cum") - col("c"))
      .withColumn("nn", sum(col("c")).over(
        Window.partitionBy(lit(1))))
      .agg(max(col("nn")).as("n_nodes"),
        sum(expr("d * c")).as("sum_deg"),
        max(col("d")).as("max_deg"),
        sum(expr("d * c * (2 * a + c - nn)")).as("num"))
      .select(col("n_nodes"), col("sum_deg"), col("max_deg"),
        expr("num * 10000 div greatest(n_nodes * sum_deg, 1)")
          .as("gini_e4"))
  }

  /** Connected components of the ROBUST co-purchase graph (J84, round
    * 11): the component-size histogram over [[robustPairs]] (weight ≥ 2
    * — one shared order is noise; the backbone filter every
    * co-occurrence pipeline applies first). The missing structural
    * member of the family (pagerank ranks, LPA colors, k-core peels,
    * triangles count — none answers "is it ONE graph?"); dup-cluster CC
    * answers it for the LSH pair graph, this row for the purchase
    * backbone. Per size: component count, smallest representative
    * label, and the bucket's node share (e4). Fixture reading at
    * sf0.01: one 1,860-node giant plus a 5, a 3, and six 2s — real
    * fragmentation, not a vacuous single row (the raw weight-1 graph IS
    * one component; measured before enrollment, 55 s closure — the
    * backbone restriction is also what makes the oracle affordable).
    *
    * Shape (100 TB): rides [[graft.operators.LlmOps.connectedComponents]]
    * — min-label propagation WITH pointer jumping (O(log diameter)
    * rounds, per-round lineage truncation, reliable-checkpoint option,
    * ScalaCheck-verified vs union-find) over the memoized backbone
    * frame; the rollups after it are component- then size-sized.
    * Oracle replays the partition via recursive-CTE reachability (the
    * dupClusters idiom, 4.2 s at sf0.01). */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.operators.LlmOps.connectedComponents(
        robustPairs(spark, dir).select(col("u"), col("v")))
      .toDF("n", "comp")
    val tot = labels.agg(count(lit(1)).as("n_nodes"))
    labels.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_components"),
        min(col("comp")).as("min_component"))
      .crossJoin(broadcast(tot)) // 1-row total — constant-sized hint
      .select(col("sz").as("component_size"), col("n_components"),
        col("min_component").cast("long").as("min_component"),
        expr("sz * n_components * 10000 div n_nodes")
          .as("node_share_e4"))
      .orderBy(col("component_size").desc, col("min_component"))
  }

  /** Eigenvector centrality (J85): two unrolled power-
    * iteration rounds x ← A·x over the undirected co-occurrence
    * adjacency, L1-renormalized to the ×10⁶ integer grid each round —
    * prestige flows WHOLE along edges (no damping, no out-degree
    * split), so a node is central when its neighbors are central: the
    * Bonacich prestige member the family lacks (pagerank damps and
    * degree-normalizes; HITS is bipartite; degree is local). Top-20.
    *
    * Exactness: x₀ = 10⁶ everywhere; each round is an integer
    * neighbor-sum then xᵢ = rawᵢ·10⁶ div Σraw (truncating; worst
    * intermediate ~2·10¹⁵, inside BIGINT — bound in scaladoc math).
    * Shape: the pagerank loop shape — per round ONE edge-stream join
    * against the node-sized rank frame (size-gated hint, the iterated-
    * plan class) + a 1-row total broadcast. */
  def eigenCentrality(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val gate = graft.Hints.gate(spark, dir, "coocc-edges",
      cooccEdges(spark, dir))
    val x0 = cooccDegrees(spark, dir)
      .select(col("n"), lit(1000000L).as("x"))
    def step(x: DataFrame): DataFrame = {
      val raw = edges
        .join(gate(x.select(col("n").as("v"), col("x"))), Seq("v"))
        .groupBy(col("u").as("n")).agg(sum(col("x")).as("raw"))
      val tot = raw.agg(sum(col("raw")).as("tot"))
      raw.crossJoin(broadcast(tot)) // 1-row total — constant-sized
        .select(col("n"), expr("raw * 1000000 div tot").as("x"))
    }
    step(step(x0))
      .orderBy(col("x").desc, col("n"))
      .limit(20)
      .select(col("n").cast("long").as("node_key"), col("x").as("score_e6"))
  }

  /** Personalized PageRank from the top hub (J91): random
    * walk with restart — at every step half the mass teleports BACK to
    * the seed (the max-degree node from the memoized census), half
    * spreads over neighbors — the similarity-to-a-NODE member of the
    * walk family (pagerank ranks globally, eigencentrality undamped,
    * bfs2 reaches, walk_sample simulates; PPR is the
    * "recommendations for THIS part" primitive behind
    * related-items/who-to-follow). Two unrolled half-restart
    * iterations from 10⁶ seed mass, top-20 by final mass.
    *
    * Exactness: integer mass splitting — (r div 2) div deg per
    * neighbor edge, truncation loses mass (conservation ≤ 10⁶ with
    * restart ≥ 5·10⁵ spec-pinned); all nonneg so div == floor both
    * engines.
    *
    * Shape (100 TB): the mass frames are seed-neighborhood-sized
    * (≤ 2-hop ball), keyed equi-joins against the edge list — NO
    * forced broadcast (the bfs2 lesson: a hub's 1-hop ball on a Zipf
    * graph is data-sized; AQE runtime-broadcasts while small, the
    * keyed join co-partitions past it). Degrees ride the memoized
    * census. */
  def pprHub(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val deg = cooccDegrees(spark, dir)
    val seed = deg.orderBy(col("d").desc, col("n")).limit(1)
      .select(col("n").as("node"))
    val restart = seed.select(col("node"), lit(500000L).as("m"))
    def step(r: DataFrame): DataFrame =
      restart.unionAll(
        edges.join(r.withColumnRenamed("node", "u"), "u")
          .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
          .select(col("v").as("node"),
            expr("(r div 2) div du").as("m")))
        .groupBy(col("node")).agg(sum(col("m")).as("r"))
    val r0 = seed.select(col("node"), lit(1000000L).as("r"))
    val r1 = step(r0)
    val r2 = step(r1)
    r2.join(r1.select(col("node"), col("r").as("r1")), Seq("node"),
        "left")
      .join(deg.select(col("n").as("node"), col("d")), "node")
      .select(col("node"), col("d"),
        coalesce(col("r1"), lit(0L)).as("ppr1_e6"),
        col("r").as("ppr2_e6"))
      .orderBy(col("ppr2_e6").desc, col("node")).limit(20)
  }

  /** Edge-embeddedness census (J98): the tie-strength
    * distribution — per co-purchase edge, how many triangles contain
    * it (|N(u) ∩ N(v)|), rolled into a capped histogram with the raw
    * incidence mass per bucket. Granovetter's weak/strong-tie split
    * as DATA: bucket 0 IS the local-bridge population
    * q_graph_local_bridges samples the top of, buckets 5+ are the
    * cohesive core; the full distribution says whether the graph is
    * clique-like or tree-like, which one number (transitivity) can't.
    *
    * Each triangle found at its oriented base edge emits its THREE
    * edges through the memoized triBase frame (the localBridges
    * explode, counted instead of distinct'd), so Σ sum_emb = 3 ×
    * triangle count — the cross-row invariant the spec pins.
    *
    * Shape (100 TB): rides tri-base (built once a session); one
    * groupBy over 3·|triangles| narrow rows; bucket 0 comes from ONE
    * 1-row edge count (m − nonzero mass), not a join back onto the
    * edge list; constant-size histogram out. */
  def embeddedness(spark: SparkSession, dir: String): DataFrame = {
    val e0 = cooccEdges(spark, dir)
    // The 3·|triangles| explode emits PACKED single-long edge keys
    // (u·10⁹ + v, u < v canonical — exact through 10⁹-node graphs, the
    // coproj idiom): the fan-out rows are 8-byte longs
    // instead of 16-byte structs and both the groupBy and the edge
    // join hash ONE column — a driver bench read the
    // struct form at 4.80 s (the suite's closest row to the 5 s
    // budget); the packed form measures 2.9 s standalone-cold
    // including the triBase build, so the in-suite warm cost drops
    // well clear of the budget.
    // Range enforcement sits INSIDE the key computation (a guard only
    // in the final share_e4 projection lets a consumer that prunes that
    // column have Catalyst drop the CASE and silently accept colliding
    // packed keys; coProjection embeds its guard in the key itself).
    // One two-compare CASE per (base-edge, apex) element, same
    // codegen'd projection, no extra job; only triangle nodes flow
    // through the pack, so this covers exactly the id universe that can
    // collide.
    val emb = triBase(spark, dir)
      .select(explode(expr(
        """flatten(transform(cs, c ->
          |  CASE WHEN least(ta, tb, c) < 0
          |         OR greatest(ta, tb, c) >= 1000000000L
          |  THEN raise_error('embeddedness: node id outside [0, 1e9)' ||
          |    ' overflows the packed edge key')
          |  ELSE array(
          |    least(ta, tb) * 1000000000L + greatest(ta, tb),
          |    least(tb, c) * 1000000000L + greatest(tb, c),
          |    least(ta, c) * 1000000000L + greatest(ta, c)) END))"""
          .stripMargin)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("emb"))
    // Bucket 0 by ARITHMETIC, not by joining emb back onto the edge
    // list: every emb key IS an edge, so the zero-
    // embeddedness population is simply m − Σ nonzero-bucket edges —
    // the left join + coalesce over the full edge list only existed to
    // materialize zeros the histogram can compute from one 1-row
    // count (measured 3.50 → 2.44 s standalone min-of-2, same box
    // back-to-back; the edge-sized hash join was ~30 % of the row).
    // Zero-embeddedness edges never flow through the pack, so the
    // explode-side guard above covers every id that CAN collide and
    // the 1-row edge aggregate needs only the count.
    val nz = emb
      .groupBy(least(col("emb"), lit(5L)).as("emb_capped"))
      .agg(count(lit(1)).as("n_edges"), sum(col("emb")).as("sum_emb"))
    val tot = e0.agg(count(lit(1)).as("m"))
    val nzTot = nz.agg(sum(col("n_edges")).as("nz_edges"))
    val zero = tot.crossJoin(broadcast(nzTot)) // 1 row × 1 row
      .select(lit(0L).as("emb_capped"),
        (col("m") - coalesce(col("nz_edges"), lit(0L))).as("n_edges"),
        lit(0L).as("sum_emb"), col("m"))
      .filter(col("n_edges") > 0) // bucket 0 only when populated,
      // exactly as the old join-then-census emitted it
    nz.crossJoin(broadcast(tot)) // ≤5 rows × 1 row
      .select(col("emb_capped"), col("n_edges"), col("sum_emb"), col("m"))
      .unionAll(zero)
      .select(col("emb_capped"), col("n_edges"), col("sum_emb"),
        expr("n_edges * 10000 div m").as("share_e4"))
      .orderBy(col("emb_capped"))
  }

  /** Average-neighbor-degree curve knn(k) (J101): per
    * degree bucket, the ratio-of-sums mean neighbor degree — the
    * CURVE behind q_graph_assortativity's single number (Pastor-
    * Satorras et al.): a falling knn(k) is disassortative mixing
    * (hubs attach to leaves — the TPC-H co-purchase shape), a rising
    * one assortative (cores). One number can't show WHERE the mixing
    * changes; the curve can. Buckets are 20-degree-wide bins capped at 10 (the Zipf tail pools),
    * and the estimator is Σ snd / Σ deg uniformly across buckets
    * (the ratio-of-sums form — stated, not mixed with per-node
    * averaging).
    *
    * Shape (100 TB): two keyed joins of the edge list against the
    * memoized degree census (never re-derived), one partial-
    * aggregable per-node fold, one ≤ 21-row rollup. */
  def knnCurve(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccArcs(spark, dir)
    val deg = cooccDegrees(spark, dir)
    val perNode = edges
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .groupBy(col("u")).agg(sum(col("dv")).as("snd"))
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
    perNode
      .groupBy(least(expr("du div 20"), lit(10L)).as("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("snd")).as("snd_sum"),
        sum(col("du")).as("deg_sum"))
      .select(col("deg_bucket"), col("n_nodes"),
        expr("snd_sum * 100 div deg_sum").as("knn_e2"))
      .orderBy(col("deg_bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_knn_curve" -> knnCurve,
    "q_graph_embeddedness" -> embeddedness,
    "q_graph_ppr" -> pprHub,
    "q_graph_eigencentrality" -> eigenCentrality,
    "q_graph_components" -> components,
    "q_graph_degree_gini" -> degreeGini,
    "q_orders_basket_sizes" -> basketSizes,
    "q_graph_community_entropy" -> communityEntropy,
    "q_graph_transitivity" -> transitivity,
    "q_graph_richclub" -> richClub,
    "q_basket_lift" -> basketLift,
    "q_orders_assoc_rules" -> assocRules,
    "q_graph_adamic_adar" -> adamicAdar,
    "q_graph_pref_attach" -> prefAttachment,
    "q_graph_brokerage" -> brokerage,
    "q_graph_local_bridges" -> localBridges,
    "q_graph_brand_homophily" -> brandHomophily,
    "q_graph_walk_sample" -> walkSample,
    "q_graph_local_cc" -> localCC,
    "q_graph_hits" -> hits,
    "q_graph_bfs2" -> bfs2,
    "q_graph_closeness" -> closeness,
    "q_graph_kcore" -> kcore,
    "q_graph_lpa" -> labelProp,
    "q_graph_modularity" -> modularity,
    "q_graph_jaccard" -> jaccardNeighbors,
    "q_graph_pagerank" -> pagerank,
    "q_graph_degree_dist" -> degreeDist,
    "q_graph_coproj" -> coProjection,
    "q_graph_triangles" -> triangles,
    "q_graph_assortativity" -> assortativity,
  )

  /** Two-round LPA CTE chain (e0 → l0 → l1 → l2) shared by the
    * q_graph_lpa and q_graph_modularity oracles — mirrors
    * [[lpaLabels]] exactly. */
  private val lpaCtes: String =
    """e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey <> b.l_partkey),
      |l0 AS (SELECT DISTINCT u AS n, u AS lab FROM e0),
      |n1 AS (SELECT e0.u AS n, l0.lab, count(*) AS c
      |  FROM e0 JOIN l0 ON e0.v = l0.n GROUP BY e0.u, l0.lab),
      |l1 AS (SELECT n, lab FROM (SELECT n, lab,
      |   row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
      |  FROM n1) WHERE rn = 1),
      |n2 AS (SELECT e0.u AS n, l1.lab, count(*) AS c
      |  FROM e0 JOIN l1 ON e0.v = l1.n GROUP BY e0.u, l1.lab),
      |l2 AS (SELECT n, lab FROM (SELECT n, lab,
      |   row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
      |  FROM n2) WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_graph_knn_curve" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u,
        |   b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |pn AS (SELECT e0.u, CAST(sum(dv.d) AS BIGINT) AS snd
        |  FROM e0 JOIN deg dv ON dv.n = e0.v GROUP BY 1),
        |j AS (SELECT pn.u, pn.snd, du.d AS du
        |  FROM pn JOIN deg du ON du.n = pn.u)
        |SELECT least(du // 20, 10) AS deg_bucket,
        | CAST(count(*) AS BIGINT) AS n_nodes,
        | CAST(sum(snd) * 100 // sum(du) AS BIGINT) AS knn_e2
        |FROM j GROUP BY 1 ORDER BY deg_bucket""".stripMargin,
    "q_graph_embeddedness" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u,
        |   b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e0 e1 JOIN e0 e2 ON e2.u = e1.v
        |   JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
        |edges3 AS (SELECT a AS u, b AS v FROM tri
        |  UNION ALL SELECT b, c FROM tri
        |  UNION ALL SELECT a, c FROM tri),
        |emb AS (SELECT u, v, CAST(count(*) AS BIGINT) AS emb
        |  FROM edges3 GROUP BY 1, 2),
        |f AS (SELECT e0.u, e0.v,
        |   CAST(coalesce(emb.emb, 0) AS BIGINT) AS emb
        |  FROM e0 LEFT JOIN emb ON emb.u = e0.u AND emb.v = e0.v),
        |c AS (SELECT least(emb, 5) AS emb_capped,
        |   CAST(count(*) AS BIGINT) AS n_edges,
        |   CAST(sum(emb) AS BIGINT) AS sum_emb
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_edges) AS BIGINT) AS m FROM c)
        |SELECT emb_capped, n_edges, sum_emb,
        |  CAST(n_edges * 10000 // m AS BIGINT) AS share_e4
        |FROM c CROSS JOIN tot ORDER BY emb_capped""".stripMargin,
    "q_graph_ppr" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u,
        |   b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |seed AS (SELECT n AS s FROM deg ORDER BY d DESC, n LIMIT 1),
        |r1 AS (SELECT node, CAST(sum(m) AS BIGINT) AS r FROM (
        |   SELECT s AS node, CAST(500000 AS BIGINT) AS m FROM seed
        |   UNION ALL
        |   SELECT e0.v, (1000000 // 2) // dg.d
        |   FROM e0 JOIN seed ON e0.u = seed.s
        |    JOIN deg dg ON dg.n = e0.u)
        |  GROUP BY node),
        |r2 AS (SELECT node, CAST(sum(m) AS BIGINT) AS r FROM (
        |   SELECT s AS node, CAST(500000 AS BIGINT) AS m FROM seed
        |   UNION ALL
        |   SELECT e0.v, (r1.r // 2) // dg.d
        |   FROM e0 JOIN r1 ON e0.u = r1.node
        |    JOIN deg dg ON dg.n = e0.u)
        |  GROUP BY node)
        |SELECT r2.node, deg.d,
        |  CAST(coalesce(r1.r, 0) AS BIGINT) AS ppr1_e6,
        |  r2.r AS ppr2_e6
        |FROM r2 LEFT JOIN r1 ON r1.node = r2.node
        | JOIN deg ON deg.n = r2.node
        |ORDER BY ppr2_e6 DESC, r2.node LIMIT 20""".stripMargin,
    "q_graph_eigencentrality" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |x0 AS (SELECT u AS n, CAST(1000000 AS BIGINT) AS x
        |  FROM (SELECT DISTINCT u FROM e0)),
        |r1 AS (SELECT e0.u AS n, CAST(sum(x0.x) AS BIGINT) AS raw
        |  FROM e0 JOIN x0 ON e0.v = x0.n GROUP BY 1),
        |t1 AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM r1),
        |x1 AS (SELECT n, CAST(raw * 1000000 // tot AS BIGINT) AS x
        |  FROM r1 CROSS JOIN t1),
        |r2 AS (SELECT e0.u AS n, CAST(sum(x1.x) AS BIGINT) AS raw
        |  FROM e0 JOIN x1 ON e0.v = x1.n GROUP BY 1),
        |t2 AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM r2),
        |x2 AS (SELECT n, CAST(raw * 1000000 // tot AS BIGINT) AS x
        |  FROM r2 CROSS JOIN t2)
        |SELECT CAST(n AS BIGINT) AS node_key, x AS score_e6 FROM x2
        |ORDER BY score_e6 DESC, node_key LIMIT 20""".stripMargin,
    "q_graph_components" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |rp AS (SELECT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT u, v FROM rp UNION ALL SELECT v, u FROM rp),
        |reach(a, b) AS (
        |  SELECT u, v FROM e0
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN e0 e ON r.b = e.u),
        |comp AS (SELECT a AS n, least(a, min(b)) AS comp
        |  FROM reach GROUP BY a),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM comp),
        |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY comp)
        |SELECT sz AS component_size,
        | CAST(count(*) AS BIGINT) AS n_components,
        | CAST(min(comp) AS BIGINT) AS min_component,
        | CAST(sz * count(*) * 10000 // max(tot.n_nodes) AS BIGINT)
        |   AS node_share_e4
        |FROM sz CROSS JOIN tot GROUP BY sz
        |ORDER BY component_size DESC, min_component""".stripMargin,
    "q_graph_degree_gini" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM e0
        |  GROUP BY 1),
        |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM deg
        |  GROUP BY 1),
        |w AS (SELECT d, c, sum(c) OVER (ORDER BY d) AS cum,
        |   sum(c) OVER () AS nn FROM hist)
        |SELECT CAST(max(nn) AS BIGINT) AS n_nodes,
        | CAST(sum(d * c) AS BIGINT) AS sum_deg,
        | CAST(max(d) AS BIGINT) AS max_deg,
        | CAST(sum(d * c * (2 * (cum - c) + c - nn)) * 10000
        |   // greatest(max(nn) * sum(d * c), 1) AS BIGINT) AS gini_e4
        |FROM w""".stripMargin,
    "q_orders_basket_sizes" ->
      """WITH sz AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT s, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM sz GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM h)
        |SELECT h.s AS basket_size, h.n_orders,
        |  CAST(h.n_orders * 10000 // tot.t AS BIGINT) AS share_e4,
        |  CAST(sum(h.n_orders) OVER (ORDER BY h.s) * 10000 // tot.t
        |    AS BIGINT) AS cum_share_e4
        |FROM h CROSS JOIN tot ORDER BY basket_size""".stripMargin,
    "q_graph_community_entropy" -> {
      s"""WITH $lpaCtes,
         |bc AS (SELECT l2.lab, p.p_brand,
         |   CAST(count(*) AS BIGINT) AS c
         |  FROM l2 JOIN part p ON p.p_partkey = l2.n
         |  GROUP BY 1, 2),
         |sz AS (SELECT lab, CAST(sum(c) AS BIGINT) AS n_nodes,
         |   CAST(count(*) AS BIGINT) AS n_brands FROM bc GROUP BY 1),
         |topb AS (SELECT lab, p_brand AS top_brand FROM (
         |   SELECT lab, p_brand, row_number() OVER (PARTITION BY lab
         |     ORDER BY c DESC, p_brand) AS rn FROM bc) WHERE rn = 1),
         |h AS (SELECT bc.lab,
         |   CAST(sum(bc.c *
         |     (CAST(floor(ln(sz.n_nodes) * 1000 + 0.5) AS BIGINT)
         |      - CAST(floor(ln(bc.c) * 1000 + 0.5) AS BIGINT)))
         |     // max(sz.n_nodes) AS BIGINT) AS h_e3
         |  FROM bc JOIN sz ON sz.lab = bc.lab GROUP BY bc.lab),
         |top10 AS (SELECT lab, n_nodes, n_brands FROM sz
         |  ORDER BY n_nodes DESC, lab LIMIT 10)
         |SELECT top10.lab AS community, top10.n_nodes, top10.n_brands,
         |  topb.top_brand, h.h_e3
         |FROM top10 JOIN topb ON topb.lab = top10.lab
         |JOIN h ON h.lab = top10.lab
         |ORDER BY n_nodes DESC, community""".stripMargin
    },
    "q_graph_transitivity" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, count(*) AS d FROM (
        |   SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) t
        |  GROUP BY n),
        |o AS (SELECT
        |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |     THEN e0.u ELSE e0.v END AS src,
        |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |     THEN e0.v ELSE e0.u END AS dst
        |  FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
        |tri AS (SELECT count(*) AS n_triangles
        |  FROM o o1 JOIN o o2
        |    ON o1.src = o2.src AND o1.dst < o2.dst
        |  JOIN e0 ON o1.dst = e0.u AND o2.dst = e0.v),
        |w AS (SELECT count(*) AS n_nodes,
        |   sum(d * (d - 1) // 2) AS n_wedges FROM deg)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(n_wedges AS BIGINT) AS n_wedges,
        | CAST(n_triangles AS BIGINT) AS n_triangles,
        | CAST(3 * n_triangles * 10000 // greatest(n_wedges, 1)
        |   AS BIGINT) AS transitivity_e4
        |FROM w CROSS JOIN tri""".stripMargin,
    "q_graph_richclub" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |d AS (SELECT n, count(*) AS deg FROM (
        |   SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
        |  GROUP BY n),
        |dc AS (SELECT deg, count(*) AS c FROM d GROUP BY deg),
        |cum AS (SELECT deg, sum(c) OVER (ORDER BY deg
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(c) OVER () AS n FROM dc),
        |kq AS (SELECT
        |   min(CASE WHEN cum * 2 >= n THEN deg END) AS k50,
        |   min(CASE WHEN cum * 4 >= n * 3 THEN deg END) AS k75,
        |   min(CASE WHEN cum * 10 >= n * 9 THEN deg END) AS k90
        |  FROM cum),
        |ks AS (SELECT 5000 AS q_e4, k50 AS k FROM kq
        | UNION ALL SELECT 7500, k75 FROM kq
        | UNION ALL SELECT 9000, k90 FROM kq),
        |nodes AS (SELECT q_e4, k,
        |   sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS n_club
        |  FROM d CROSS JOIN ks GROUP BY 1, 2),
        |ed AS (SELECT q_e4,
        |   sum(CASE WHEN du.deg > k AND dv.deg > k THEN 1 ELSE 0 END)
        |     AS e_club
        |  FROM e
        |  JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v
        |  CROSS JOIN ks GROUP BY q_e4)
        |SELECT CAST(nodes.q_e4 AS BIGINT) AS q_e4,
        | CAST(nodes.k AS BIGINT) AS k,
        | CAST(n_club AS BIGINT) AS n_club,
        | CAST(e_club AS BIGINT) AS e_club,
        | CAST(2 * e_club * 10000
        |   // greatest(n_club * (n_club - 1), 1) AS BIGINT) AS phi_e4
        |FROM nodes JOIN ed ON ed.q_e4 = nodes.q_e4
        |ORDER BY nodes.q_e4""".stripMargin,
    "q_graph_brand_homophily" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk),
        |e AS (SELECT pu.p_brand AS bu, pv.p_brand AS bv
        |  FROM e0 JOIN part pu ON e0.u = pu.p_partkey
        |   JOIN part pv ON e0.v = pv.p_partkey),
        |ends AS (SELECT b, CAST(count(*) AS BIGINT) AS a FROM (
        |  SELECT bu AS b FROM e UNION ALL SELECT bv FROM e) t
        |  GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |   CAST(sum(CASE WHEN bu = bv THEN 1 ELSE 0 END) AS BIGINT)
        |     AS same FROM e),
        |aa AS (SELECT CAST(sum(a * a) AS BIGINT) AS sa2,
        |   CAST(count(*) AS BIGINT) AS k_brands FROM ends)
        |SELECT m AS n_edges, same AS same_brand, k_brands,
        | same * 10000 // m AS same_share_e4,
        | CAST((CAST(2 AS HUGEINT) * m * (2 * same) - sa2) * 10000
        |   // greatest(CAST(4 AS HUGEINT) * m * m - sa2, 1) AS BIGINT)
        |   AS homophily_e4
        |FROM m CROSS JOIN aa""".stripMargin,
    "q_graph_local_bridges" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) t
        |  GROUP BY 1),
        |o AS (SELECT CASE WHEN du.d < dv.d
        |     OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
        |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |     THEN v ELSE u END AS dst
        |  FROM e0 JOIN deg du ON e0.u = du.n
        |   JOIN deg dv ON e0.v = dv.n),
        |tri AS (SELECT a.src AS x, a.dst AS y, b.dst AS z
        |  FROM o a JOIN o b ON a.dst = b.src
        |  JOIN (SELECT u AS x2, v AS z2 FROM e0
        |    UNION ALL SELECT v, u FROM e0) e
        |   ON a.src = e.x2 AND b.dst = e.z2),
        |closed AS (SELECT DISTINCT u, v FROM (
        |  SELECT least(x, y) AS u, greatest(x, y) AS v FROM tri
        |  UNION ALL SELECT least(y, z), greatest(y, z) FROM tri
        |  UNION ALL SELECT least(x, z), greatest(x, z) FROM tri) t)
        |SELECT e0.u, e0.v,
        | CAST(du.d + dv.d AS BIGINT) AS deg_sum
        |FROM e0
        |JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n
        |WHERE NOT EXISTS (SELECT 1 FROM closed
        |  WHERE closed.u = e0.u AND closed.v = e0.v)
        |ORDER BY deg_sum DESC, e0.u, e0.v LIMIT 10""".stripMargin,
    "q_graph_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk),
        |inc AS (SELECT u AS w, v AS x FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d
        |  FROM inc GROUP BY 1 HAVING count(*) <= 64),
        |cinc AS (SELECT inc.w, x, d FROM inc
        |  JOIN deg ON inc.w = deg.w),
        |pairs AS (SELECT a.x AS u, b.x AS v,
        |   CAST(count(*) AS BIGINT) AS n_common,
        |   CAST(sum(1000000000 // CAST(floor(ln(a.d) * 1000 + 0.5)
        |     AS BIGINT)) AS BIGINT) AS aa_e6
        |  FROM cinc a JOIN cinc b ON a.w = b.w AND a.x < b.x
        |  GROUP BY 1, 2)
        |SELECT u, v, n_common, aa_e6 FROM pairs
        |WHERE NOT EXISTS (SELECT 1 FROM e0
        |  WHERE e0.u = pairs.u AND e0.v = pairs.v)
        |ORDER BY aa_e6 DESC, u, v LIMIT 20""".stripMargin,
    "q_graph_pref_attach" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk),
        |inc AS (SELECT u AS w, v AS x FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |degfull AS (SELECT w AS n, CAST(count(*) AS BIGINT) AS d
        |  FROM inc GROUP BY 1),
        |cinc AS (SELECT inc.w, x FROM inc
        |  JOIN degfull ON inc.w = degfull.n WHERE degfull.d <= 64),
        |pairs AS (SELECT a.x AS u, b.x AS v,
        |   CAST(count(*) AS BIGINT) AS n_common
        |  FROM cinc a JOIN cinc b ON a.w = b.w AND a.x < b.x
        |  GROUP BY 1, 2),
        |ne AS (SELECT u, v, n_common FROM pairs
        |  WHERE NOT EXISTS (SELECT 1 FROM e0
        |    WHERE e0.u = pairs.u AND e0.v = pairs.v))
        |SELECT ne.u, ne.v, ne.n_common, du.d AS du, dv.d AS dv,
        | CAST(du.d * dv.d AS BIGINT) AS pa
        |FROM ne JOIN degfull du ON ne.u = du.n
        |JOIN degfull dv ON ne.v = dv.n
        |ORDER BY pa DESC, ne.u, ne.v LIMIT 20""".stripMargin,
    "q_graph_brokerage" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk),
        |inc AS (SELECT u AS w, v AS x FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d
        |  FROM inc GROUP BY 1 HAVING count(*) <= 64),
        |cinc AS (SELECT inc.w, x FROM inc
        |  JOIN deg ON inc.w = deg.w),
        |wedges AS (SELECT a.w, a.x AS u, b.x AS v
        |  FROM cinc a JOIN cinc b ON a.w = b.w AND a.x < b.x),
        |alls AS (SELECT w, CAST(count(*) AS BIGINT) AS n_wedges
        |  FROM wedges GROUP BY 1),
        |op AS (SELECT w, CAST(count(*) AS BIGINT) AS n_open
        |  FROM wedges WHERE NOT EXISTS (SELECT 1 FROM e0
        |    WHERE e0.u = wedges.u AND e0.v = wedges.v)
        |  GROUP BY 1)
        |SELECT alls.w AS broker, n_wedges,
        | CAST(coalesce(n_open, 0) AS BIGINT) AS n_open,
        | coalesce(n_open, 0) * 10000 // n_wedges AS openness_e4
        |FROM alls LEFT JOIN op ON alls.w = op.w
        |ORDER BY n_open DESC, broker LIMIT 20""".stripMargin,
    "q_orders_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |bn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS big_n
        |  FROM li),
        |marg AS (SELECT pk, CAST(count(*) AS BIGINT) AS np
        |  FROM li GROUP BY pk),
        |und AS (SELECT a.pk AS u, b.pk AS v,
        |   CAST(count(*) AS BIGINT) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir2 AS (SELECT u, v, n_ab FROM und
        |  UNION ALL SELECT v, u, n_ab FROM und)
        |SELECT u, v, n_ab, ma.np AS n_a, mb.np AS n_b,
        | n_ab * 10000 // ma.np AS conf_e4,
        | CAST((bn.big_n - mb.np) * ma.np * 10000
        |   // greatest(bn.big_n * (ma.np - n_ab), 1) AS BIGINT)
        |   AS conv_e4,
        | CAST((CAST(n_ab AS HUGEINT) * bn.big_n
        |   - CAST(ma.np AS HUGEINT) * mb.np) * 100000000
        |   // (CAST(bn.big_n AS HUGEINT) * bn.big_n) AS BIGINT)
        |   AS lev_e8
        |FROM dir2
        |JOIN marg ma ON ma.pk = dir2.u
        |JOIN marg mb ON mb.pk = dir2.v
        |CROSS JOIN bn
        |ORDER BY conf_e4 DESC, u, v LIMIT 10""".stripMargin,
    "q_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk
        |  FROM lineitem),
        |bn AS (SELECT count(DISTINCT o) AS big_n FROM li),
        |marg AS (SELECT pk, count(*) AS np FROM li GROUP BY pk),
        |pairs AS (SELECT a.pk AS u, b.pk AS v, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT u, v, CAST(n_ab AS BIGINT) AS n_ab,
        | CAST(ma.np AS BIGINT) AS n_a, CAST(mb.np AS BIGINT) AS n_b,
        | CAST(n_ab * bn.big_n * 10000 // (ma.np * mb.np) AS BIGINT)
        |   AS lift_e4
        |FROM pairs
        |JOIN marg ma ON ma.pk = pairs.u
        |JOIN marg mb ON mb.pk = pairs.v
        |CROSS JOIN bn
        |ORDER BY lift_e4 DESC, u, v LIMIT 20""".stripMargin,
    "q_graph_walk_sample" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) AS dg FROM e0 GROUP BY u),
        |adj AS (SELECT u, v,
        |   row_number() OVER (PARTITION BY u ORDER BY v) AS rn
        |  FROM e0),
        |hubs AS (SELECT u AS s FROM deg ORDER BY dg DESC, u LIMIT 5),
        |w1 AS (SELECT h.s, a.v AS step1
        |  FROM hubs h JOIN deg d ON d.u = h.s
        |  JOIN adj a ON a.u = h.s AND a.rn = 1 +
        |   CAST('0x' || substr(md5(h.s || '#' || '1'), 1, 15) AS BIGINT)
        |     % d.dg),
        |w2 AS (SELECT w1.s, a.v AS step2
        |  FROM w1 JOIN deg d ON d.u = w1.step1
        |  JOIN adj a ON a.u = w1.step1 AND a.rn = 1 +
        |   CAST('0x' || substr(md5(w1.step1 || '#' || '2'), 1, 15)
        |     AS BIGINT) % d.dg),
        |w3 AS (SELECT w2.s, a.v AS step3
        |  FROM w2 JOIN deg d ON d.u = w2.step2
        |  JOIN adj a ON a.u = w2.step2 AND a.rn = 1 +
        |   CAST('0x' || substr(md5(w2.step2 || '#' || '3'), 1, 15)
        |     AS BIGINT) % d.dg)
        |SELECT w1.s AS start, w1.step1, w2.step2, w3.step3
        |FROM w1 JOIN w2 ON w2.s = w1.s JOIN w3 ON w3.s = w1.s
        |ORDER BY start""".stripMargin,
    "q_graph_local_cc" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
        |hubs AS (SELECT u AS s, dg FROM deg ORDER BY dg DESC, u LIMIT 20),
        |d1 AS (SELECT h.s, e.v AS n FROM e JOIN hubs h ON e.u = h.s),
        |t2 AS (SELECT d1.s, count(*) AS t2
        |  FROM e JOIN d1 ON e.u = d1.n
        |  WHERE EXISTS (SELECT 1 FROM d1 i
        |    WHERE i.s = d1.s AND i.n = e.v)
        |  GROUP BY d1.s)
        |SELECT h.s AS node, CAST(h.dg AS BIGINT) AS degree,
        | CAST(coalesce(t2.t2, 0) // 2 AS BIGINT) AS n_tri,
        | CAST(coalesce(t2.t2, 0) * 1000000 // (h.dg * (h.dg - 1))
        |   AS BIGINT) AS lcc_e6
        |FROM hubs h LEFT JOIN t2 ON t2.s = h.s
        |ORDER BY lcc_e6 DESC, node""".stripMargin,
    "q_graph_closeness" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
        |hubs AS (SELECT u AS s, dg FROM deg ORDER BY dg DESC, u LIMIT 20),
        |d1 AS (SELECT h.s, e.v AS n FROM e JOIN hubs h ON e.u = h.s),
        |cand AS (SELECT DISTINCT d1.s, e.v AS m
        |  FROM e JOIN d1 ON e.u = d1.n),
        |d2 AS (SELECT s, count(*) AS n2 FROM cand
        |  WHERE m <> s AND NOT EXISTS (SELECT 1 FROM d1
        |    WHERE d1.s = cand.s AND d1.n = cand.m)
        |  GROUP BY s)
        |SELECT h.s AS node, CAST(h.dg AS BIGINT) AS n1,
        | CAST(coalesce(d2.n2, 0) AS BIGINT) AS n2,
        | CAST(h.dg * 1000000 + coalesce(d2.n2, 0) * 500000 AS BIGINT)
        |   AS harmonic_e6
        |FROM hubs h LEFT JOIN d2 ON d2.s = h.s
        |ORDER BY harmonic_e6 DESC, node""".stripMargin,
    "q_graph_bfs2" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |s AS (SELECT CAST(u AS BIGINT) AS n FROM
        |  (SELECT u, count(*) AS dg FROM e GROUP BY u
        |   ORDER BY dg DESC, u LIMIT 1)),
        |f1 AS (SELECT DISTINCT CAST(e.v AS BIGINT) AS n
        |  FROM e JOIN s ON e.u = s.n
        |  WHERE CAST(e.v AS BIGINT) NOT IN (SELECT n FROM s)),
        |f2 AS (SELECT DISTINCT CAST(e.v AS BIGINT) AS n
        |  FROM e JOIN f1 ON e.u = f1.n
        |  WHERE CAST(e.v AS BIGINT) NOT IN (SELECT n FROM s)
        |    AND CAST(e.v AS BIGINT) NOT IN (SELECT n FROM f1)),
        |l0 AS (SELECT CAST(0 AS BIGINT) AS dist, count(*) AS n_nodes,
        |   CAST(coalesce(sum(n), 0) AS BIGINT) AS key_sum FROM s),
        |l1 AS (SELECT CAST(1 AS BIGINT), count(*),
        |   CAST(coalesce(sum(n), 0) AS BIGINT) FROM f1),
        |l2 AS (SELECT CAST(2 AS BIGINT), count(*),
        |   CAST(coalesce(sum(n), 0) AS BIGINT) FROM f2)
        |SELECT dist, n_nodes, key_sum FROM
        | (SELECT * FROM l0 UNION ALL SELECT * FROM l1
        |  UNION ALL SELECT * FROM l2)
        |ORDER BY dist""".stripMargin,
    "q_graph_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
        |   CAST(l_suppkey AS BIGINT) AS s FROM lineitem),
        |a1r AS (SELECT s, CAST(count(*) AS BIGINT) AS raw FROM e GROUP BY s),
        |a1 AS (SELECT s, CAST(raw * 1000000
        |   // (SELECT CAST(sum(raw) AS BIGINT) FROM a1r) AS BIGINT) AS sc
        |  FROM a1r),
        |h1r AS (SELECT p, CAST(sum(sc) AS BIGINT) AS raw
        |  FROM e JOIN a1 USING (s) GROUP BY p),
        |h1 AS (SELECT p, CAST(raw * 1000000
        |   // (SELECT CAST(sum(raw) AS BIGINT) FROM h1r) AS BIGINT) AS sc
        |  FROM h1r),
        |a2r AS (SELECT s, CAST(sum(sc) AS BIGINT) AS raw
        |  FROM e JOIN h1 USING (p) GROUP BY s),
        |a2 AS (SELECT s, CAST(raw * 1000000
        |   // (SELECT CAST(sum(raw) AS BIGINT) FROM a2r) AS BIGINT) AS sc
        |  FROM a2r),
        |hubs AS (SELECT 'hub' AS kind, p AS node_key, sc AS score_e6
        |  FROM h1 ORDER BY sc DESC, p LIMIT 10),
        |auths AS (SELECT 'authority' AS kind, s AS node_key, sc AS score_e6
        |  FROM a2 ORDER BY sc DESC, s LIMIT 10)
        |SELECT kind, node_key, score_e6 FROM
        | (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
        |ORDER BY kind, score_e6 DESC, node_key""".stripMargin,
    "q_graph_assortativity" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |d AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY u),
        |p AS (SELECT dx.deg AS dxv, dy.deg AS dyv
        |  FROM e JOIN d dx ON e.u = dx.n JOIN d dy ON e.v = dy.n),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
        |   CAST(sum(dxv) AS BIGINT) AS sx,
        |   CAST(sum(dxv * dxv) AS BIGINT) AS sxx,
        |   CAST(sum(dxv * dyv) AS BIGINT) AS sxy
        |  FROM p)
        |SELECT n_dir_edges,
        | CAST((n_dir_edges * sxy - sx * sx + n_dir_edges * sxx - sx * sx)
        |   // n_dir_edges AS BIGINT) AS numpd_div_n,
        | CAST((n_dir_edges * sxx - sx * sx) // n_dir_edges AS BIGINT)
        |   AS den_div_n,
        | CAST((n_dir_edges * sxy - sx * sx + n_dir_edges * sxx - sx * sx)
        |   * 10000 // greatest(2 * (n_dir_edges * sxx - sx * sx), 1)
        |   AS BIGINT) AS assort_shift_e4
        |FROM g""".stripMargin,
    "q_graph_kcore" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey),
        |d0 AS (SELECT u, count(*) AS d FROM e GROUP BY u),
        |k1 AS (SELECT u FROM d0 WHERE d >= 100),
        |e1 AS (SELECT e.u, e.v FROM e
        |  JOIN k1 a ON e.u = a.u JOIN k1 b ON e.v = b.u),
        |d1 AS (SELECT u, count(*) AS d FROM e1 GROUP BY u),
        |k2 AS (SELECT u FROM d1 WHERE d >= 100),
        |e2 AS (SELECT e1.u, e1.v FROM e1
        |  JOIN k2 a ON e1.u = a.u JOIN k2 b ON e1.v = b.u)
        |SELECT u AS p_partkey, count(*) AS core_deg
        |FROM e2 GROUP BY u ORDER BY p_partkey""".stripMargin,
    "q_graph_lpa" ->
      s"""WITH $lpaCtes
        |SELECT lab AS community, count(*) AS n_nodes, min(n) AS min_node
        |FROM l2 GROUP BY lab
        |ORDER BY n_nodes DESC, community LIMIT 50""".stripMargin,
    "q_graph_modularity" ->
      s"""WITH $lpaCtes,
        |m2 AS (SELECT count(*) AS m2 FROM e0),
        |inc AS (SELECT la.lab AS c, count(*) AS in2
        |  FROM e0
        |  JOIN l2 la ON e0.u = la.n
        |  JOIN l2 lb ON e0.v = lb.n
        |  WHERE la.lab = lb.lab GROUP BY la.lab),
        |degc AS (SELECT l2.lab AS c, CAST(sum(d.d) AS BIGINT) AS dc
        |  FROM (SELECT u, count(*) AS d FROM e0 GROUP BY u) d
        |  JOIN l2 ON d.u = l2.n GROUP BY l2.lab)
        |SELECT count(*) AS n_comm, max(m2.m2) AS m2,
        | CAST(sum((coalesce(inc.in2, 0) * 1000000) // m2.m2
        |   - (degc.dc * degc.dc * 1000000) // (m2.m2 * m2.m2))
        |   AS BIGINT) AS q_e6
        |FROM degc
        |LEFT JOIN inc ON degc.c = inc.c
        |CROSS JOIN m2""".stripMargin,
    "q_graph_jaccard" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |deg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
        |pairs AS (SELECT a.p AS p1, b.p AS p2, count(*) AS inter
        |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
        |  GROUP BY a.p, b.p)
        |SELECT p1, p2, inter, d1.d + d2.d - inter AS uni,
        | (10000 * inter) // (d1.d + d2.d - inter) AS j_e4
        |FROM pairs
        |  JOIN deg d1 ON d1.p = pairs.p1
        |  JOIN deg d2 ON d2.p = pairs.p2
        |ORDER BY j_e4 DESC, p1, p2 LIMIT 100""".stripMargin,
    "q_graph_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p,
        |   l_suppkey * 2 + 1 AS s FROM lineitem),
        |edges AS (SELECT p AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, p FROM pairs),
        |deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank
        |  FROM deg),
        |i1 AS (SELECT e.dst AS node,
        |   150000 + (85 * CAST(sum(r.rank // d.outd) AS BIGINT)) // 100
        |     AS rank
        |  FROM edges e JOIN r0 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |i2 AS (SELECT e.dst AS node,
        |   150000 + (85 * CAST(sum(r.rank // d.outd) AS BIGINT)) // 100
        |     AS rank
        |  FROM edges e JOIN i1 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |i3 AS (SELECT e.dst AS node,
        |   150000 + (85 * CAST(sum(r.rank // d.outd) AS BIGINT)) // 100
        |     AS rank
        |  FROM edges e JOIN i2 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY e.dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
        |   ELSE 's:' || (node // 2) END AS node, rank
        |FROM i3 ORDER BY node""".stripMargin,
    "q_graph_coproj" ->
      """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem),
        |deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
        |pairs AS (SELECT a.s AS s1, b.s AS s2, count(*) AS shared
        |  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
        |  GROUP BY a.s, b.s)
        |SELECT s1, s2, shared,
        | shared * 10000 // (d1.d + d2.d - shared) AS affinity_e4
        |FROM pairs JOIN deg d1 ON d1.s = s1 JOIN deg d2 ON d2.s = s2
        |ORDER BY shared DESC, s1, s2 LIMIT 50""".stripMargin,
    "q_graph_degree_dist" ->
      """WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem),
        |d AS (SELECT 'part' AS side, count(*) AS deg FROM edges GROUP BY p
        |  UNION ALL
        |  SELECT 'supplier' AS side, count(*) AS deg FROM edges GROUP BY s)
        |SELECT side, CAST(length(bin(deg)) - 1 AS BIGINT) AS log2_bucket,
        | count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM d GROUP BY side, log2_bucket
        |ORDER BY side, log2_bucket""".stripMargin,
    "q_graph_triangles" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, count(*) AS d FROM (
        |   SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) t
        |  GROUP BY n),
        |o AS (SELECT
        |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |     THEN e0.u ELSE e0.v END AS src,
        |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |     THEN e0.v ELSE e0.u END AS dst
        |  FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
        |tri AS (SELECT o1.src AS ta, o1.dst AS tb, o2.dst AS tc
        |  FROM o o1 JOIN o o2
        |    ON o1.src = o2.src AND o1.dst < o2.dst
        |  JOIN e0 ON o1.dst = e0.u AND o2.dst = e0.v),
        |pern AS (SELECT p_partkey, count(*) AS n_tri FROM (
        |   SELECT ta AS p_partkey FROM tri
        |   UNION ALL SELECT tb FROM tri
        |   UNION ALL SELECT tc FROM tri) t
        |  GROUP BY p_partkey),
        |tot AS (SELECT count(*) AS total_tri FROM tri)
        |SELECT p_partkey, n_tri, total_tri FROM pern CROSS JOIN tot
        |ORDER BY n_tri DESC, p_partkey LIMIT 10""".stripMargin,
  )
}
