package graft
import java.nio.file.{Files, Paths}

/** Scaling-curve measurement (round 8): the "designed for 100 TB" claim
  * turned into data. Runs the most expensive enrolled rows (the suite's
  * cost ceiling per BENCH_r07) at sf0.001 / sf0.01 / sf0.1 in ONE JVM
  * and records per-query wall times plus the growth exponent
  * e = log10(t(sf0.1) / t(sf0.01)) — i.e. t ∝ (corpus size)^e over the
  * decade where fixed overhead no longer dominates. A bucketed/banded
  * plan should hold e ≲ 1 (linear in corpus); an unmitigated quadratic
  * law would read e → 2. The main FAILS (exit 1) when any exponent
  * exceeds the gate, so a scale regression is as loud as a red
  * correctness row; ScaleSpec additionally gates on the committed
  * SCALING.json so the artifact can't silently go stale-red.
  *
  * Method notes: min-of-2 timed runs after one warmup pass per SF
  * (min-of-3 would triple an already multi-minute job for the same
  * decision); caches cleared between every run exactly as Bench; the
  * same noop sink so the full plan executes. The sf0.001 column is
  * recorded for the curve but NOT gated — at that scale fixed overhead
  * swamps data-dependent cost and the ratio is meaningless.
  */
object Scaling {
  /** Gate on the 0.01 → 0.1 decade. 1.3 allows bounded superlinear
    * segments (sampled-audit exact arms, triangle closing at O(m^1.5))
    * riding under linear-dominant totals; a quadratic law reads ~2. */
  val gate = 1.3

  /** The most expensive rows of the round-8 bench — every
    * multi-second family is represented (dedup cascade, LSH audits,
    * iterative graph, exact set-similarity, ANN scoreboard, fuzzy
    * decontam), plus the round-8 continuation's heaviest additions
    * (the MM leaderboard fit, the Markov-entropy composite, and the
    * fact⋈fact rank-window audit). */
  val targets: Seq[String] = Seq(
    "q_llm_dedup_cascade", "q_llm_lsh_recall", "q_graph_triangles",
    "q_graph_modularity", "q_llm_band_sweep", "q_llm_prefix_join",
    "q_llm_dup_clusters", "q_graph_lpa", "q_llm_ann_recall",
    "q_graph_kcore", "q_llm_minhash_lsh", "q_llm_decontaminate_fuzzy",
    "q_llm_bradley_terry", "q_events_markov_entropy",
    "q_dq_temporal_order",
    // J54-J68 continuation: the session's heaviest additions — the
    // char-bigram fan-out, the basket pair join (both directions),
    // the capped-wedge link predictor, and the anti-joined bridge
    // census (the last two exercise the deg-cap / orientation bounds
    // this artifact exists to certify)
    "q_llm_char_cond_entropy", "q_orders_assoc_rules",
    "q_graph_adamic_adar", "q_graph_local_bridges",
    // round-10 widening: the rare-postings pair join (the df-cap bound
    // this artifact certifies, on the trigram-shingle vocabulary), the
    // ×8 chunk fan-out of MaxSim late interaction, and the τ-sweep's
    // shared-candidate filter arms
    "q_llm_rare_shingle_pairs", "q_llm_maxsim", "q_llm_dedup_tau_sweep",
    // round-11 widening: the suite's new most expensive row — iterative
    // pointer-jumping CC over the robust co-purchase backbone (the
    // O(log diameter) claim this artifact certifies)
    "q_graph_components",
    // round-11 continuation: the tie-strength census (3·|triangles|
    // explode over the memoized tri-base — the edge-incidence fan-out
    // bound this artifact certifies)
    "q_graph_embeddedness",
    // round 15 (VERDICT r14 #6): the round-14 checkpoint win joins the
    // sweep so the O(k)-plan claim (k greedy picks, plan size constant
    // in corpus) carries measured sf evidence like the other wins
    // (bradley_terry / temporal_order / markov_entropy already sweep)
    "q_llm_mmr_rerank")

  /** Round 9: the ten heaviest rows also run at sf1 (the ScaleUp
    * replica fixture) for a FOURTH decade — `exp1` is the 0.1 → 1
    * growth exponent, gated like `exp`. Three points fit a line; four
    * prove it. */
  val sf1Targets: Seq[String] = Seq(
    "q_llm_prefix_join", "q_llm_band_sweep", "q_llm_ann_recall",
    "q_llm_lsh_recall", "q_llm_dedup_cascade", "q_graph_triangles",
    "q_graph_local_bridges", "q_graph_modularity",
    "q_llm_char_cond_entropy", "q_orders_assoc_rules",
    // round 12 (VERDICT r11 #7): the two heaviest round-11 graph rows
    // join the fourth decade — iterative pointer-doubling CC and the
    // triangle-side census carry per-row exponent gates like the rest
    // of the iterative-graph class
    "q_graph_components", "q_graph_embeddedness",
    // round 15: mmr's fourth decade proves the unrolled-greedy plan
    // stays O(k) when the candidate corpus grows 10×
    "q_llm_mmr_rerank")

  /** Per-row exponent gates TIGHTER than the global [[gate]] (round 11,
    * VERDICT r10 #8): the two rounds-9/10 watch rows — the worst sf1
    * exponents in SCALING.json (modularity 0.821, local_bridges 0.735
    * at r10 close, both linear-shape plans after the round-11 degree
    * census memo) — are pinned at ≤ 1.0 so they cannot quietly go
    * superlinear while riding under the permissive global gate. */
  val rowGates: Map[String, Double] = Map(
    "q_graph_modularity" -> 1.0,
    "q_graph_local_bridges" -> 1.0,
    // round 12: the promoted graph rows are pinned at ≤ 1.0 from
    // enrollment — CC is O(m log d) by construction, the tie-strength
    // census is O(m^1.5)-bounded by orientation but measures linear
    "q_graph_components" -> 1.0,
    "q_graph_embeddedness" -> 1.0)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val spark = Sessions.local()
    def run(name: String, sfDir: String): Double = {
      val fn = SparkEntry.queries(name)
      def once(): Double = Sessions.timeNoop(spark)(fn(spark, sfDir))
      once() // warmup (JIT + codegen + parquet footers), not recorded
      System.gc()
      math.min(once(), once())
    }
    val times: scala.collection.mutable.Map[String,
        scala.collection.mutable.Map[String, Double]] =
      scala.collection.mutable.Map(sfs.map { sf =>
        sf -> scala.collection.mutable.Map(
          targets.map(n => n -> run(n, s"$base/$sf")): _*)
      }: _*)
    // fourth decade: the ScaleUp replica fixture, when it exists (the
    // builder generates it with `runMain graft.ScaleUp`; the driver
    // environment may not carry it — the three-decade artifact stays
    // valid without it)
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "testdata-sf1")
    // sentinel = embeddings' _SUCCESS marker, the LAST file ScaleUp
    // writes (ADVICE r9): the directory alone exists the moment the
    // write STARTS, so a run killed mid-embeddings-write would pass a
    // directory probe and crash (or mis-measure) the whole gate run;
    // the commit marker only appears when the table is complete
    val haveSf1 =
      Files.exists(Paths.get(s"$sf1Dir/embeddings.parquet/_SUCCESS"))
    val timesSf1: scala.collection.mutable.Map[String, Double] =
      if (haveSf1) scala.collection.mutable.Map(
        sf1Targets.map(n => n -> run(n, sf1Dir)): _*)
      else scala.collection.mutable.Map.empty
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def gateFor(label: String): Double =
      rowGates.getOrElse(label.stripSuffix("@sf1"), gate)
    def worstDecade: Seq[(String, Double)] =
      targets.map(n =>
        (n, math.log10(times("sf0.1")(n) / times("sf0.01")(n)))) ++
      timesSf1.map { case (n, t10) =>
        (s"$n@sf1", math.log10(t10 / times("sf0.1")(n))) }.toSeq
    def violations: Seq[(String, Double)] =
      worstDecade.filter { case (n, e) => e > gateFor(n) }
    // Confirm pass (round 15 — the Bench budget-breach discipline
    // applied to the exponent gate): min-of-2-after-warmup readings
    // carry enough run-to-run scatter that an UNTOUCHED row can
    // straddle a tight per-row gate (q_graph_local_bridges@sf1 read
    // exp1 0.887 and 1.044 in back-to-back full runs of the same
    // binary). Any gate breach gets ONE fresh re-measure of BOTH
    // decade endpoints, folded in with the per-endpoint min — the
    // honest cost estimator, and symmetric on the exponent: lowering
    // the sf1 endpoint lowers it, lowering the sf0.1 endpoint raises
    // it. A true superlinear law reproduces and stays red; a pressure
    // artifact collapses.
    for ((label, e0) <- violations) {
      val n = label.stripSuffix("@sf1")
      System.err.println(f"[scaling] confirm pass for $label " +
        f"(exp $e0%.3f over gate ${gateFor(label)})")
      if (label.endsWith("@sf1")) {
        times("sf0.1")(n) = math.min(times("sf0.1")(n), run(n, s"$base/sf0.1"))
        timesSf1(n) = math.min(timesSf1(n), run(n, sf1Dir))
      } else {
        times("sf0.01")(n) = math.min(times("sf0.01")(n), run(n, s"$base/sf0.01"))
        times("sf0.1")(n) = math.min(times("sf0.1")(n), run(n, s"$base/sf0.1"))
      }
    }
    val rows = targets.map { n =>
      val t001 = times("sf0.001")(n)
      val t01 = times("sf0.01")(n)
      val t1 = times("sf0.1")(n)
      val e = math.log10(t1 / t01)
      (n, t001, t01, t1, e)
    }
    val worst = worstDecade.maxBy(_._2)
    val json = rows.map { case (n, a, b, c, e) =>
      val sf1Part = timesSf1.get(n).map { t10 =>
        s""","sf1":${r3(t10)},"exp1":${r3(math.log10(t10 / c))}"""
      }.getOrElse("")
      s""""$n":{"sf0.001":${r3(a)},"sf0.01":${r3(b)},"sf0.1":${r3(c)},"exp":${r3(e)}$sf1Part}"""
    }.mkString(
      s"""{"gate":$gate,"worst":"${worst._1}","worst_exp":${r3(worst._2)},"queries":{""",
      ",", "}}")
    Files.writeString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "SCALING.json")), json)
    println(json)
    spark.stop()
    val fin = violations
    if (fin.nonEmpty) {
      fin.foreach { case (n, e) =>
        System.err.println(f"[scaling] GATE FAILED: $n grows as " +
          f"n^$e%.2f over its last measured decade (gate ${gateFor(n)})")
      }
      sys.exit(1)
    }
  }
}
