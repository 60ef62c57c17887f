package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: subset of query names to bench (fast local
    // iteration; the driver invokes with no args → full suite)
    val subset = args.toSet
    val enrolled = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The codegen class cache holds 100 entries by default — far
      // under this suite's 572 plans, so any reading taken more than
      // ~100 plans after its warmup re-pays janino compilation
      // (~0.3–1 s/row; measured round 13 on a warmup-all-then-time-
      // once variant). The interleaved pairs below mostly dodge
      // eviction by construction, but the end-of-run confirm pass and
      // min-of-3 re-reads still benefit. Static conf: must be set at
      // session build.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // AQE coalescing stays at Spark defaults (parallelismFirst=true,
      // advisory 64m) — measured round 14, guide §1.2 step 3: forcing
      // data-sized coalescing (parallelismFirst=false, 64m advisory)
      // read 78.5 s vs 60.4 s default on a 40-row subset. The losers
      // are CPU-bound per-key folds over small shuffles (croston
      // 1.78→5.03 s, weighted_median 2.28→4.31, jaccard 1.57→3.61) —
      // at THIS suite's scale the reduce stages are compute-bound, not
      // task-overhead-bound, so byte-targeted coalescing serializes
      // real work. OPTIMIZATION_r14.md has the full A/B table.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println("[bench] codegen.cache.maxEntries = " +
      spark.conf.getOption("spark.sql.codegen.cache.maxEntries"))
    // Force FULL query execution including the final global sort:
    // .count() would let Catalyst eliminate the orderBy and prune every
    // projected expression (EliminateSorts/ColumnPruning), timing a
    // fraction of the real query. The noop V2 sink consumes every row
    // of the completed plan instead.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Boolean =
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        true
      } catch { case _: Throwable => false }
    // One timed run; CacheManager matches canonicalized plans, so a
    // re-built identical DataFrame in a later run would silently reuse
    // cached data — drop the cache eagerly, outside the timing window.
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      val ok = run(fn)
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) dt else -1.0 // -1 marks a failed query
    }
    // INTERLEAVED ADAPTIVE SCHEME (round 13 — VERDICT r12 #1: the r12
    // driver bench TIMED OUT; the old shape — sequential untimed
    // warmup pass over the whole suite + unconditional min-of-3 + a
    // System.gc() per query — ran the suite ~4.3× its reported total,
    // and at 572 rows that stopped fitting the harness wall clock).
    // Per query, back-to-back:
    //   run 1 (cold, timed): serves as ITS OWN warmup — JIT + codegen
    //     compile + footer caches land here, immediately before the
    //     reading that counts, so no suite-wide warmup pass exists.
    //   run 2 (warm, timed): the reading that counts for the ~545
    //     sub-2s rows. Reported value = min(run1, run2).
    //   runs 3+: only when that min is ≥ MIN3 (default 2 s, ~26 rows
    //     at sf0.1) — the rows where a GC pause could fake a budget
    //     breach keep min-of-3 plus the end-of-run confirm pass.
    // Explicit GC every GC_EVERY queries instead of per-query (572
    // back-to-back System.gc() calls were minutes of collector time);
    // collector debt within a pair is what run 2's min absorbs.
    //
    // Measured A/B/C at 572 rows (round 13, PLANS.md): old shape 4.3×
    // wall-to-reported (driver rc 124 ≈ 28 min); a concurrent-warmup +
    // single-timed-run variant hit 894 s wall (1.94×) but its single
    // readings carried +21 % median estimator noise (37 rows read
    // ≥1.5× their r12 values — all phantom: e.g. q_graph_bfs2
    // 0.37→1.66 s, restored by one back-to-back re-read), so it was
    // REJECTED: a clean reading needs two executions of the same plan,
    // and this shape spends the unavoidable second execution where it
    // pays — immediately before the timed one. This scheme (with the
    // codegen-cache raise above): three full 572-row runs measured
    // 385.4 / 390.7 / 368.1 s reported at 17.9–18.6 min wall
    // (2.82–2.92×), over_budget [] in all three, common-row totals at
    // 1.008× of the r12 min-of-3 closing bench — inside the measured
    // ±9 % full-suite variance floor.
    val min3Sec = sys.env.getOrElse("SPARK_GRAFT_MIN3_SEC", "2.0").toDouble
    // TEST-ONLY absorption-proof hook (round 14, VERDICT r13 #2): the
    // confirm pass below had fired exactly once in anger (prefix_join,
    // PLANS.md round 13), so its absorption of a real driver-side
    // breach was designed-but-thinly-proven. This hook inflates the
    // recorded FIRST-PASS value of named rows — no sleep, no plan
    // change, the queries run exactly as always — simulating the
    // driver-box pressure class (q_graph_components read 4.848 s in
    // the r13 driver run vs 2.143 s builder closing, same binary).
    // A forced breach must cross the budget, trigger the confirm
    // pass, and NOT survive its real re-timing. Format:
    // "name:sec,name:sec"; unset in every real run (driver sets no
    // env), so the shipped artifact can never carry an inflated row.
    val forceSlow: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_FORCE_SLOW_SEC")
        .map(_.split(",").toSeq.map { kv =>
          val Array(n, v) = kv.split(":"); n -> v.toDouble }.toMap)
        .getOrElse(Map.empty)
    val gcEvery = 32
    var i = 0
    val results0 = enrolled.map { case (name, fn) =>
      if (i % gcEvery == 0) System.gc()
      i += 1
      if (i % 64 == 0) System.err.println(
        s"[bench] ${i}/${enrolled.size} at ${((System.nanoTime() - wall0) / 1e9).toInt} s wall")
      val t1 = timed(fn)
      val t2 = timed(fn)
      val raw =
        if (t1 < 0 || t2 < 0) -1.0
        else {
          val m = math.min(t1, t2)
          if (m < min3Sec) m
          else { System.gc(); val t3 = timed(fn)
                 // two valid readings already exist — a flaky third
                 // run must not discard them (ADVICE r13): fall back
                 // to the pair minimum instead of the failed sentinel.
                 if (t3 < 0) m else math.min(m, t3) }
        }
      name -> (if (raw < 0) raw else raw + forceSlow.getOrElse(name, 0.0))
    }
    // Confirm pass (round 12, VERDICT r11 #1/#2): a row can breach the
    // budget from LATE-RUN JVM pressure alone (JIT/code-cache/GC debt
    // after 550+ codegen'd plans — r11's q_graph_components read 5.21 s
    // in the driver's full run vs 2.12 s fresh-JVM, same plan). Any
    // first-pass breach is re-timed once more at run END (min-of-3
    // again, same harness) and the row's value is the min over both
    // passes — the standard re-measure-to-confirm discipline: a real
    // cost regression breaches BOTH passes and stays loud, a pressure
    // artifact does not survive a second look.
    val budgetSec0 = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "5.0")
      .toDouble
    val results = results0.map { case (name, t) =>
      if (t <= budgetSec0) name -> t
      else {
        System.err.println(s"[bench] confirm pass for $name ($t s)")
        System.gc()
        val fn = enrolled(name)
        val times = (1 to 3).map(_ => timed(fn))
        val t2 = if (times.exists(_ < 0)) -1.0 else times.min
        name -> (if (t2 < 0) t else math.min(t, t2))
      }
    }
    // Suspect pass (round 14): the confirm pass only re-times BUDGET
    // breaches, but a sustained pressure window can inflate a row 3–5×
    // while staying under 5 s — measured on the round-14 closing runs:
    // q_llm_ivf_ann read 3.32 s (floor 0.63) through ALL THREE of its
    // executions in one run and 1.30 s in the next, q_graph_kcore
    // 3.97 s in one run only (r13 1.82) — per-run scatter that
    // inflates totals and fakes regressions without ever tripping
    // over_budget. History decides WHERE to spend re-time effort (a
    // row ≥2× its previous committed reading), never contributes a
    // VALUE: the re-time is a fresh pair from this run, min taken, so
    // a real regression reproduces and stays loud while a pressure
    // artifact collapses — the confirm-pass discipline extended below
    // the budget line. Full runs only; same-sf history only; capped
    // at the worst RETIME_MAX rows by absolute inflation.
    val retimeRatio = sys.env.getOrElse("SPARK_GRAFT_RETIME_RATIO", "2.0")
      .toDouble
    val retimeMax = sys.env.getOrElse("SPARK_GRAFT_RETIME_MAX", "12").toInt
    val retimeMinSec = sys.env.getOrElse("SPARK_GRAFT_RETIME_MIN_SEC", "1.0")
      .toDouble
    // History is read from a PINNED file the bench never writes
    // (round 15, VERDICT r14 #2/#3: the old scheme read whatever
    // BENCH_LOCAL.json held, which a full run — including the
    // driver's own — overwrites by default, so a subsequent run's
    // suspect pass would consume the previous run's output as
    // "history"). BENCH_HISTORY.json is committed, updated only by an
    // explicit human copy, and recorded per-row below with both the
    // first reading and the re-timed value so the correction's
    // magnitude is auditable in the artifact.
    // Subset runs skip the pass UNLESS the caller points at a history
    // file explicitly (SPARK_GRAFT_BENCH_HISTORY) — the testable fire
    // path.
    val history: Map[String, Double] =
      if ((subset.nonEmpty &&
            sys.env.get("SPARK_GRAFT_BENCH_HISTORY").isEmpty) ||
          retimeRatio <= 0) Map.empty
      else try {
        val path = java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.json"))
        val txt = java.nio.file.Files.readString(path)
        // written by this same main — known shape; sf must match so a
        // cross-scale artifact can't mislabel every row a suspect
        if (!txt.contains(s""""sf":"$sfDir"""")) Map.empty
        else "\"(q_[a-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val suspects = results.collect {
      case (name, t)
        if t >= retimeMinSec && t <= budgetSec0 && // breaches: confirm pass
          history.getOrElse(name, -1.0) > 0 &&
          t >= retimeRatio * history(name) =>
        (name, t, t - history(name))
    }.toSeq.sortBy(-_._3).take(retimeMax)
    // value = min(first reading, fresh this-run pair) — history never
    // contributes a value; BOTH readings are recorded in the artifact
    val retimed: Map[String, (Double, Double)] =
      suspects.map { case (name, t, _) =>
        System.err.println(f"[bench] suspect re-time for $name ($t%.2f s " +
          f"vs ${history(name)}%.2f committed)")
        val fn = enrolled(name)
        val times = Seq(timed(fn), timed(fn)).filter(_ >= 0)
        name -> (t, if (times.isEmpty) t else math.min(t, times.min))
      }.toMap
    val resultsFinal = results.map { case (name, t) =>
      name -> retimed.get(name).map(_._2).getOrElse(t) }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = resultsFinal.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // headline total sums only succeeded queries — the -1 failure
    // sentinels stay visible per-query but must not deflate the sum
    val total = r3(resultsFinal.values.filter(_ >= 0).sum)
    // Per-row time budget (round 8): any row over the threshold at the
    // bench SF is surfaced like a failure would be — in the artifact
    // AND on stderr — so a cost regression is as loud as a red row.
    // Default 5 s at sf0.1 (the most expensive by-design rows sit at
    // ~3-4 s); override with SPARK_GRAFT_BUDGET_SEC.
    val budgetSec = budgetSec0
    val overBudget = resultsFinal.collect {
      case (name, t) if t > budgetSec => name
    }.toSeq.sorted
    if (overBudget.nonEmpty)
      System.err.println(s"[bench] OVER BUDGET (> $budgetSec s): " +
        overBudget.mkString(", "))
    val over = overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wallSec = r3((System.nanoTime() - wall0) / 1e9)
    // Detailed line FIRST (per-query breakdown, ~15 KB), then a short
    // total-only line LAST: the driver captures a bounded stdout tail, so
    // the last parseable JSON line must be small enough to always fit.
    // The suspect pass records BOTH readings per re-timed row — the
    // first-pass value and the final (min over first + fresh pair) —
    // so the correction's magnitude is auditable from the artifact
    // alone (bounded: ≤ RETIME_MAX entries).
    val retimedJson = retimed.toSeq.sortBy(_._1)
      .map { case (n, (first, fin)) =>
        s""""$n":{"first":${r3(first)},"final":${r3(fin)}}""" }
      .mkString("{", ",", "}")
    val detailed =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"over_budget":$over,"budget_sec":$budgetSec,"retimed":$retimedJson,"wall_sec":$wallSec,"cpus":$cpus,"sf":"$sfDir"}"""
    println(detailed)
    // Per-family rollup (round 9, r8 verdict hygiene ask): the driver
    // keeps a bounded stdout tail, so when the ~500-row per-query map
    // truncates, this compact middle line still preserves the headline
    // family totals. Family = the q_/s_ prefix up to the second '_'.
    val fams = resultsFinal.filter(_._2 >= 0).toSeq
      .groupBy { case (name, _) =>
        name.split("_").take(2).mkString("_") }
      .toSeq.sortBy(-_._2.map(_._2).sum)
      .map { case (fam, rs) =>
        s"\"$fam\":{\"n\":${rs.size},\"sec\":${r3(rs.map(_._2).sum)}}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"families","families":$fams,"sf":"$sfDir"}""")
    // Per-query map re-emitted as bounded chunks just before the final
    // total line (round 15, VERDICT r14 #1): the single ~15 KB detailed
    // line prints FIRST, so a bounded stdout tail truncates its head and
    // the driver could not compute any per-query comparison in rounds
    // 13–14 (PERF_r14.json: per_query {}, n_common 0). Each chunk is an
    // independently parseable JSON line ≤ ~2 KB; together the chunks
    // carry the full map inside any tail that can hold the families
    // line. Addition-only: the detailed line and the final total line
    // are unchanged.
    locally {
      val entries = resultsFinal.toSeq.map { case (k, v) =>
        s""""$k":${r3(v)}""" }
      val chunks = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var curLen = 0
      entries.foreach { e =>
        if (curLen + e.length > 1800 && cur.nonEmpty) {
          chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer()
          curLen = 0
        }
        cur += e; curLen += e.length + 1
      }
      if (cur.nonEmpty) chunks += cur.toSeq
      val n = chunks.size
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"queries_part","i":${i + 1},"of":$n,""" +
          s""""queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}""")
      }
    }
    // failed rows are named on the final line (capped so it stays far
    // under the 2 000-char tail), and the run exits non-zero below:
    // the headline total leaves them out, so a newly failing row would
    // otherwise read as a faster suite
    val failed = resultsFinal.collect { case (name, t) if t < 0 => name }
      .toSeq.sorted
    val failedJson = failed.take(20).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":$failedJson,"n_failed":${failed.size}}""")
    // The driver's artifact keeps only a bounded stdout TAIL, which
    // truncated the per-query map in past rounds and left perf claims
    // unreproducible from the repo — persist the full detailed line
    // too (cwd, or $SPARK_GRAFT_BENCH_OUT when set; best-effort).
    // A SUBSET run must NOT clobber the committed full-suite artifact
    // (round 8: a 2-query iteration run silently shrank
    // BENCH_LOCAL.json to 2 rows) — subset runs land in a scratch file
    // unless SPARK_GRAFT_BENCH_OUT is set explicitly.
    val defaultOut =
      if (subset.isEmpty) "BENCH_LOCAL.json" else "/tmp/BENCH_SUBSET.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", defaultOut)), detailed + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
