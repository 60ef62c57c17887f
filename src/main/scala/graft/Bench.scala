package graft

/** Driver timing harness. Times every `SparkEntry.queries` row (or only
  * the names given as arguments) at `$SPARK_GRAFT_SF_DIR` (default: the
  * sf0.1 fixture) with [[Sessions.timeNoop]], then prints:
  *
  *  - the detailed line: every row's seconds, `over_budget`, `wall_sec`,
  *    `cpus` and `sf`. It is also written to `BENCH_LOCAL.json`, or to
  *    `$SPARK_GRAFT_BENCH_OUT` when set;
  *  - the families line and the total line ([[tail]]), last, because the
  *    driver keeps only the last 2000 chars of stdout and parses the last
  *    line.
  *
  * Per row, a cold and a warm run go back to back and the row reads their
  * minimum; rows at or above [[Min3Sec]] get a third run. The cold run is
  * the row's own warmup, so there is no suite-wide warmup pass: at 572
  * rows a single read taken after a bulk warmup carried +21 % median
  * noise that one back-to-back re-read removes (PLANS.md), and the
  * warmup pass made the suite's wall clock ~4.3× its total. A failed run
  * makes the row -1; the total leaves it out, the total line names it,
  * and Bench exits 1.
  */
object Bench {
  /** Rows whose pair minimum reaches this get a third run: the rows where
    * one GC pause could fake a budget breach. */
  val Min3Sec = 2.0

  /** Explicit GC every this many rows; one per row cost minutes of
    * collector time at 572 rows. */
  val GcEvery = 32

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: subset of query names to bench (fast local
    // iteration; the driver invokes with no args → full suite)
    val subset = args.toSet
    val enrolled = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
    val spark = Sessions.local()
    // one timed run; -1 marks a failed query
    def timed(name: String): Double =
      try Sessions.timeNoop(spark)(enrolled(name)(spark, sfDir))
      catch { case _: Throwable => -1.0 }
    var i = 0
    val first = enrolled.map { case (name, _) =>
      if (i % GcEvery == 0) System.gc()
      i += 1
      if (i % 64 == 0) System.err.println(
        s"[bench] ${i}/${enrolled.size} at ${((System.nanoTime() - wall0) / 1e9).toInt} s wall")
      val t1 = timed(name)
      val t2 = timed(name)
      name -> (
        if (t1 < 0 || t2 < 0) -1.0
        else {
          val m = math.min(t1, t2)
          if (m < Min3Sec) m
          else { System.gc(); val t3 = timed(name)
                 // a flaky third run must not discard two valid readings
                 if (t3 < 0) m else math.min(m, t3) }
        })
    }
    // Per-row time budget: a row over it at the bench SF is surfaced like
    // a failure, in the artifact and on stderr. The default 5 s sits above
    // the most expensive by-design rows (~3–4 s at sf0.1).
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "5.0")
      .toDouble
    val results = confirm(first, budgetSec, { name =>
      System.err.println(s"[bench] confirm pass for $name (${first(name)} s)")
      System.gc()
      val times = (1 to 3).map(_ => timed(name))
      if (times.exists(_ < 0)) -1.0 else times.min
    })
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val overBudget = results.collect {
      case (name, t) if t > budgetSec => name
    }.toSeq.sorted
    if (overBudget.nonEmpty)
      System.err.println(s"[bench] OVER BUDGET (> $budgetSec s): " +
        overBudget.mkString(", "))
    val over = overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wallSec = r3((System.nanoTime() - wall0) / 1e9)
    val detailed =
      s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":$qs,"over_budget":$over,"budget_sec":$budgetSec,"wall_sec":$wallSec,"cpus":${Sessions.cpus},"sf":"$sfDir"}"""
    println(detailed)
    tail(results, sfDir).foreach(println)
    // The stdout tail cannot hold the per-query map, so the detailed line
    // is persisted too (best-effort). A subset run must not clobber the
    // full-suite artifact, so it defaults to a scratch file.
    val defaultOut =
      if (subset.isEmpty) "BENCH_LOCAL.json" else "/tmp/BENCH_SUBSET.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", defaultOut)), detailed + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (results.values.exists(_ < 0)) sys.exit(1)
  }

  /** End-of-run confirm pass. A row can breach `budget` from late-run JVM
    * pressure alone (JIT, code-cache and GC debt after 550+ codegen'd
    * plans: q_graph_components read 5.21 s in a full run and 2.12 s in a
    * fresh JVM, same plan). Each breaching row is re-timed by `retime`
    * and keeps the lower of the two readings, so a real regression, which
    * breaches both, stays loud. A failed re-time (< 0) keeps the first
    * reading. */
  def confirm(first: Map[String, Double], budget: Double,
      retime: String => Double): Map[String, Double] =
    first.map { case (name, t) =>
      if (t <= budget) name -> t
      else { val t2 = retime(name); name -> (if (t2 < 0) t else math.min(t, t2)) }
    }

  /** The families line and the total line. A family is a name's first two
    * `_`-separated parts and maps to `[rows, seconds]` over its succeeded
    * rows. The total leaves failed (-1) rows out, so a newly failing row
    * would read as a faster suite; the total line therefore names the
    * failed rows (first 20) and their count. */
  def tail(results: Map[String, Double], sfDir: String): Seq[String] = {
    val fams = results.toSeq.filter(_._2 >= 0)
      .groupBy { case (name, _) => name.split("_").take(2).mkString("_") }
      .toSeq.map { case (fam, rs) => (fam, rs.size, rs.map(_._2).sum) }
      .sortBy(-_._3)
      .map { case (fam, n, sec) => s""""$fam":[$n,${r3(sec)}]""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (name, t) if t < 0 => name }
      .toSeq.sorted
    val failedJson = failed.take(20).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    Seq(s"""{"metric":"families","families":$fams}""",
      s"""{"metric":"total","value":${total(results)},"unit":"sec","sf":"$sfDir","failed":$failedJson,"n_failed":${failed.size}}""")
  }

  private def total(results: Map[String, Double]): Double =
    r3(results.values.filter(_ >= 0).sum)

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000
}
