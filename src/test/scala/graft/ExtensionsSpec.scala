package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The `spark.sql.extensions=graft.plans.GraftExtensions` entry point:
  * as-of strategy injection and the cartesian-product guard. The suite
  * runs under [[Sessions.local]], which installs the extensions. */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = spark.stop()

  // The guard is a planner strategy: a frame is checked when it plans.
  private def plan(df: DataFrame): Unit = df.queryExecution.sparkPlan

  private def rejection(df: DataFrame): String =
    intercept[AnalysisException](plan(df)).getMessage

  // Frames are built before the threshold changes: builders may plan
  // and run their own eager steps, which must not trip the tightened
  // threshold instead of the join under test.
  private def withMaxBytes(v: String)(body: => Unit): Unit = {
    spark.conf.set("graft.cartesianGuard.maxBytes", v)
    try body finally spark.conf.unset("graft.cartesianGuard.maxBytes")
  }

  test("cartesian guard rejects big-by-big unconditioned joins") {
    val all = operators.LlmOps.embedNeardupAll(spark, sf)
    // pure theta join (no equality): also cartesian-shaped
    val emb = Tables.embeddings(spark, sf)
    val theta = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
    withMaxBytes("1000") {
      for (df <- Seq(all, theta)) {
        val msg = rejection(df)
        assert(msg.contains("[graft] Unbounded cartesian"), msg)
      }
    }
  }

  test("guard allows tiny crosses, hinted bounded probes, equi-joins") {
    val tinyCross = SparkEntry.queries("q_join_cross_small")(spark, sf)
    val hintedProbe = SparkEntry.queries("q_llm_embed_neardup")(spark, sf)
    val equiJoin = SparkEntry.queries("q_join_broadcast")(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val dim = Tables.region(spark, sf)
    val inner = broadcast(dim).join(dim.withColumnRenamed("r_name", "n2"),
      "r_regionkey")
    // a broadcast hint buried in a NESTED join must NOT waive the
    // guard for an outer unhinted cartesian
    val outer = emb.crossJoin(inner.limit(1)).crossJoin(
      emb.select(col("vec_id").as("v2")))
    plan(tinyCross) // tiny dim cross passes the default threshold
    withMaxBytes("1000") {
      // hint = the user's smallness assertion (stats can't see through
      // the probe filter) — allowed even under an aggressive threshold
      plan(hintedProbe)
      plan(equiJoin) // ordinary equi-joins are untouched
      rejection(outer)
    }
  }

  test("guard can be disabled with -1") {
    // two 80 MB ranges: rejected under the default threshold
    val cross = spark.range(10000000L).crossJoin(spark.range(10000000L))
    withMaxBytes("-1") { plan(cross) }
  }

  test("guard checks the planned join: a USING join of two sides over " +
      "maxBytes runs; their cross and theta joins are rejected; a " +
      "broadcast() side of the same size passes") {
    // Range stats: 8 bytes a row, so both sides estimate over the
    // default 64 MB. A USING join analyzes a condition-less join first,
    // which a check rule would have rejected.
    val l = spark.range(10000000L).toDF("k")
    val r = spark.range(10000000L).selectExpr("id AS k", "id * 2 AS v")
    assert(l.join(r, Seq("k")).filter(col("k") % 1000000 === 0).count() == 10)
    for (df <- Seq(l.crossJoin(r), l.join(r, l("k") < r("k")))) {
      val msg = rejection(df)
      assert(msg.contains("[graft] Unbounded cartesian"), msg)
    }
    plan(l.join(broadcast(r), l("k") < r("k")))
  }

  test("levenshtein band rule: bounded 2-arg predicates gain the " +
      "implied length band; thresholded 3-arg form is untouched; " +
      "results unchanged and idempotent") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    // distances from "aaaa": aaab=1, zzzz=4, aaaaaa=2, aab=2
    val names = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "zzzz"),
      (4L, "aaaaaa"), (5L, "aab")).toDF("id", "name")
    // direct rule application checks what the rule itself adds; the
    // session-level wiring is asserted below
    val naive = broadcast(names.as("a")).join(names.as("b"),
      expr("levenshtein(a.name, b.name) <= 2") &&
        col("a.id") < col("b.id"))
    val once = plans.LevenshteinBandRule(naive.queryExecution.analyzed)
    assert(once.toString.contains("abs((length"), once.toString)
    // idempotent: a second application adds nothing
    assert(plans.LevenshteinBandRule(once).toString == once.toString)
    // conjunction-only: banded results == naive results
    val banded = Seq((1L, 2L), (1L, 4L), (1L, 5L), (2L, 5L))
    assert(naive.select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == banded.toSet)
    // the session has the extensions installed — the optimized plan of
    // a session-built query carries the band without manual application
    val viaSession = broadcast(names.as("a")).join(names.as("b"),
      expr("levenshtein(a.name, b.name) <= 2"))
    assert(viaSession.queryExecution.optimizedPlan.toString
      .contains("abs((length"),
      viaSession.queryExecution.optimizedPlan.toString)
    // 3-arg thresholded levenshtein returns -1 past the threshold —
    // NO band may be inferred from it
    val thresholded = broadcast(names.as("a")).join(names.as("b"),
      expr("levenshtein(a.name, b.name, 1) <= 2"))
    assert(!plans.LevenshteinBandRule(
      thresholded.queryExecution.analyzed).toString.contains("abs((length"))
  }

  test("levenshtein band rule: bounds under OR / NOT imply no band — " +
      "rows satisfied by the other branch survive") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val names = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "zzzzzzzzzz"),
      (4L, "aaaaaa"), (5L, "aab")).toDF("id", "name")
    // pair (1,3) = ("aaaa","zzzzzzzzzz") matches ONLY via the second
    // disjunct, with length gap 6 — a wrongly top-level-conjoined band
    // |len(a)-len(b)| <= 2 would drop it.
    val disj = broadcast(names.as("a")).join(names.as("b"),
      expr("levenshtein(a.name, b.name) <= 2 " +
        "OR (a.id = 1 AND b.id = 3)"))
    // the rule must add no band under a disjunction...
    val disjOnce = plans.LevenshteinBandRule(
      disj.queryExecution.analyzed)
    assert(!disjOnce.toString.contains("abs((length"), disjOnce.toString)
    // ...and the session-optimized result must contain the (1,3) pair
    // that only the second disjunct admits (length gap 6 > 2)
    assert(disj.select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((1L, 3L)))
    // NOT(levenshtein <= k) is an anti-bound — no band either
    val negated = broadcast(names.as("a")).join(names.as("b"),
      expr("NOT (levenshtein(a.name, b.name) <= 2)"))
    assert(!plans.LevenshteinBandRule(negated.queryExecution.analyzed)
      .toString.contains("abs((length"))
    // CASE WHEN wrapping the bound: conditional, not implied — no band
    val cased = broadcast(names.as("a")).join(names.as("b"),
      expr("CASE WHEN a.id = b.id THEN true " +
        "ELSE levenshtein(a.name, b.name) <= 2 END"))
    assert(!plans.LevenshteinBandRule(cased.queryExecution.analyzed)
      .toString.contains("abs((length"))
    // a bound that is ONE CONJUNCT of an AND still gets its band
    val conj = broadcast(names.as("a")).join(names.as("b"),
      expr("levenshtein(a.name, b.name) <= 2 AND a.id < b.id"))
    assert(plans.LevenshteinBandRule(conj.queryExecution.analyzed)
      .toString.contains("abs((length"))
  }

  test("as-of strategy is injected: native as-of join plans and runs") {
    val df = SparkEntry.queries("q_join_asof_native")(spark, sf)
    assert(df.count() > 0)
    // physical nodes print without the Exec suffix
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("graft scalar functions are injected session-wide: a pure-SQL " +
      "session uses fvec_dot/nfc_normalize from the conf line alone") {
    // no register() call anywhere on this path — the extensions conf
    // is the only wiring, exactly the cluster deployment shape
    val r = spark.sql(
      "SELECT fvec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))," +
        " array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d," +
        " nfc_normalize('Cafe\u0301') AS n," +
        " simhash60(array(7L)) AS s").collect().head
    assert(math.abs(r.getDouble(0) - 11.0) < 1e-6, r.toString)
    assert(r.getString(1) == "Caf\u00e9", r.getString(1))
    assert(r.getLong(2) == 7L, r.toString) // one hash: sign bits = its bits
    // the sketch aggregates and the bloom pair come from the same line
    val aggs = spark.sql(
      "SELECT freq_sketch(t, 4)['a'] AS f, topk_vals(x, 2) AS k," +
        " graft_might_contain(" +
        "   (SELECT graft_bloom_agg(xxhash64(7L), 100L, 1024L))," +
        "   xxhash64(7L)) AS m" +
        " FROM VALUES ('a', 1.0D), ('a', 3.0D), ('b', 2.0D) AS v(t, x)")
      .collect().head
    assert(aggs.getLong(0) == 2L, aggs.toString)
    assert(aggs.getSeq[Double](1) == Seq(3.0, 2.0), aggs.toString)
    assert(aggs.getBoolean(2), aggs.toString)
    // and the full pure-SQL surface runs end to end through the views
    GraftCatalog.init(spark, sf)
    val topk = spark.sql("SELECT count(*) AS n FROM (" +
      "SELECT vec_id, fvec_norm(embedding) AS nrm FROM embeddings)" +
      " WHERE nrm > 0").collect().head.getLong(0)
    assert(topk > 0)
    // a session without the functions gets every one from init alone
    // (newSession() keeps this session's extensions, so drop the names
    // first)
    val plain = spark.newSession()
    Seq("fvec_dot", "fvec_norm", "simhash60", "nfc_normalize",
      "graft_bloom_agg", "graft_might_contain", "freq_sketch", "topk_vals")
      .foreach(n => plain.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    val topkSql = "SELECT topk_vals(x, 2) AS k FROM VALUES (1.0D), (3.0D)," +
      " (2.0D) AS v(x)"
    intercept[AnalysisException](plain.sql(topkSql))
    GraftCatalog.init(plain, sf)
    assert(plain.sql(topkSql).collect().head.getSeq[Double](0) ==
      Seq(3.0, 2.0))
  }

  test("SQL builders reject a non-literal k and a wrong argument count " +
      "with their contract messages") {
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val nonLiteralK = failure("SELECT freq_sketch(tok, k_col) AS mg" +
      " FROM VALUES ('a', 4), ('b', 4) AS v(tok, k_col)")
    assert(nonLiteralK.contains(
      "freq_sketch: k must be a literal (foldable) integer"), nonLiteralK)
    val threeArgs = failure("SELECT topk_vals(x, 2, 3) AS k" +
      " FROM VALUES (1.0D), (2.0D) AS v(x)")
    assert(threeArgs.contains(
      "topk_vals(col, k) takes exactly 2 arguments, got 3"), threeArgs)
  }
}
