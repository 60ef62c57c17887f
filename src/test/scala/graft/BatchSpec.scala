package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Batch-operator properties the DuckDB oracle can't express: physical
  * plan shape (pushdown, join strategy), sketch accuracy bounds,
  * idempotency (SURVEY §5.2/5.4). */
class BatchSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.local()

  // some operators (prefixJoin, LlmOps.shingles) cache a shared build
  // that Verify/Bench clear between queries — mirror that here so cached
  // blocks from one test don't stay resident for the rest of the suite
  override def afterAll(): Unit = { spark.catalog.clearCache(); spark.stop() }

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("smoke: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query and column names are sane") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle without query: ${os.diff(qs)}")
  }

  test("scan_metadata_cols provenance: exactly one file, named lineitem.parquet") {
    // the oracle pins the file name as a literal (DuckDB views can't see
    // filenames), which is tautological on provenance — this assertion is
    // the non-tautological half: if the fixture ever becomes a multi-file
    // directory (Spark would report part-file names), fail loudly here
    // instead of silently hash-mismatching the oracle
    val files = SparkEntry.queries("q_scan_metadata_cols")(spark, sf)
      .select("file").distinct().collect().map(_.getString(0))
    assert(files.toSeq == Seq("lineitem.parquet"), files.toSeq)
  }

  test("scan_prune_pushdown pushes the filter into the parquet scan") {
    val s = planString("q_scan_prune_pushdown")
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"), s)
    // pruned read: only the 3 referenced columns reach the scan
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  private def executedPlanString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    // executedPlan.toString on the AQE root prints the final plan
    // including materialized query stages
    df.queryExecution.executedPlan.toString
  }

  test("hll merge: monthly sketch build + union merge in the plan, " +
      "exact side broadcast, verdict true on every row") {
    val df = SparkEntry.queries("q_agg_hll_merge")(spark, sf)
    val rows = df.collect()
    val s = df.queryExecution.executedPlan.toString.toLowerCase
    assert(s.contains("hll_sketch_agg"), s.take(1500))
    assert(s.contains("hll_union_agg"), s.take(1500))
    assert(s.contains("broadcasthashjoin"), s.take(1500))
    assert(rows.nonEmpty && rows.forall(_.getBoolean(1)))
  }

  test("lateral subquery decorrelates to WindowGroupLimit + one join " +
      "(no per-outer-row rescan)") {
    val s = executedPlanString("q_subq_lateral")
    assert(s.contains("WindowGroupLimit"), s.take(1500))
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"),
      s.take(1500))
  }

  test("rbo + metric_stability top-ks plan as TakeOrderedAndProject, " +
      "never a global sort (round-8 plan pins)") {
    val s1 = executedPlanString("q_llm_rbo")
    assert(s1.contains("TakeOrderedAndProject"), s1.take(1500))
    val s2 = executedPlanString("q_llm_metric_stability")
    assert(s2.contains("TakeOrderedAndProject"), s2.take(1500))
  }

  test("theil_sen and asof_tolerance self/band joins stay keyed — no " +
      "cartesian product in the executed plan (round-8 plan pins)") {
    val s1 = executedPlanString("q_ts_theil_sen")
    assert(!s1.contains("CartesianProduct"), s1.take(1500))
    assert(s1.contains("HashJoin") || s1.contains("SortMergeJoin"),
      s1.take(1500))
    val s2 = executedPlanString("q_join_asof_tolerance")
    assert(!s2.contains("CartesianProduct"), s2.take(1500))
    assert(s2.contains("HashJoin") || s2.contains("SortMergeJoin"),
      s2.take(1500))
  }

  test("join_broadcast plans a broadcast hash join") {
    val s = executedPlanString("q_join_broadcast")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s)
  }

  test("join_smj honors the merge hint with a sort-merge join") {
    val s = executedPlanString("q_join_smj")
    assert(s.contains("SortMergeJoin"), s)
  }

  // The three sketch queries emit verdict columns (group, within_tol,
  // exact) so the DuckDB oracle can hash-compare them; the tests assert
  // every verdict is true AND the exact column matches an independent
  // computation — a false verdict would also fail the driver gate.

  test("agg_approx_distinct verdict true for every group, exact matches") {
    val rows = SparkEntry.queries("q_agg_approx_distinct")(spark, sf)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val exact = SparkEntry.queries("q_agg_count_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (k, within, n) =>
      assert(within, s"$k: HLL estimate outside 5% of exact $n")
      assert(n == exact(k), s"$k: exact col $n != ${exact(k)}")
    }
  }

  test("agg_approx_distinct pin: sketches keyed by event_type, none per user") {
    // Sketching beside a countDistinct would make the single-distinct
    // rewrite carry a sketch buffer in every (event_type, user_id) group.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      HllSketchAgg, HyperLogLogPlusPlus}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val aggs = SparkEntry.queries("q_agg_approx_distinct")(spark, sf)
      .queryExecution.sparkPlan.collect { case a: BaseAggregateExec => a }
    def keys(a: BaseAggregateExec): Set[String] =
      a.groupingExpressions.map(_.name).toSet
    def sketches(a: BaseAggregateExec) =
      a.aggregateExpressions.map(_.aggregateFunction).filter {
        case _: HllSketchAgg | _: HyperLogLogPlusPlus => true
        case _ => false
      }
    aggs.filter(a => keys(a).contains("user_id")).foreach { a =>
      assert(sketches(a).isEmpty, s"sketch grouped by ${keys(a)}:\n$a")
    }
    val sketched = aggs.filter(a => sketches(a).nonEmpty)
    assert(sketched.nonEmpty, aggs.mkString("\n"))
    sketched.foreach { a =>
      assert(keys(a) == Set("event_type"), s"keys ${keys(a)}:\n$a")
      assert(sketches(a).forall(_.isInstanceOf[HllSketchAgg]), a.toString)
    }
  }

  test("dataset_card: no Expand in the optimized plan, card columns unchanged") {
    // an Expand orders its distinct-aggregate slots by JVM history, so
    // the same row could plan two ways
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    val df = SparkEntry.queries("q_llm_dataset_card")(spark, sf)
    val expands = df.queryExecution.optimizedPlan.collect { case e: Expand => e }
    assert(expands.isEmpty, df.queryExecution.optimizedPlan.toString)
    assert(df.columns.toSeq == Seq("lang", "n_docs", "n_tokens", "n_sources",
      "dup_rate_e4", "mean_q_e4", "top_source", "top_source_docs"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(7) <= r.getLong(1), r.toString)
    }
  }

  test("str_collation, dq_profile, cramers_v, dow_hour: no Expand in " +
      "the optimized plan") {
    // each counts distinct values of more than one column; planned as
    // several distinct aggregates, the Expand slot order would vary
    // with JVM history
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    for (name <- Seq("q_str_collation", "q_dq_profile", "q_events_cramers_v",
        "q_events_dow_hour")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution
        .optimizedPlan
      assert(plan.collect { case e: Expand => e }.isEmpty, s"$name\n$plan")
    }
    val Array(r) = SparkEntry.queries("q_str_collation")(spark, sf).collect()
    assert(r.getLong(0) < r.getLong(1) && r.getBoolean(2), r)
  }

  test("ntile_share: no per-partition offset literal in the optimized " +
      "plan, and the quartiles are ntile(4) over the same order") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, Literal}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_win_ntile_share")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    val partLiterals = plan.flatMap(_.expressions.flatMap(_.collect {
      case e @ EqualTo(a: AttributeReference, _: Literal)
          if a.name == "part" => e
      case e @ EqualTo(_: Literal, a: AttributeReference)
          if a.name == "part" => e
    }))
    assert(partLiterals.isEmpty, plan.toString)
    val got = df.select("o_orderkey", "quartile").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Tables.orders(spark, sf)
      .select(col("o_orderkey"), ntile(4).over(
        Window.orderBy(col("o_totalprice").desc, col("o_orderkey")))
        .as("q"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty && got == want)
  }

  test("approx_percentile verdict true for every group") {
    val rows = SparkEntry.queries("q_agg_approx_percentile")(spark, sf)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, within, n) =>
      assert(within, s"$k: sketch quartile outside 5% of exact (n=$n)")
    }
  }

  test("stratified sample is seeded-deterministic with verdicts true") {
    val a = SparkEntry.queries("q_llm_stratified_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
      .toSeq
    val b = SparkEntry.queries("q_llm_stratified_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
      .toSeq
    assert(a == b) // same seed -> identical sample
    assert(a.nonEmpty)
    val totals = graft.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    a.foreach { case (lang, within, nTotal) =>
      assert(within, s"$lang: realized rate outside 3 sigma of target")
      assert(nTotal == totals(lang), s"$lang: n_total $nTotal wrong")
    }
  }

  test("embed_neardup bounded == exact all-pairs restricted to window") {
    // The enrolled query bounds the probe side (a_id < 250) so its plan
    // is a broadcast NLJ with a bounded build side; this cross-checks it
    // against the unbounded exact form, which stays ScalaTest-only.
    val bounded = SparkEntry.queries("q_llm_embed_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactW = operators.LlmOps.embedNeardupAll(spark, sf)
      .filter("a_id < 250")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bounded.nonEmpty)
    assert(bounded == exactW)
  }

  test("enrolled embed_neardup plan has no unbounded cartesian") {
    val s = executedPlanString("q_llm_embed_neardup")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("join_shj honors the shuffle_hash hint: hash join after " +
      "exchange, no sort on either input") {
    val s = executedPlanString("q_join_shj")
    assert(s.contains("ShuffledHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("bloom prefilter: might_contain guards the fact scan, result " +
      "identical to the plain join (false positives removed)") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("q_join_bloom_prefilter")(spark, sf)
    assert(df.queryExecution.executedPlan.toString
      .contains("might_contain"))
    val plain = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 400000.0),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == plain)
  }

  test("frame builders that use graft's functions leave the session's " +
      "function registry and table list untouched") {
    import org.apache.spark.sql.functions.{col, explode, lit, split}
    val s = spark.newSession()
    // drop graft's SQL functions, which the extensions installed: a
    // builder that registered one would then show up in the registry
    plans.GraftExtensions.sqlFunctions.foreach { case (id, _, _) =>
      s.sessionState.functionRegistry.dropFunction(id) }
    def state = (
      s.sessionState.functionRegistry.listFunction().map(_.unquotedString)
        .sorted,
      s.catalog.listTables().collect().map(_.name).sorted.toSeq)
    val before = state
    // one row per graft function: bloom agg + might_contain, nfc,
    // simhash60, fvec_dot/fvec_norm, freq_sketch, topk_vals
    Seq("q_join_bloom_prefilter", "q_str_nfc_norm", "q_llm_simhash",
      "q_llm_cosine_topk", "q_llm_heavy_hitters", "q_llm_mrl_recall",
      "q_llm_cluster_purity", "q_agg_topk_values", "q_llm_kmeans_step")
      .foreach(n => SparkEntry.queries(n)(s, sf).collect())
    // the streaming builders, driven over static frames
    val docs = graft.Tables.documents(s, sf).select(col("doc_id"), col("text"))
    streaming.StreamDedup.dedupAgainstStore(docs,
      streaming.StreamDedup.bandBloom(docs)).collect()
    streaming.StreamingOps.streamHeavyHitters(docs.select(col("doc_id"),
      lit("en").as("lang"), explode(split(col("text"), " ")).as("tok")), 8)
      .collect()
    val vecs = graft.Tables.embeddings(s, sf).filter(col("vec_id") < 40)
      .select(col("vec_id"), lit(0L).as("ts"), col("embedding").as("v"))
    val cents = functions.IvfQuantizer.sampledCentroids(
      vecs.withColumn("norm", lit(1.0)))
    val store = java.nio.file.Files.createTempDirectory("ivf_untouched")
      .resolve("store").toString
    streaming.VectorIngest.assign(vecs, cents).withColumn("batch_id", lit(0L))
      .write.partitionBy("bucket", "batch_id").parquet(store)
    streaming.VectorIngest.probeStore(s, store,
      Array.fill(64)(0.1f), cents, nprobe = 2, k = 3).collect()
    assert(state == before)
  }

  test("full outer join plans a sort-merge FullOuter (cannot broadcast)") {
    val s = executedPlanString("q_join_full_outer")
    assert(s.contains("FullOuter"), s)
    assert(s.contains("SortMergeJoin"), s)
  }

  test("ivf_ann: bucketed probe is an equi-join, no unbounded cartesian") {
    val s = executedPlanString("q_llm_ivf_ann")
    assert(!s.contains("CartesianProduct"), s)
    // centroid assignment is the only nested-loop, and it is broadcast
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("pq_quantize: centroid side broadcasts, no cartesian") {
    val s = executedPlanString("q_llm_pq_quantize")
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("decontaminate: hashed-gram equi-join, distinct build side, no cartesian") {
    val s = executedPlanString("q_llm_decontaminate")
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    // the benchmark side must be deduplicated BEFORE the join
    // (HashAggregate pair under the join's build side)
    assert(s.contains("HashAggregate"), s)
  }

  test("incr_dedup: anti-join on digests, batch aggregates before probing") {
    val s = executedPlanString("q_llm_incr_dedup")
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("win_topk_per_group gets the WindowGroupLimit pushdown " +
      "(rank<=k filtered BEFORE the full window sort buffers)") {
    val s = executedPlanString("q_win_topk_per_group")
    assert(s.contains("WindowGroupLimit"), s)
  }

  test("ntile_share plans no single-partition window exchange") {
    // the quartile must come from the two-pass range-partitioned rank,
    // never from a global Window.orderBy (Exchange SinglePartition)
    val s = executedPlanString("q_win_ntile_share")
    assert(!s.contains("SinglePartition"), s)
  }

  test("sessionize_batch (lag+cumsum) matches built-in session_window") {
    // two independent algorithms, one semantic: per-user sessions split
    // on >30 min gaps. The enrolled query reconstructs sessions with
    // lag + running-sum (oracle-expressible); Spark's session_window is
    // the engine-native form. Their (user, n_events, start) sets must
    // agree exactly.
    import org.apache.spark.sql.functions._
    val a = operators.Reshape.sessionizeBatch(spark, sf)
      .select(col("user_id"), col("n_events"), col("start_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        expr("unix_micros(session_window.start)").as("start_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("connectedComponents collapses a 60-node chain to one cluster") {
    // diameter 59 — neighbor-min alone would need 59 rounds and
    // previously exited the cap silently wrong; pointer jumping
    // converges in O(log diameter)
    import spark.implicits._
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val (ccDf, rounds) =
      operators.LlmOps.connectedComponentsWithRounds(edges)
    val cc = ccDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 60)
    assert(cc.forall(_._2 == 0L), cc.filter(_._2 != 0L).take(5).toSeq)
    // pointer jumping: label depth halves per round, so a 59-diameter
    // chain must converge in O(log d) rounds, not O(d). 12 = log2(59)
    // ≈6 plus convergence-detection slack (checks run every 2 rounds).
    assert(rounds <= 12, s"expected O(log d) rounds, got $rounds")
  }

  test("connectedComponents reliable-checkpoint path matches local") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (22L, 23L)).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
      .toString
    val viaLocal = operators.LlmOps.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaReliable = operators.LlmOps
      .connectedComponentsWithRounds(edges, checkpointDir = Some(dir))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaReliable == viaLocal)
    assert(viaReliable.nonEmpty)
  }

  test("ivf recall vs brute force is monotone in nprobe (1 <= 2 <= 4)") {
    // widening the probe's candidate pool to its nprobe nearest
    // inverted lists can only add candidates, so top-3 recall vs the
    // brute-force truth is monotone in nprobe — the knob a real ANN
    // user tunes (nprobe=4 is the enrolled production operating point)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("probe_id")),
        r.getLong(r.fieldIndex("vec_id")))).toSet
    val brute = pairs(SparkEntry.queries("q_llm_cosine_topk")(spark, sf)
      .filter("rank <= 3"))
    val p1 = pairs(operators.LlmOps.ivfAnn(spark, sf, nprobe = 1))
    val p2 = pairs(operators.LlmOps.ivfAnn(spark, sf, nprobe = 2))
    val p4 = pairs(operators.LlmOps.ivfAnn(spark, sf, nprobe = 4))
    assert(brute.nonEmpty && p1.nonEmpty)
    val r1 = p1.intersect(brute).size.toDouble / brute.size
    val r2 = p2.intersect(brute).size.toDouble / brute.size
    val r4 = p4.intersect(brute).size.toDouble / brute.size
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    assert(r4 >= r2, s"nprobe=4 recall $r4 < nprobe=2 recall $r2")
  }

  test("dedup is idempotent: q(q(x)) == q(x) semantics") {
    val once = SparkEntry.queries("q_dedup_rows")(spark, sf)
    // re-deduping the deduped keys yields identical key multiplicity 1
    val twice = once.groupBy("user_id", "event_type").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
    assert(twice.count() == 0)
  }

  test("minhash-LSH candidates are a subset of exact jaccard pairs") {
    val exact = SparkEntry.queries("q_llm_shingle_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_llm_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH invented pairs: ${lsh.diff(exact)}")
    // and at these band settings recall should be high on this corpus
    assert(exact.isEmpty || lsh.size >= (0.8 * exact.size).toInt,
      s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("lsh_ann neighbors are true neighbors (cosine agrees with brute force)") {
    val brute = SparkEntry.queries("q_llm_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val ann = SparkEntry.queries("q_llm_lsh_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // every ANN hit must carry the same cosine the brute-force pass
    // computed when it ranked that candidate (no score corruption)
    ann.foreach { case (p, v, c) =>
      brute.get((p, v)).foreach(b => assert(math.abs(b - c) < 1e-9)) }
  }

  test("native as-of join operator matches the composed window form") {
    val composed = SparkEntry.queries("q_join_asof")(spark, sf)
      .collect().map(_.toString).toSeq
    val native = SparkEntry.queries("q_join_asof_native")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(native == composed)
    // and the custom physical operator is actually in the plan
    val df = SparkEntry.queries("q_join_asof_native")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("union/intersect/except algebra") {
    import org.apache.spark.sql.functions.col
    val u = SparkEntry.queries("q_union_distinct")(spark, sf)
      .collect().map(_.getInt(0)).toSet
    val i = SparkEntry.queries("q_intersect")(spark, sf)
      .collect().map(_.getInt(0)).toSet
    val e = SparkEntry.queries("q_except")(spark, sf)
      .collect().map(_.getInt(0)).toSet
    assert(i.subsetOf(u)); assert(e.subsetOf(u))
    assert((i & e).isEmpty)
    val cust = graft.Tables.customer(spark, sf)
      .select(col("c_nationkey")).distinct().collect()
      .map(_.getInt(0)).toSet
    assert((i | e) == cust)
  }

  test("rollup leaves sum to grand total") {
    val rows = SparkEntry.queries("q_agg_rollup")(spark, sf).collect()
    val leaves = rows.filter(r => r.getInt(4) == 0 && r.getInt(5) == 0)
      .map(_.getDouble(2)).sum
    val total = rows.filter(r => r.getInt(4) == 1 && r.getInt(5) == 1)
      .map(_.getDouble(2)).head
    assert(math.abs(leaves - total) < 0.05, s"$leaves vs $total")
  }

  test("stripHtml decodes entity-bearing text exactly once " +
      "(no double-decode of &amp;-escaped entities)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // &amp;lt; is the ESCAPED text "&lt;" — must survive as literal
      // &lt;, not be double-decoded and then stripped
      ("<p>a &amp;lt; b</p>", "a &lt; b"),
      ("x &amp; y", "x & y"),
      ("a&nbsp;b&#33;", "a b!"),
      // a real unknown entity is stripped to whitespace
      ("c &copy; d", "c d"),
      ("<div class=\"x\">t</div>", "t"))
    val got = rows.map(_._1).toDF("h")
      .select(graft.operators.LlmOps.stripHtml(col("h")).as("s"))
      .collect().map(_.getString(0))
    assert(got.toSeq == rows.map(_._2))
  }

  // ---- round 4: model-prep operators ----

  test("kmeans_step: centroid side broadcasts (BNLJ), no cartesian; " +
      "every vector lands in exactly one cluster") {
    val s = executedPlanString("q_llm_kmeans_step")
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    val rows = SparkEntry.queries("q_llm_kmeans_step")(spark, sf).collect()
    // 8 clusters × 4 dims at most; membership totals = vector count
    assert(rows.length <= 32)
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    val perDim = rows.groupBy(_.getInt(1)).view
      .mapValues(_.map(_.getLong(2)).sum)
    perDim.foreach { case (dim, tot) =>
      assert(tot == nVecs, s"dim $dim membership $tot != $nVecs")
    }
  }

  test("minhash_est: estimate within MG-style sketch tolerance of exact " +
      "on candidate pairs (and bit-exact vs its own oracle arithmetic)") {
    val rows = SparkEntry.queries("q_llm_minhash_est")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(3), r.getDouble(4))
      // candidates come from 2-row bands, so est is biased high on true
      // near-dups; 16 perms → σ ≈ 0.125. 4σ sanity envelope.
      assert(math.abs(est - exact) <= 0.5,
        s"pair (${r.getLong(0)},${r.getLong(1)}): est $est vs exact $exact")
    }
  }

  test("quality_logreg: keep ⟺ score >= 0.5 (softsign is monotone)") {
    val rows = SparkEntry.queries("q_llm_quality_logreg")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getDouble(2) >= 0.5), r.toString)
    }
  }

  test("url_canon: canonical form is parseable and host-lowercased") {
    val rows = SparkEntry.queries("q_llm_url_canon")(spark, sf).collect()
    rows.foreach { r =>
      val (host, canon) = (r.getString(1), r.getString(2))
      assert(host == host.toLowerCase)
      assert(canon.startsWith(s"https://$host/"), canon)
      assert(!canon.contains("utm_") && !canon.contains("#") &&
        !canon.contains(":443"), canon)
    }
  }

  test("scd2_merge: intervals per user are disjoint, ordered, and " +
      "exactly one open (current) row per user") {
    val rows = SparkEntry.queries("q_scd2_merge")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (user, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"user $user")
      assert(sorted.count(_._4 == -1L) == 1, s"user $user open rows")
      sorted.sliding(2).foreach {
        case Array((_, _, _, to1), (_, _, from2, _)) if to1 != -1L =>
          assert(to1 == from2 - 1, s"user $user gap: $to1 vs $from2")
        case _ =>
      }
    }
  }

  test("pagerank: equi-join plan (no cartesian), ranks bounded, " +
      "every node scored") {
    val s = executedPlanString("q_graph_pagerank")
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    val rows = SparkEntry.queries("q_graph_pagerank")(spark, sf).collect()
    val nNodes = graft.Tables.lineitem(spark, sf)
      .selectExpr("l_partkey").distinct.count() +
      graft.Tables.lineitem(spark, sf).selectExpr("l_suppkey")
        .distinct.count()
    assert(rows.length == nNodes)
    // every rank >= the damping base; integer truncation only loses
    // mass, so total can never exceed the initial N * 1e6
    assert(rows.forall(_.getLong(1) >= 150000L))
    assert(rows.map(_.getLong(1)).sum <= nNodes * 1000000L)
  }

  test("pagerankConverged: eps=0 depth-3 run reproduces the unrolled " +
      "query bit-for-bit; free-running converges and is eps-stationary") {
    import graft.operators.Graph
    // (1) the driver loop and the unrolled declarative plan are the SAME
    // exact-integer update: forcing exactly 3 iterations must reproduce
    // q_graph_pagerank row-for-row (both orderBy node)
    val unrolled = SparkEntry.queries("q_graph_pagerank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (fixed3, it3) = Graph.pagerankConverged(spark, sf,
      epsMicro = 0L, maxIter = 3)
    assert(it3 == 3)
    assert(fixed3.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == unrolled)
    // (2) free-running: converges well before the cap, and one extra
    // step past the convergence point moves no rank by more than eps.
    // eps=10⁵ micro (10% of initial rank): the bipartite oscillation's
    // first delta is ~1.7e7 and decays ×0.85/step (see Graph scaladoc),
    // so expected depth ≈ log(170)/log(1/0.85) ≈ 32 — cap at 40.
    val eps = 100000L
    val (converged, it) = Graph.pagerankConverged(spark, sf,
      epsMicro = eps, maxIter = 40, failOnMaxIter = true)
    assert(it < 40, s"took all $it iterations")
    val (onceMore, _) = Graph.pagerankConverged(spark, sf,
      epsMicro = 0L, maxIter = it + 1)
    val a = converged.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val b = onceMore.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k, v) => math.abs(v - b(k)) <= eps },
      "post-convergence step moved a rank by more than eps")
  }

  test("enrolled-query census: every query has an oracle and the " +
      "documented count matches the code (no figure drift)") {
    // README.md / SURVEY.md §2.1 state this number; rounds 4 AND 5 both
    // shipped with stale docs, so the figure is now pinned here — when
    // enrolling a query, update the docs and this constant together
    val documented = 572
    assert(SparkEntry.queries.size == documented,
      s"queries.size=${SparkEntry.queries.size} != documented " +
        s"$documented — update README.md, SURVEY.md §2.1, and this test")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      "queries without oracle: " +
        (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) +
        "; oracles without query: " +
        (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet))
  }

  test("pagerankConverged: empty graph converges to zero rows, no NPE") {
    import graft.operators.Graph
    // zero-row lineitem with the real schema: max(|Δ|) aggregates to
    // NULL on the first iteration — must read as converged, not NPE
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_li")
      .toFile.getAbsolutePath
    graft.Tables.lineitem(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val (out, it) = Graph.pagerankConverged(spark, dir,
      epsMicro = 100L, maxIter = 5, failOnMaxIter = true)
    assert(out.count() == 0L)
    assert(it == 1)
  }

  test("triangles: K4 basket yields exactly 4 triangles with every " +
      "node in 3; a bare edge contributes none") {
    import spark.implicits._
    // order 1 buys parts {1,2,3,4} → K4 (C(4,3)=4 triangles, each node
    // on 3 of them); order 2 buys {10,11} → a single closing-less edge
    val dir = java.nio.file.Files.createTempDirectory("graft_tri_li")
      .toFile.getAbsolutePath
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 10L), (2L, 11L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.operators.Graph.triangles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq ==
      Seq((1L, 3L, 4L), (2L, 3L, 4L), (3L, 3L, 4L), (4L, 3L, 4L)),
      rows.mkString(","))
  }

  test("bm25: hand-computed scores match on a 3-doc fixture and " +
      "term-free docs are excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_docs")
      .toFile.getAbsolutePath
    Seq((1L, "join join vector"), (2L, "scan"), (3L, "aa bb cc dd"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.LlmOps.bm25TopDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // n=3, avgdl=8/3; each term appears in exactly one doc → shared idf
    val avgdl = 8.0 / 3.0
    val idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    def term(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val d1 = term(2, 3) + term(1, 3) // join×2 + vector, dl=3
    val d2 = term(1, 1)              // scan, dl=1
    assert(out.map(_._1) == Seq(2L, 1L).sortBy(id =>
      -(if (id == 1) d1 else d2)), out.mkString(","))
    val byId = out.toMap
    assert(math.abs(byId(1L) - d1) <= 1e-4, s"doc1 ${byId(1L)} vs $d1")
    assert(math.abs(byId(2L) - d2) <= 1e-4, s"doc2 ${byId(2L)} vs $d2")
    assert(!byId.contains(3L), "term-free doc leaked into results")
  }

  test("hybrid_rrf: fused score recomputes from the emitted ranks and " +
      "every row has at least one arm") {
    val rows = SparkEntry.queries("q_llm_hybrid_rrf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val den = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(lex.nonEmpty || den.nonEmpty, s"rank-less row: $r")
      val expected = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        den.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(1) - expected) <= 1e-6,
        s"rrf ${r.getDouble(1)} != recomputed $expected for $r")
    }
    // fused order is rrf desc with doc_id tie-break — already sorted
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse, scores.mkString(","))
  }

  test("triplet_mine: hand-checkable 4-vector fixture picks the " +
      "least-similar positive and most-similar negative") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trip_emb")
      .toFile.getAbsolutePath
    // label 0: v0=(1,0), v1=(.9,.1); label 1: v2=(0,1), v3=(-1,0)
    // probe 0: pos {1}; negs cos=(v2: 0, v3: -1) -> hardest neg = 2
    // probe 3: pos {2} (cos 0); negs cos=(v0: -1, v1: -.99) -> neg = 1
    Seq((0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(-1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.operators.LlmOps.tripletMine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.toSeq ==
      Seq((0L, 1L, 2L), (1L, 0L, 2L), (2L, 3L, 1L), (3L, 2L, 1L)),
      rows.mkString(","))
    // margin recomputes from the emitted cosines on every row
    graft.operators.LlmOps.tripletMine(spark, dir).collect().foreach { r =>
      val m = BigDecimal(r.getDouble(4) - r.getDouble(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - m) <= 1e-6, r.toString)
    }
  }

  test("mmr_rerank: plain-Scala greedy MMR over collected vectors " +
      "reproduces the plan's picks bit-for-bit") {
    // independent reimplementation: same rounding (HALF_UP @6 -> e6
    // micro-units), same shifted-nonneg integer update, driver-side
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cosE6(a: Array[Double], b: Array[Double]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val c = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      val r6 = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      math.floor(r6.toDouble * 1000000 + 0.5).toLong
    }
    val probe = vecs(7L)
    val cand = vecs.toSeq.filter(_._1 != 7L)
      .map { case (id, v) => (id, cosE6(probe, v)) }
      .sortBy { case (id, rel) => (-rel, id) }.take(10)
    val relOf = cand.toMap
    var picked = Vector(cand.minBy { case (id, rel) => (-rel, id) }._1)
    while (picked.size < 5) {
      val next = cand.filterNot(c => picked.contains(c._1))
        .map { case (id, rel) =>
          val maxsim = picked.map(p => cosE6(vecs(id), vecs(p))).max
          (id, (7 * (rel + 1000000L) + 3 * (1000000L - maxsim)) / 10
            - 1000000L)
        }.minBy { case (id, s) => (-s, id) }
      picked = picked :+ next._1
    }
    val got = SparkEntry.queries("q_llm_mmr_rerank")(spark, sf).collect()
      .map(r => r.getLong(1)).toVector
    assert(got == picked, s"plan $got != scala $picked")
    // rank 1 is the pure-relevance argmax by convention
    assert(relOf(got.head) == cand.map(_._2).max)
  }

  test("dsir_weights: the importance-weighted top-25 is dominated by " +
      "the target language and scores are strictly ordered") {
    val out = SparkEntry.queries("q_llm_dsir_weights")(spark, sf).collect()
    assert(out.length == 25)
    val scores = out.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse, scores.mkString(","))
    val langs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nEn = out.count(r => langs(r.getLong(0)) == "en")
    // hashed-bigram log-ratios against the en target must surface
    // overwhelmingly-en docs (measured: 25/25 at sf0.001, 24/25 sf0.01)
    assert(nEn >= 20, s"only $nEn/25 target-language docs in top-25")
  }

  test("jsonl gzip roundtrip actually writes gzip shards " +
      "(codec engaged, not silently plain-text)") {
    SparkEntry.queries("q_source_jsonl_gzip")(spark, sf).collect()
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_scratch/jsonlgz")
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty, s"no part files in $dir")
    assert(parts.forall(_.getName.endsWith(".json.gz")),
      parts.map(_.getName).mkString(","))
  }

  test("coproj: equi-join on part (no cartesian), pairs canonical s1<s2, " +
      "affinity bounded by 10^4") {
    // the a.s < b.s predicate must ride the p=p equi-join as a residual,
    // never degrade the join to a cartesian
    val s = planString("q_graph_coproj")
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    val rows = SparkEntry.queries("q_graph_coproj")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (s1, s2, _, _) => s1 < s2 })
    // Jaccard affinity is shared/(d1+d2-shared) ≤ 1 by construction
    assert(rows.forall { case (_, _, sh, aff) => sh >= 1 && aff <= 10000 })
  }

  test("semdedup: smallest vec_id per cluster is always kept; " +
      "drops only happen with an in-cluster smaller-id neighbor") {
    val rows = SparkEntry.queries("q_llm_semdedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    rows.groupBy(_._2).foreach { case (cl, vs) =>
      val minId = vs.map(_._1).min
      assert(vs.find(_._1 == minId).get._3, s"cluster $cl min not kept")
    }
    assert(rows.forall(v => v._3 || v._1 > rows.filter(_._2 == v._2)
      .map(_._1).min))
  }

  test("csv malformed: PERMISSIVE keeps good rows, flags bad ones, " +
      "never fails the job") {
    val rows = SparkEntry.queries("q_source_csv_malformed")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val (bad, good) = rows.partition(_.getBoolean(2))
    assert(bad.nonEmpty && good.nonEmpty)
    assert(bad.forall(_.isNullAt(0)))   // corrupt key column nulled
    assert(good.forall(!_.isNullAt(0)))
  }

  test("ivm_agg_merge: merged partials agree with full recompute " +
      "for every group") {
    val rows = SparkEntry.queries("q_ivm_agg_merge")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), rows.mkString("; "))
  }

  test("ts_interp_linear: observed days keep day_val; interpolated gap " +
      "values lie between their bracketing observations") {
    import org.apache.spark.sql.functions.col
    val interp = SparkEntry.queries("q_ts_interp_linear")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(3),
        r.getDouble(4)))
    interp.groupBy(_._1).foreach { case (_, days) =>
      val seq = days.sortBy(_._2)
      // first/last grid day are observed by construction
      assert(!seq.head._3 && !seq.last._3)
      var lastObs = seq.head._4
      seq.zipWithIndex.foreach { case ((_, _, gap, v), i) =>
        if (gap) {
          val nextObs = seq.drop(i).find(!_._3).get._4
          val (lo, hi) = (math.min(lastObs, nextObs) - 1e-4,
            math.max(lastObs, nextObs) + 1e-4)
          assert(v >= lo && v <= hi, s"interp $v outside [$lo,$hi]")
        } else lastObs = v
      }
    }
  }

  test("funnel_stages: the window chain reuses ONE user_id exchange " +
      "(three chained stage minima add no extra shuffle)") {
    // formatted explain prints the plan once (executedPlan.toString under
    // AQE repeats the pre-adaptive subtree and double-counts exchanges)
    def plan(s: SparkSession) = SparkEntry.queries("q_funnel_stages")(s, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def userExchanges(p: String) = "hashpartitioning\\(user_id".r
      .findAllIn(p).size
    // at a minimum partition size of 1 byte the events scan is planned as
    // Spark plans it, and the windows and the aggregate share one
    // exchange; under the default gate the one-split scan already reports
    // the one partition, so the chain plans none
    val ranged = spark.newSession()
    ranged.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    val s = plan(ranged)
    assert(userExchanges(s) == 1, s"expected 1 user_id exchange:\n${s.take(2000)}")
    val one = plan(spark)
    assert(userExchanges(one) == 0, s"one-split scan:\n${one.take(2000)}")
    val row = SparkEntry.queries("q_funnel_stages")(spark, sf).collect().head
    // funnel is monotone: users ≥ signup ≥ purchase-after ≥ error-after
    assert(row.getLong(0) >= row.getLong(1) && row.getLong(1) >= row.getLong(2)
      && row.getLong(2) >= row.getLong(3), row.toString)
  }

  test("cohort_retention: offset-0 rows are the cohort itself " +
      "(retention exactly 10000) and retention never exceeds it") {
    val rows = SparkEntry.queries("q_cohort_retention")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (offset, ret) =>
      if (offset == 0L) assert(ret == 10000L, s"offset 0 retention $ret")
      assert(ret <= 10000L)
    }
  }

  test("attr_last_touch: 'purchase' is never an attribution channel, " +
      "and conversions sum to the purchase count") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_attr_last_touch")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(0) == "purchase"))
    val nPurchases = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum == nPurchases)
  }

  test("diag_range_bounds: bucket shares cover the table and the " +
      "stats side broadcasts (no cartesian)") {
    val s = executedPlanString("q_diag_range_bounds")
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastExchange"), s.take(1500))
    assert(!s.contains("CartesianProduct"), s.take(1500))
    val rows = SparkEntry.queries("q_diag_range_bounds")(spark, sf).collect()
    val nTot = graft.Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum == nTot)
    rows.foreach(r => assert(r.getDouble(1) <= r.getDouble(2) + 1e-9,
      s"lo>hi in $r"))
  }

  test("prefix_join: 100% recall — pair set equals the brute-force " +
      "all-pairs exact-Jaccard result (the filter is lossless)") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_llm_prefix_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over every doc pair, 3-gram shingle Jaccard ≥ 0.6
    val sets = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map { r =>
        val tk = r.getSeq[String](1)
        r.getLong(0) -> tk.sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSet
      }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size; uni = sa.size + sb.size - inter
      if uni > 0 && inter * 5 >= uni * 3
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want.diff(got)} extra=${got.diff(want)}")
  }

  test("weighted_sample: the keep decision replays exactly from the " +
      "doc's hash and weight (no rand(), stable under repartition)") {
    import org.apache.spark.sql.functions.col
    val kept = SparkEntry.queries("q_llm_weighted_sample")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), math.max(r.getLong(1), 1L)))
    val wTot = docs.map(_._2).sum
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = docs.filter { case (id, w) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val u6 = java.lang.Long.parseLong(hex, 16) % 1000000L
      u6 * wTot < 50L * w * 1000000L
    }.map(_._1).toSet
    assert(kept == want, s"missing=${want.diff(kept)} extra=${kept.diff(want)}")
  }

  test("ts_holt: the SQL aggregate fold reproduces a plain-Scala " +
      "Holt recursion bit-for-bit (trunc-div, coupled level+trend)") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q_ts_holt")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        org.apache.spark.sql.functions.expr(
          "CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    val want = ev.groupBy(_._1).map { case (uid, rows) =>
      val xs = rows.map(_._2).sortBy(t => (t._1, t._2)).map(_._3)
      var l = xs.head; var b = 0L
      xs.tail.foreach { x =>
        val nl = (x + l + b) / 2 // JVM / on Long truncates = Spark div
        b = (b + (nl - l)) / 2
        l = nl
      }
      uid -> (l, b)
    }
    assert(got == want,
      s"diverging users: ${want.collect { case (k, v) if got.get(k) != Some(v) => k }.take(5)}")
  }

  test("pca_power: output is a unit-scaled direction (max|v|=1e6) and " +
      "two Spark steps match the plain-Scala power iteration exactly") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q_llm_pca_power")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.values.map(math.abs).max == 1000000L,
      "rescale invariant broken: max|v_e6| != 1e6")
    val xs = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "transform(embedding, t -> CAST(floor(t * 1000 + 0.5) AS BIGINT))"))
      .collect().map(_.getSeq[Long](0).toArray)
    def step(v: Array[Long]): Array[Long] = {
      val u = new Array[Long](64)
      xs.foreach { x =>
        var dot = 0L; var i = 0
        while (i < 64) { dot += x(i) * v(i); i += 1 }
        i = 0
        while (i < 64) { u(i) += x(i) * dot; i += 1 }
      }
      val m = math.max(u.map(math.abs).max / 1000000L, 1L)
      u.map(_ / m)
    }
    val want = step(step(Array.fill(64)(1000000L)))
    assert((1 to 64).forall(d => got(d) == want(d - 1)),
      "Spark power iteration diverges from the reference fold")
  }

  test("abtt: the vv-scaled residual is EXACTLY orthogonal to the " +
      "direction (y.v == 0 in BIGINT, no rounding residue)") {
    import org.apache.spark.sql.functions.{col, expr}
    // recompute v and the residuals the enrolled row reports, then pin
    // the invariant the scaling was chosen for: y.v = vv*d - d*vv = 0
    val v = SparkEntry.queries("q_llm_pca_power")(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getLong(1))
    val vv = v.map(x => x * x).sum
    val xs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(
        "transform(embedding, t -> CAST(floor(t * 1000 + 0.5) AS BIGINT))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    xs.foreach { case (_, x) =>
      val d = (0 until 64).map(i => x(i) * v(i)).sum
      val ydotv = (0 until 64).map(i => (x(i) * vv - v(i) * d) * v(i)).sum
      assert(ydotv == 0L, s"residual not orthogonal: $ydotv")
    }
    // and the enrolled row agrees with the local computation on l1/proj
    val got = SparkEntry.queries("q_llm_abtt")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    xs.foreach { case (id, x) =>
      val d = (0 until 64).map(i => x(i) * v(i)).sum
      val l1b = x.map(math.abs).sum
      val l1a = (0 until 64).map(i => math.abs(x(i) * vv - v(i) * d)).sum / vv
      val proj = d * 1000000L / vv
      assert(got(id) == ((l1b, l1a, proj)), s"vec $id mismatch")
    }
  }

  // ---- Round-8 plan-shape regression pins for the round-7 perf
  // rewrites. Each rewrite's win came from a lineage cut
  // (localCheckpoint) that keeps the expensive subplan OUT of the
  // final executed plan — if a future edit (or a Spark/AQE change)
  // drops the checkpoint, the heavy operators leak back into the
  // final plan and these pins fail long before the bench does.

  test("triangles pin: roles checkpoint keeps the adjacency build out " +
      "of the final plan (r6 regression: base evaluated 4x, 12.4s)") {
    val s = executedPlanString("q_graph_triangles")
    assert(s.contains("ExistingRDD"), s.take(1500))
    // top-10 without a global sort
    assert(s.contains("TakeOrderedAndProject"), s.take(1500))
    // the collect_list adjacency aggregate ran behind the checkpoint
    assert(!s.toLowerCase.contains("collect_list"), s.take(2000))
  }

  // ---- Round-9 plan-shape pins for the graph memoization +
  // broadcast-hint removal (the r8 verdict's top-next items). The
  // wins came from FrameMemo (tri-base, lpa-labels): if a future edit
  // drops a memo, the heavy subplan leaks back into the final plan
  // and these fail long before the bench does.

  test("local_bridges pin: memoized tri-base keeps the adjacency " +
      "build + intersection out of the final plan (r8: 7.19s driver)") {
    val s = executedPlanString("q_graph_local_bridges")
    assert(s.contains("ExistingRDD"), s.take(1500))
    assert(s.contains("TakeOrderedAndProject"), s.take(1500))
    // the collect_list adjacency aggregate and the neighborhood
    // intersection both ran once, behind the tri-base checkpoint
    assert(!s.toLowerCase.contains("collect_list"), s.take(2000))
    assert(!s.toLowerCase.contains("array_intersect"), s.take(2000))
  }

  test("lpa pin: memoized label frame keeps both LPA rounds out of " +
      "the final plan (no join, no union, no window left)") {
    val s = executedPlanString("q_graph_lpa")
    assert(s.contains("ExistingRDD"), s.take(1500))
    // the two join+window rounds ran once, behind the lpa-labels memo
    assert(!s.contains("Join"), s.take(2000))
    assert(!s.contains("Union"), s.take(2000))
    assert(!s.toLowerCase.contains("row_number"), s.take(2000))
  }

  test("community_entropy pin: memoized label frame keeps the LPA " +
      "rounds out (no union; only the per-community top-brand window)") {
    val s = executedPlanString("q_graph_community_entropy")
    assert(s.contains("ExistingRDD"), s.take(1500))
    // the directed-edge union exists only inside the LPA build; its
    // absence proves the final plan consumes the memoized labels
    assert(!s.contains("Union"), s.take(2000))
  }

  test("modularity pin: no forced broadcast on the node-sized label " +
      "joins (the 100x executor-memory hazard) — only the scalar m2 " +
      "row keeps a hint; AQE is free to pick the runtime strategy") {
    val df = SparkEntry.queries("q_graph_modularity")(spark, sf)
    val o = df.queryExecution.optimizedPlan.toString
    val hints = "strategy=broadcast".r.findAllIn(o).size
    assert(hints <= 1, s"expected <=1 broadcast hint (scalar m2), got " +
      s"$hints:\n${o.take(2500)}")
  }

  test("kcore pin: edge-list checkpoint keeps the basket build out of " +
      "the final plan (six consumers defeat ReuseExchange)") {
    val s = executedPlanString("q_graph_kcore")
    assert(s.contains("ExistingRDD"), s.take(1500))
    // the collect_set basket explode ran once, behind the checkpoint
    assert(!s.toLowerCase.contains("collect_set"), s.take(2000))
  }

  test("ann_recall pin: all seven scoring arms ride checkpointed " +
      "candidate frames (no fvec scoring in the final plan)") {
    val s = executedPlanString("q_llm_ann_recall")
    assert(s.contains("ExistingRDD"), s.take(1500))
    // scoring expressions live behind the tagged/brute checkpoints;
    // a dropped checkpoint leaks fvec_dot / the centroid window back
    assert(!s.toLowerCase.contains("fvec_dot"), s.take(2000))
    assert(!s.toLowerCase.contains("row_number"), s.take(2000))
  }

  // ---- Round-10 plan-shape pins: the node-sized broadcast sweep
  // (VERDICT r9 #1). A forced broadcast() of a DATA-sized frame never
  // falls back — past the broadcast cap or executor memory it kills
  // the job — so every per-node / per-vocab / dimension frame either
  // lost its hint entirely (AQE runtime-broadcasts while small,
  // co-partitions past the threshold) or gates it through
  // Hints.bcastIfAtMost on a session-memoized substrate count. These
  // pins bound the REMAINING hints per row so a future edit cannot
  // silently re-add an unconditional node-sized hint.

  /** Distinct broadcast-hint SITES in a query's plan: ResolvedHint
    * nodes collected from the ANALYZED plan (the optimizer erases them
    * into JoinHints) and deduplicated by canonical form, so a shared
    * subtree that PRINTS many times in the plan text counts once
    * (round 11, ADVICE r10: the old regex over the plan string
    * accepted wide ranges like 1..18 because union branches duplicate
    * shared subtrees in the text — a regression that re-added one
    * unconditional node-sized hint inside a duplicated subtree could
    * stay within the bound and pass). */
  private def distinctBroadcastHints(name: String): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        h.canonicalized
    }.distinct.size
  }

  test("broadcast sweep pin: node-sized degree/marginal joins carry " +
      "no hint — only constant-sized scalar frames keep one") {
    val maxHints = Map(
      "q_graph_coproj" -> 0,        // supplier-degree joins unhinted
      "q_graph_jaccard" -> 0,       // part-degree joins unhinted
      "q_graph_assortativity" -> 0, // endpoint-degree joins unhinted
      "q_basket_lift" -> 1,         // 1-row basket total only
      "q_orders_assoc_rules" -> 1,  // 1-row basket total only
      "q_graph_local_bridges" -> 0, // degree joins unhinted
      "q_graph_adamic_adar" -> 0,   // capped-degree join unhinted
      "q_graph_richclub" -> 1,      // 3-row quantile thresholds (one
                                    // canonical site, joined twice)
      "q_graph_brokerage" -> 0)     // capped-degree join unhinted
    for ((name, cap) <- maxHints) {
      val hints = distinctBroadcastHints(name)
      assert(hints <= cap,
        s"$name: expected <=$cap distinct broadcast-hint sites, " +
          s"got $hints")
    }
  }

  test("broadcast sweep pin: the size-gated rows' hints are ACTIVE at " +
      "fixture scale and bounded (pagerank/hits/textrank + part dims)") {
    // the fixture sits far under Hints.NodeRowCap, so the gated hints
    // must be present (the measured 57→8-exchange win on the iterated
    // plans) — AND tightly bounded on DISTINCT canonical hint sites,
    // so a new unconditional hint fails the pin even inside a subtree
    // the plan text duplicates
    val expect = Map(
      "q_graph_pagerank" -> (1, 5),  // 3 rank steps + 2 deg re-joins
      // a1, h1 rank frames + the 1-row norm totals
      "q_graph_hits" -> (1, 6),
      "q_llm_textrank" -> (1, 3),    // 2 rank steps + 1 deg re-join
      // 2 gated power-iteration rank frames + 2 1-row total hints
      "q_graph_eigencentrality" -> (1, 4),
      // the gated (p_partkey, p_brand) dim + 1-row margin totals
      "q_graph_brand_homophily" -> (1, 3),
      // the gated (p_partkey, p_brand) dim feeding the census
      "q_graph_community_entropy" -> (1, 2))
    for ((name, (lo, hi)) <- expect) {
      val hints = distinctBroadcastHints(name)
      assert(hints >= lo && hints <= hi,
        s"$name: expected $lo..$hi distinct broadcast-hint sites, " +
          s"got $hints")
    }
  }

  test("FrameMemo: eight threads racing the same key run the build " +
      "exactly once (the serialized-insert fix, ADVICE r10)") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"race-test-${System.identityHashCode(this)}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val frames = try {
      (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[
            org.apache.spark.sql.DataFrame] {
          def call(): org.apache.spark.sql.DataFrame =
            graft.FrameMemo.cached(spark, sf, key) {
              built.incrementAndGet()
              spark.range(10).toDF("x")
            }
        })
      }.map(_.get()).toList
    } finally pool.shutdown()
    assert(built.get() == 1,
      s"build ran ${built.get()} times under an 8-thread race")
    // every caller got the SAME checkpointed frame
    assert(frames.map(System.identityHashCode(_)).distinct.size == 1)
    assert(frames.head.count() == 10L)
  }

  test("Hints.bcastIfAtMost: byte-aware gate — a wide row tightens the " +
      "row cap (ADVICE r10)") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.toString.contains("ResolvedHint")
    // 1M rows x 24B = 24MB fits the 100MB budget; x 256B = 256MB does not
    assert(hinted(graft.Hints.bcastIfAtMost(df, rows = 1000000L)))
    assert(!hinted(graft.Hints.bcastIfAtMost(df, rows = 1000000L,
      avgRowBytes = 256L)))
    assert(hinted(graft.Hints.bcastIfAtMost(df, rows = 100000L,
      avgRowBytes = 256L)))
  }

  test("Hints.bcastIfAtMost: hint applied at/below the cap, absent " +
      "above it (the gate that makes the scale plan executable code)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.toString.contains("ResolvedHint")
    assert(hinted(graft.Hints.bcastIfAtMost(df, rows = 10L, cap = 10L)))
    assert(!hinted(graft.Hints.bcastIfAtMost(df, rows = 11L, cap = 10L)))
    assert(hinted(graft.Hints.bcastIfAtMost(df,
      rows = graft.Hints.NodeRowCap)))
    assert(!hinted(graft.Hints.bcastIfAtMost(df,
      rows = graft.Hints.NodeRowCap + 1L)))
  }

  test("pagerank hint-free co-partitioned form (bcastCap=0) is " +
      "bit-identical to the gated broadcast form on the fixture") {
    import graft.operators.Graph
    // the 100× plan — every iteration a keyed shuffle join, no hint —
    // must produce the exact ranks of the enrolled broadcast form:
    // the hint swap the pagerank scaladoc promises, executed
    val unrolled = SparkEntry.queries("q_graph_pagerank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (free3, it3) = Graph.pagerankConverged(spark, sf,
      epsMicro = 0L, maxIter = 3, bcastCap = 0L)
    assert(it3 == 3)
    assert(free3.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == unrolled)
  }

  test("both sides of the two 20 000-doc gates give the enrolled rows " +
      "(unhinted prefix verify, hashed rare-shingle keys)") {
    import graft.operators.{Analytics, LlmOps}
    // the fixture sits below both gates, so the enrolled rows run one
    // side; the side that runs at scale is forced here through *Impl
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val prefix = rows(SparkEntry.queries("q_llm_prefix_join")(spark, sf))
    assert(prefix.nonEmpty)
    for (shj <- Seq(true, false))
      assert(rows(Analytics.prefixJoinImpl(spark, sf,
        shuffleHashVerify = shj)) == prefix, s"shuffleHashVerify=$shj")
    val rare =
      rows(SparkEntry.queries("q_llm_rare_shingle_pairs")(spark, sf))
    assert(rare.nonEmpty)
    for (hashed <- Seq(true, false))
      assert(rows(LlmOps.rareShinglePairsImpl(spark, sf,
        hashKeys = hashed)) == rare, s"hashKeys=$hashed")
  }

  test("both sides of the final-sort gate give the same ordered rows; " +
      "the one-partition side plans no range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object walk extends AdaptiveSparkPlanHelper
    // perfbench's query_small rows, then one row each from the graph,
    // join, TPC-H and time-series families
    val querySmall = Seq("q_agg_approx_distinct", "q_events_bot_screen",
      "q_intersect", "q_llm_cosine_topk", "q_llm_lang_id",
      "q_llm_span_corrupt", "q_pivot_counts", "q_tpch_q6_forecast")
    val others = Seq("q_graph_degree_dist", "q_join_full_outer",
      "q_tpch_q13_custdist", "q_ts_m4_downsample", "q_filter_compound")
    // the rows whose final sort input fits one partition: the query_small
    // rows, two of them (cosine_topk, lang_id) only once AQE has measured
    // the stages under the sort, and one sort over a filtered scan, with
    // no exchange under it, which only the first planning pass sizes
    val oneSorted = Set("q_agg_approx_distinct", "q_events_bot_screen",
      "q_intersect", "q_pivot_counts", "q_llm_cosine_topk", "q_llm_lang_id",
      "q_filter_compound")
    // at a minimum partition size of 1 byte no input fits: every row
    // range-sorts
    val ranged = spark.newSession()
    ranged.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    // the rows whose every scan is one split and whose joins, if any, are
    // broadcast: no shuffle is left once the scans report one partition
    val unshuffled = Set("q_agg_approx_distinct", "q_pivot_counts",
      "q_events_bot_screen", "q_tpch_q6_forecast")
    def run(s: SparkSession, name: String) = {
      val df = SparkEntry.queries(name)(s, sf)
      val rows = df.collect().toSeq
      s.catalog.clearCache()
      val shuffles = walk.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      (rows, shuffles.count(_.isInstanceOf[RangePartitioning]), shuffles.size)
    }
    for (name <- querySmall ++ others) {
      val (one, oneRanges, oneShuffles) = run(spark, name)
      val (range, rangeRanges, rangeShuffles) = run(ranged, name)
      assert(one.nonEmpty && one == range, name)
      if (oneSorted(name))
        assert(oneRanges == 0 && rangeRanges > 0,
          s"$name: $oneRanges vs $rangeRanges range exchanges")
      if (unshuffled(name))
        assert(oneShuffles == 0 && rangeShuffles > 0,
          s"$name: $oneShuffles vs $rangeShuffles shuffle exchanges")
    }
  }

  test("the one-split scan form skips a multi-file directory, a " +
      "streaming file source, a scan read twice and a scan under a join " +
      "that broadcasts neither side; every form gives the forced side's " +
      "rows") {
    import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array, col, explode, sum}
    object walk extends AdaptiveSparkPlanHelper
    def coalesces(p: SparkPlan) =
      walk.collect(p) { case c: CoalesceExec => c }.size
    def shuffles(p: SparkPlan) =
      walk.collect(p) { case e: ShuffleExchangeExec => e }.size
    def scanPartitions(p: SparkPlan) =
      walk.collect(p) { case s: FileSourceScanExec =>
        s.inputRDDs().head.getNumPartitions }
    val root = java.nio.file.Files.createTempDirectory("graft_one_split")
    val oneFile = s"$root/one"; val twoFiles = s"$root/two"
    val data = spark.range(0, 2000).select(
      (col("id") % 37).as("k"), col("id").as("v"))
    data.coalesce(1).write.parquet(oneFile)
    data.repartition(2).write.parquet(twoFiles)
    assert(new java.io.File(twoFiles).list().count(_.endsWith(".parquet")) == 2)
    // at a minimum partition size of 1 byte no scan takes the form, and
    // broadcasts are off on both sides so the join keeps its shuffles
    val forced = spark.newSession()
    forced.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    val default = spark.newSession()
    for (s <- Seq(forced, default))
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def counts(s: SparkSession, dir: String) = {
      val df = s.read.parquet(dir).groupBy("k").count()
      val rows = df.collect().sortBy(_.getLong(0)).toSeq
      (rows, df.queryExecution.executedPlan)
    }
    // the control: the one-file directory takes the form
    val (oneRows, onePlan) = counts(default, oneFile)
    assert(coalesces(onePlan) == 1 && shuffles(onePlan) == 0, onePlan)
    // two files: the splits of the forced side, and the exchange stays
    val (twoRows, twoPlan) = counts(default, twoFiles)
    val (_, forcedTwoPlan) = counts(forced, twoFiles)
    assert(coalesces(twoPlan) == 0 && shuffles(twoPlan) > 0, twoPlan)
    assert(scanPartitions(twoPlan) == scanPartitions(forcedTwoPlan),
      s"$twoPlan\n$forcedTwoPlan")
    assert(twoRows == oneRows)
    // the same one file as a streaming source keeps its stateful exchange
    val q = default.readStream.schema(data.schema).parquet(oneFile)
      .groupBy("k").count()
      .writeStream.format("memory").queryName("one_split_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(coalesces(plan) == 0 && shuffles(plan) > 0, plan)
    } finally q.stop()
    assert(default.table("one_split_stream").collect()
      .sortBy(_.getLong(0)).toSeq == oneRows)
    def run(s: SparkSession, build: SparkSession => DataFrame) = {
      val df = build(s)
      (df.collect().sortBy(_.getLong(0)).toSeq, df.queryExecution.executedPlan)
    }
    // each shape on the default side against the forced side; `form` is
    // whether the one-file scan takes the one-partition form
    def same(s: SparkSession, build: SparkSession => DataFrame, form: Boolean) = {
      val (rows, plan) = run(s, build)
      val (forcedRows, forcedPlan) = run(forced, build)
      assert(coalesces(plan) == (if (form) 1 else 0), plan)
      assert(coalesces(forcedPlan) == 0, forcedPlan)
      assert(rows.nonEmpty && rows == forcedRows)
      plan
    }
    def one(s: SparkSession) = s.read.parquet(oneFile)
    // an explode above the scan runs in the scan's task on either side,
    // and the scan takes the form
    val exploded = same(default, s => one(s)
      .select(col("k"), explode(array(col("v"), col("v") + 1)).as("w"))
      .groupBy("k").agg(sum("w")), form = true)
    assert(shuffles(exploded) == 0, exploded)
    // the same aggregate read twice: one exchange serves both reads
    val twice = same(default, { s =>
      val c = one(s).groupBy("k").count()
      c.union(c) }, form = false)
    assert(shuffles(twice) > 0, twice)
    // a one-split side meets a two-split side in a shuffled join: the
    // join keeps the exchanges where AQE may re-plan it
    def joined(s: SparkSession) = one(s).as("a")
      .join(s.read.parquet(twoFiles).as("b"), col("a.v") === col("b.v"))
      .groupBy(col("a.k")).count()
    val shuffled = same(default, joined, form = false)
    assert(shuffles(shuffled) > 0, shuffled)
    // and in a broadcast join, where the one-split side takes the form
    same(spark.newSession(), joined, form = true)
  }

  test("serving rows leaves the one-partition sort strategy in the " +
      "planner exactly once, with or without the extensions") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.classic
    import graft.plans.OnePartition
    // a session built without the extensions, as perfbench's and users'
    // own sessions are: the constructor that takes the extensions is
    // private, so it is called by reflection
    val plain = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(spark.sparkContext,
        Some(spark.asInstanceOf[classic.SparkSession].sharedState), None,
        new SparkSessionExtensions, Map.empty[String, String],
        Map.empty[String, String]).asInstanceOf[classic.SparkSession]
    def held(s: SparkSession) =
      s.sessionState.planner.strategies.count(_ == OnePartition)
    assert(held(spark) == 1 && held(plain) == 0)
    for (s <- Seq(spark, plain); _ <- 1 to 3)
      SparkEntry.queries("q_intersect")(s, sf)
    assert(held(spark) == 1, "extensions session")
    assert(held(plain) == 1, "plain session")
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(plain.experimental.extraStrategies == Seq(OnePartition))
  }

  test("textrank pin: memoized word-edge frame keeps the corpus bigram " +
      "explode out of the final plan") {
    val s = executedPlanString("q_llm_textrank")
    assert(s.contains("ExistingRDD"), s.take(1500))
    assert(!s.toLowerCase.contains("explode"), s.take(2000))
  }

  test("submodular_select: greedy gains are non-increasing (the " +
      "submodularity that licenses the 1-1/e guarantee), picks are " +
      "distinct, objective is the running gain sum") {
    val rows = SparkEntry.queries("q_llm_submodular_select")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 3)
    val gains = rows.map(_.getAs[Long]("gain_e6"))
    assert(gains(0) >= gains(1) && gains(1) >= gains(2),
      s"gains not non-increasing: ${gains.toSeq}")
    assert(rows.map(_.getAs[Long]("picked_id")).distinct.length == 3)
    val objs = rows.map(_.getAs[Long]("objective_e6"))
    assert(objs(0) == gains(0) && objs(1) == objs(0) + gains(1) &&
      objs(2) == objs(1) + gains(2), s"${objs.toSeq} vs ${gains.toSeq}")
  }

  test("supply_risk: HHI sits in [1e8/n_suppliers, 1e8] (uniform and " +
      "single-source bounds, modulo the final truncation)") {
    val rows = SparkEntry.queries("q_parts_supply_risk")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_suppliers")
      val h = r.getAs[Long]("hhi_e8")
      assert(h <= 100000000L, r.toString)
      assert(h >= 100000000L / n - 1, r.toString)
    }
  }

  test("ivm_join_delta: identity diff is exactly (0, 0) and the delta " +
      "terms are small vs full (the IVM point)") {
    val rows = SparkEntry.queries("q_ivm_join_delta")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val m = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m("7_identity_diff") == ((0L, 0L)), m)
    // deltas are 1/13 + 1/17 + 1/221 of the join — well under half
    val deltaRows = m("2_delta_orders")._1 + m("3_delta_lines")._1 +
      m("4_delta_both")._1
    assert(deltaRows * 2 < m("6_full_recompute")._1,
      s"delta terms $deltaRows not small vs full ${m("6_full_recompute")._1}")
  }

  test("graph_hits: scores are L1-normalized integers (each side sums " +
      "to <= 1e6 with div slack) and both sides emit top-10") {
    val rows = SparkEntry.queries("q_graph_hits")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (auths, hubs) = rows.partition(_._1 == "authority")
    assert(hubs.length == 10 && auths.length == 10, rows.length)
    // top-10 of an L1-normalized (Σ = 10⁶ minus per-node div slack)
    // score vector can never exceed the total
    assert(hubs.map(_._3).sum <= 1000000L, hubs.map(_._3).sum)
    assert(auths.map(_._3).sum <= 1000000L, auths.map(_._3).sum)
    assert(rows.forall(_._3 >= 0))
  }

  test("graph_bfs2: levels are disjoint by construction and level " +
      "sizes bound-check against the degree of the source") {
    val rows = SparkEntry.queries("q_graph_bfs2")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val m = rows.map(r => r._1 -> r._2).toMap
    assert(m(0L) == 1L, m)
    // dist-1 frontier = the source's neighbor set, nonempty because the
    // source was chosen as the max-degree node
    assert(m(1L) >= 1L, m)
    // 2-hop frontier can't exceed (sum of dist-1 degrees); cheap sanity:
    // it is nonnegative and excludes the earlier levels (checksums
    // would collide with astronomically low probability otherwise)
    assert(m(2L) >= 0L, m)
  }

  test("scd2_pit_lookup: probe 0 always lands a defined state (the " +
      "first change is at the user's min ts) and probes are 4 per user") {
    val df = SparkEntry.queries("q_scd2_pit_lookup")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val perUser = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perUser.values.forall(_ == 4), perUser.toMap.take(5))
    // probe_no 0 sits exactly at min event ts, where a change row always
    // sorts first — state_at must be non-null there
    rows.filter(_.getLong(1) == 0L).foreach { r =>
      assert(!r.isNullAt(3), r)
    }
  }

  test("graph_closeness agrees with graph_bfs2 at the shared source: " +
      "the max-degree hub's n1/n2 equal BFS frontier sizes at dist 1/2") {
    val close = SparkEntry.queries("q_graph_closeness")(spark, sf).collect()
    assert(close.length == 20)
    close.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) * 1000000L + r.getLong(2) * 500000L)
    }
    val bfs = SparkEntry.queries("q_graph_bfs2")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // bfs2's source is the global max-degree node = closeness' top hub
    // by degree; find it among the 20 by matching n1 = |level 1| and
    // key_sum consistency is bfs2's own test — here the counts must agree
    val srcRows = close.filter(r => r.getLong(1) == bfs(1L)._1)
    assert(srcRows.nonEmpty, "max-degree hub missing from closeness")
    assert(srcRows.exists(_.getLong(2) == bfs(2L)._1),
      s"no hub has n2 == ${bfs(2L)._1}")
  }

  test("mm_video_frames: stride-2 sampling keeps ceil(n/2) frames and " +
      "a hand-computed doc checksum replays") {
    val rows = SparkEntry.queries("q_mm_video_frames")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, ns, bytes) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ns == (nf + 1) / 2, r)
      assert(bytes <= ns * 16 && bytes > (ns - 1) * 16, r)
    }
    // replay one doc in plain Scala from its text
    val first = rows.minBy(_.getLong(0))
    val text = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") ===
        first.getLong(0))
      .select("text").collect()(0).getString(0)
    val expected = text.getBytes("US-ASCII").grouped(16).zipWithIndex
      .collect { case (f, i) if i % 2 == 0 =>
        (i + 1).toLong * f.map(b => (b & 0xff).toLong).sum }
      .sum
    assert(first.getLong(4) == expected, s"checksum mismatch doc ${first}")
  }

  test("rouge_bigram: overlap bounded by both sides and F1 is the Dice " +
      "of the emitted counts") {
    val rows = SparkEntry.queries("q_llm_rouge_bigram")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (na, nb, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(common <= math.min(na, nb), r)
      assert(r.getLong(5) == common * 10000 / nb, r)
      assert(r.getLong(6) == common * 10000 / na, r)
      assert(r.getLong(7) == 2 * common * 10000 / (na + nb), r)
    }
  }

  test("layout_zonemap: range layout strictly out-prunes arrival layout " +
      "on the shipdate probe, at identical totals") {
    val rows = SparkEntry.queries("q_layout_zonemap")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val (arr, rng) = (rows("arrival_clustered"), rows("shipdate_ranged"))
    assert(arr.getLong(3) == rng.getLong(3), "rows_total differ")
    assert(arr.getLong(5) == rng.getLong(5), "rows_matched differ")
    assert(rng.getLong(2) < arr.getLong(2),
      s"range read ${rng.getLong(2)} files, arrival ${arr.getLong(2)}")
    assert(rng.getLong(7) < arr.getLong(7), "read amplification not reduced")
    // every matching row lives in a read file on both layouts
    Seq(arr, rng).foreach(r => assert(r.getLong(4) >= r.getLong(5), r))
  }

  test("best_of_n: uplift is nonnegative and nondecreasing in N, and " +
      "groups cover the corpus at every N") {
    val rows = SparkEntry.queries("q_llm_best_of_n")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 8L))
    val nDocs = graft.Tables.documents(spark, sf).count()
    rows.foreach { r =>
      val n = r.getLong(0)
      // doc_ids are dense from 0 ⇒ group census = ceil(docs / N)
      assert(r.getLong(1) == (nDocs + n - 1) / n, r)
      assert(r.getLong(4) >= 0, r)
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3), r)
    }
    // E[max of N] grows with N; allow 1 e4-unit of flooring noise
    val uplifts = rows.map(_.getLong(4))
    assert(uplifts.zip(uplifts.tail).forall { case (a, b) => b >= a - 1 },
      uplifts.toSeq.toString)
  }

  test("ts_xcorr: lag 0 replays from the daily-count series and " +
      "overlap shrinks toward the lag extremes") {
    val rows = SparkEntry.queries("q_ts_xcorr")(spark, sf).collect()
    assert(rows.length == 7)
    val byLag = rows.map(r => r.getLong(0) -> r).toMap
    assert(byLag.keySet == (-3L to 3L).toSet)
    // replay lag 0 directly
    val daily = graft.Tables.events(spark, sf)
      .selectExpr("event_type", "(ts_ns div 1000) div 86400000000 AS d")
      .collect().groupBy(_.getString(0))
    def counts(t: String) = daily(t).groupBy(_.getLong(1))
      .map { case (d, g) => d -> g.size.toLong }
    val (px, ex) = (counts("purchase"), counts("error"))
    val shared = px.keySet.intersect(ex.keySet)
    val r0 = byLag(0L)
    assert(r0.getLong(1) == shared.size)
    assert(r0.getLong(2) == shared.toSeq.map(d => px(d) * ex(d)).sum)
    // overlap census can only shrink as |lag| grows on a contiguous span
    assert(rows.map(_.getLong(1)).max == r0.getLong(1))
  }

  test("er_blocking: completeness and reduction are proper rates, and " +
      "the source_lang strategy covers every truth pair (near-dups " +
      "share source by construction)") {
    val rows = SparkEntry.queries("q_llm_er_blocking")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == 3)
    rows.values.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), r)      // covered <= truth
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000, r)
      assert(r.getLong(6) >= 0 && r.getLong(6) <= 10000, r)
    }
    // all strategies see the same ground truth
    assert(rows.values.map(_.getLong(3)).toSet.size == 1)
  }

  test("events_bounce_rate: bounce <= sessions per day and the " +
      "session census agrees with the concurrency row") {
    val rows = SparkEntry.queries("q_events_bounce_rate")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), r)
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1), r)
    }
    val conc = SparkEntry.queries("q_events_concurrency")(spark, sf)
      .collect()
    // all three rows derive from the SAME 30-min rule: total sessions
    // in the bounce census = half the sweep's point census = the batch
    // sessionizer's row count
    val nSessions = rows.map(_.getLong(1)).sum
    assert(2L * nSessions == conc.map(_.getLong(1)).sum)
    assert(SparkEntry.queries("q_sessionize_batch")(spark, sf).count() ==
      nSessions)
  }

  test("lang_overlap: all unordered lang pairs present, jaccard " +
      "bounded, and intersection bounded by both vocabularies") {
    val rows = SparkEntry.queries("q_llm_lang_overlap")(spark, sf)
      .collect()
    val langs = graft.Tables.documents(spark, sf)
      .select("lang").distinct().count()
    assert(rows.length == langs * (langs - 1) / 2)
    rows.foreach { r =>
      val (va, vb, inter) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(inter <= math.min(va, vb), r)
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000, r)
      assert(r.getString(0) < r.getString(1), r)
    }
  }

  test("agg_gini: the histogram-algebra statistic equals the classic " +
      "rank formula on a plain-Scala replay, and stays in [0, 1e4)") {
    val rows = SparkEntry.queries("q_agg_gini")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = graft.Tables.events(spark, sf)
      .selectExpr("event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(3) >= 0 && r.getLong(3) < 10000, r)
      val xs = byType(t).map(_.getLong(1)).sorted
      val n = xs.length.toLong
      val num = xs.zipWithIndex.map { case (x, i) =>
        (2L * (i + 1) - n - 1) * x }.sum
      assert(r.getLong(1) == n, r)
      assert(r.getLong(2) == xs.sum, r)
      assert(r.getLong(3) == num * 10000 / (n * xs.sum), r)
    }
  }

  test("rank_fusion_borda agrees with hybrid_rrf on membership of the " +
      "shared top lists and scores replay from the emitted ranks") {
    val borda = SparkEntry.queries("q_llm_rank_fusion_borda")(spark, sf)
      .collect()
    assert(borda.length == 15)
    borda.foreach { r =>
      val lex = if (r.isNullAt(2)) 0L else 51L - r.getLong(2)
      val dense = if (r.isNullAt(3)) 0L else 51L - r.getLong(3)
      assert(r.getLong(1) == lex + dense, r)
    }
    val scores = borda.map(_.getLong(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("burstiness: cf >= df, burst >= 1e4, and the top term's counts " +
      "replay from a direct recount") {
    val rows = SparkEntry.queries("q_llm_burstiness")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), r)
      assert(r.getLong(3) >= 10000, r)
    }
    val top = rows.head
    val docs = graft.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val cf = docs.map(_.split(" ", -1).count(_ == top.getString(0))).sum
    val df = docs.count(_.split(" ", -1).contains(top.getString(0)))
    assert(top.getLong(1) == cf && top.getLong(2) == df, top)
  }

  test("markov_steady: each iterate stays a (floored) distribution — " +
      "mass sums to 1e6 minus bounded flooring loss, never above") {
    val rows = SparkEntry.queries("q_events_markov_steady")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val k = rows.length
    Seq(1, 2, 3).foreach { it =>
      val mass = rows.map(_.getLong(it)).sum
      // per step: < k² from the floored products plus < k² inherited
      // from P's own row rounding; 3 steps + the uniform init ⇒ the
      // conservative envelope 10k² + k
      assert(mass <= 1000000L && mass >= 1000000L - (10L * k * k + k),
        s"iterate $it mass $mass")
    }
  }

  test("events_stickiness: DAU <= MAU always, ratio bounded, and day " +
      "census matches daily_active_users") {
    val rows = SparkEntry.queries("q_events_stickiness")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), r)
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 10000, r)
    }
    val dau = SparkEntry.queries("q_daily_active_users")(spark, sf)
      .collect()
    assert(rows.length == dau.length, "active-day census differs")
  }

  test("ctx_overflow: fit counts are monotone in budget and used + " +
      "lost always reconciles to the source total") {
    val rows = SparkEntry.queries("q_llm_ctx_overflow")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) + r.getLong(6) == r.getLong(3), r)
      assert(r.getLong(4) <= r.getLong(2), r)
    }
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byBudget = rs.sortBy(_.getLong(1))
      val fits = byBudget.map(_.getLong(4))
      assert(fits.zip(fits.tail).forall { case (a, b) => a <= b })
      // docs/total identical across budgets of one source
      assert(byBudget.map(r => (r.getLong(2), r.getLong(3)))
        .distinct.length == 1)
    }
  }

  test("events_concurrency: the sweep is conservation-exact — point " +
      "census counts 2 per session and concurrency stays positive at " +
      "every start") {
    val rows = SparkEntry.queries("q_events_concurrency")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, r) // points in the hour
      // an hour whose only points are session ENDS can bottom at 0;
      // concurrency is never negative
      assert(r.getLong(2) >= 0, r)
    }
    assert(rows.map(_.getLong(2)).max >= 1)
    // Σ points = 2 * sessions; recompute sessions via the shared rule
    val nSessions = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "ts_ns div 1000 AS ts_us", "event_id")
      .collect().groupBy(_.getLong(0)).values.map { evs =>
        val ts = evs.map(_.getLong(1)).sorted
        1 + ts.zip(ts.tail).count { case (a, b) => b - a > 1800000000L }
      }.sum
    assert(rows.map(_.getLong(1)).sum == 2L * nSessions)
  }

  test("dim_probe: per-dim means agree with embed_calib's sums and " +
      "the emitted diff replays") {
    val rows = SparkEntry.queries("q_llm_dim_probe")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2), r)
      assert(r.getLong(4) == math.abs(r.getLong(3)), r)
    }
    val diffs = rows.map(_.getLong(4))
    assert(diffs.zip(diffs.tail).forall { case (a, b) => a >= b })
  }

  test("dq_reconcile: the band census covers every order and bands " +
      "bracket their own min/max relative deviations") {
    val rows = SparkEntry.queries("q_dq_reconcile")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (band, n, over, under, exact) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(over + under + exact == n, r)
      assert(band >= 0 && band <= 10, r)
      val (mn, mx) = (r.getLong(5), r.getLong(6))
      assert(mn <= mx, r)
      if (band < 10) assert(mn / 1000 == band && mx / 1000 == band, r)
      else assert(mn >= 10000, r)
      if (band == 0) assert(exact <= n) else assert(exact == 0, r)
    }
  }

  test("join_asof_nearest: the chosen side is genuinely nearest — " +
      "delta never exceeds the other side's distance (spot replay)") {
    val rows = SparkEntry.queries("q_join_asof_nearest")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // replay from raw events for the first 5 users
    val sample = rows.take(5).map(_.getLong(0)).toSet
    val ev = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts_ns div 1000 AS ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(t => sample(t._1))
    rows.filter(r => sample(r.getLong(0))).foreach { r =>
      val u = r.getLong(0)
      val probe = ev.filter(t => t._1 == u && t._2 == "purchase")
        .map(_._3).min
      assert(r.getLong(1) == probe, r)
      val errs = ev.filter(t => t._1 == u && t._2 == "error").map(_._3)
      val best = errs.minBy(t =>
        (math.abs(t - probe), if (t <= probe) 0 else 1))
      assert(r.getLong(2) == best, r)
      assert(r.getLong(3) == math.abs(probe - best), r)
    }
  }

  test("graph_walk_sample: every hop follows a real edge of the " +
      "basket graph") {
    val rows = SparkEntry.queries("q_graph_walk_sample")(spark, sf)
      .collect()
    assert(rows.length == 5)
    // rebuild the raw edge set directly for membership checks
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder: Set[(Long, Long)] = li.groupBy(_._1).values.toSeq
      .flatMap { g =>
        for (a <- g.toSeq; b <- g.toSeq if a._2 != b._2)
          yield (a._2, b._2)
      }.toSet
    rows.foreach { r =>
      val path = Seq(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(byOrder((a, b)), s"hop $a -> $b is not an edge: $r")
      }
    }
  }

  test("attr_linear_multi: credit stays within the converted-user " +
      "budget and touch types partition the pre-purchase touches") {
    val rows = SparkEntry.queries("q_attr_linear_multi")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // users with >= 1 credited touch (union over types) bound credit:
    // each contributes exactly k * (1e4 div k) <= 1e4
    val totalCredit = rows.map(_.getLong(3)).sum
    val nUsers = rows.map(_.getLong(2)).max // per-type distinct lower bound
    assert(totalCredit <= rows.map(_.getLong(1)).sum * 10000)
    rows.foreach { r =>
      assert(r.getString(0) == "click" || r.getString(0) == "view", r)
      assert(r.getLong(3) <= r.getLong(1) * 10000, r)
      assert(r.getLong(2) <= r.getLong(1), r)
    }
    assert(nUsers > 0 && totalCredit > 0)
  }

  test("top_p_vocab: the nucleus is never empty, never exceeds the " +
      "full vocab, and p=0.9 keeps at most the full set") {
    val rows = SparkEntry.queries("q_llm_top_p_vocab")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (full, nuc) = (r.getLong(2), r.getLong(3))
      assert(nuc >= 1 && nuc <= full, r)
      assert(r.getLong(4) == nuc * 10000 / full, r)
    }
  }

  test("mm_image_equalize: output spans [0, 255] endpoints (cdf_min " +
      "maps to 0, max pixel maps to 255) and a Scala replay matches") {
    val rows = SparkEntry.queries("q_mm_image_equalize")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L, r)            // min pixel -> 0
      assert(r.getLong(3) <= 255L, r)
    }
    val first = rows.minBy(_.getLong(0))
    val text = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") ===
        first.getLong(0))
      .select("text").collect()(0).getString(0)
    val px = text.map(_.toInt).toArray
    val n = px.length
    val cdf = (0 to 255).map(v => px.count(_ <= v).toLong).toArray
    val cdfMin = cdf(px.min)
    val denom = math.max(n - cdfMin, 1L)
    val checksum = px.zipWithIndex.map { case (p, i) =>
      (i + 1).toLong * ((cdf(p) - cdfMin) * 255L / denom) }.sum
    assert(first.getLong(4) == checksum, first)
  }

  test("graph_local_cc: lcc bounded by [0, 1e6] and hub triangle " +
      "counts are consistent with degree (n_tri <= deg choose 2)") {
    val rows = SparkEntry.queries("q_graph_local_cc")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (dg, t, lcc) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(lcc >= 0 && lcc <= 1000000, r)
      assert(t >= 0 && t <= dg * (dg - 1) / 2, r)
      assert(lcc == 2 * t * 1000000 / (dg * (dg - 1)), r)
    }
  }

  test("events_ab_ttest: arms partition the purchases and the z^2 " +
      "verdict replays from the emitted pieces") {
    val r = SparkEntry.queries("q_events_ab_ttest")(spark, sf)
      .collect()(0)
    val nPurch = graft.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase").count()
    assert(r.getLong(0) + r.getLong(1) == nPurch)
    assert(r.getLong(6) == r.getLong(2) - r.getLong(3))
    val se2 = r.getLong(4) / r.getLong(0) + r.getLong(5) / r.getLong(1)
    assert(r.getLong(7) == se2)
    assert(r.getBoolean(8) ==
      (r.getLong(6) * r.getLong(6) * 100 >= 384 * math.max(se2, 1L)))
  }

  test("uncertainty_sample: margins are the 20 smallest and increase " +
      "monotonically in emission order") {
    val rows = SparkEntry.queries("q_llm_uncertainty_sample")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val margins = rows.map(_.getLong(2))
    assert(margins.zip(margins.tail).forall { case (a, b) => a <= b })
    // margin replays from the emitted score
    rows.foreach { r =>
      val e4 = math.floor(r.getDouble(1) * 10000 + 0.5).toLong
      assert(r.getLong(2) == math.abs(e4 - 5000), r)
    }
  }

  test("grpo_advantage: advantages are group-centered (each doc's " +
      "adv = its score minus its group mean)") {
    val rows = SparkEntry.queries("q_llm_grpo_advantage")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) - r.getLong(3), r)
      assert(r.getLong(4) >= 1, r)
    }
    val advs = rows.map(_.getLong(5))
    assert(advs.zip(advs.tail).forall { case (a, b) => a >= b })
  }

  test("moe_route: every vector lands on exactly two experts and load " +
      "shares account for the full 2N routing mass") {
    val rows = SparkEntry.queries("q_llm_moe_route")(spark, sf).collect()
    assert(rows.length == 8)
    val nVec = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nVec, "primary mass")
    assert(rows.map(_.getLong(2)).sum == nVec, "secondary mass")
    rows.foreach { r =>
      assert(r.getLong(3) ==
        (r.getLong(1) + r.getLong(2)) * 10000 / (2 * nVec), r)
    }
  }

  test("agg_winsorized: the winsorized mean is pulled toward the " +
      "body, thresholds bracket it, clamp counts respect 5%/95%") {
    val rows = SparkEntry.queries("q_agg_winsorized")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, p5, p95) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (lo, hi, wm) = (r.getLong(4), r.getLong(5), r.getLong(7))
      assert(p5 <= p95, r)
      assert(wm >= p5 && wm <= p95, r)
      // strictly-below-p5 rows are < ceil(5% of n); same above p95
      assert(lo < (n * 5 + 99) / 100, r)
      assert(hi <= n - (n * 95 + 99) / 100, r)
    }
  }

  test("priv_dp_count: noise is bounded, deterministic across runs, " +
      "and the suppression gate matches the emitted noisy count") {
    val a = SparkEntry.queries("q_priv_dp_count")(spark, sf).collect()
    val b = SparkEntry.queries("q_priv_dp_count")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.foreach { r =>
      assert(r.getLong(2) >= -10 && r.getLong(2) <= 10, r)
      assert(r.getLong(3) == r.getLong(1) + r.getLong(2), r)
      assert(r.getBoolean(4) == (r.getLong(3) < 20), r)
    }
  }

  test("soft_dedup: weights cover the whole corpus and agree with the " +
      "cluster-size census") {
    val rows = SparkEntry.queries("q_llm_soft_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (s, w) = (r.getLong(0), r.getLong(3))
      assert(w == 10000 / s, r)
      assert(r.getLong(4) == r.getLong(1) * w * s, r)
    }
    // sizes >= 2 must match the enrolled cluster-size census
    val census = SparkEntry.queries("q_llm_dup_cluster_sizes")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_.getLong(0) >= 2).foreach { r =>
      assert(census(r.getLong(0)) == r.getLong(1), r)
    }
  }

  test("epoch_schedule: quintiles partition the corpus, the repeat " +
      "policy is {4,3,2,1,1}, and effective shares sum to ~1") {
    val rows = SparkEntry.queries("q_llm_epoch_schedule")(spark, sf)
      .collect()
    assert(rows.map(_.getInt(0)).toSeq.sorted == Seq(1, 2, 3, 4, 5))
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.documents(spark, sf).count())
    val policy = Map(1 -> 4L, 2 -> 3L, 3 -> 2L, 4 -> 1L, 5 -> 1L)
    rows.foreach { r =>
      assert(r.getLong(3) == policy(r.getInt(0)), r)
      assert(r.getLong(4) == r.getLong(2) * r.getLong(3), r)
    }
    val shareSum = rows.map(_.getLong(5)).sum
    assert(shareSum >= 10000 - 5 && shareSum <= 10000, shareSum)
  }

  test("fim_split: the three segments tile each doc exactly — lengths " +
      "and position-weighted checksums are complementary") {
    val rows = SparkEntry.queries("q_llm_fim_split")(spark, sf).collect()
    assert(rows.length == 20)
    val texts = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") <=
        rows.map(_.getLong(0)).max)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // columns: doc_id, n_tok, (len, cs) x prefix/middle/suffix
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) + r.getLong(4) + r.getLong(6) == n, r)
      val tk = texts(r.getLong(0)).split(" ", -1)
      val all = tk.zipWithIndex.map { case (t, i) =>
        (i + 1).toLong * t.length }.sum
      assert(r.getLong(3) + r.getLong(5) + r.getLong(7) == all, r)
    }
  }

  test("agg_moments: even central moments nonnegative, counts cover " +
      "the corpus, and the integer mean brackets the true mean") {
    val rows = SparkEntry.queries("q_agg_moments")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(5) >= 0, r) // m2, m4
      assert(r.getLong(6) >= 0, r)                      // kurt ratio
      // Cauchy-Schwarz on the centered values: m3^2 <= m2 * m4
      val (m2, m3, m4) = (BigInt(r.getLong(3)), BigInt(r.getLong(4)),
        BigInt(r.getLong(5)))
      assert(m3 * m3 <= m2 * m4, r)
    }
  }

  test("ts_time_weighted_avg: TWA sits inside [min,max] cents and the " +
      "interval census matches n_events - n_types") {
    val rows = SparkEntry.queries("q_ts_time_weighted_avg")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.{col => c, expr => e}
    val bounds = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(e("min(CAST(floor(value * 100 + 0.5) AS BIGINT))").as("mn"),
        e("max(CAST(floor(value * 100 + 0.5) AS BIGINT))").as("mx"),
        e("count(1)").as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { r =>
      val (mn, mx, n) = bounds(r.getString(0))
      assert(r.getLong(1) == n - 1, r) // intervals = events - 1 per type
      val twa = r.getLong(3)
      assert(twa >= mn && twa <= mx, s"$r outside [$mn,$mx]")
    }
  }

  test("mm_image_resize: a plain-Scala nearest-neighbor replay matches " +
      "the emitted checksum for the first media row") {
    val rows = SparkEntry.queries("q_mm_image_resize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) == 16L, r))
    val first = rows.minBy(_.getLong(0))
    val text = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") ===
        first.getLong(0))
      .select("text").collect()(0).getString(0)
    val n = text.length
    val out = Array.tabulate(16)(j => text.charAt(j * n / 16).toLong)
    assert(first.getLong(1) == n, first)
    assert(first.getLong(3) == out.sum / 16, first)
    assert(first.getLong(4) ==
      out.zipWithIndex.map { case (p, j) => (j + 1) * p }.sum, first)
  }

  test("score_calibration: bins partition the corpus, keep flips " +
      "exactly at the 0.5 bin boundary, mean score sits in its bin") {
    val rows = SparkEntry.queries("q_llm_score_calibration")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (bin, n, keep, mean) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5))
      // z >= 0 <=> raw score >= 0.5, but r4 rounding can lift a
      // just-below-0.5 score onto the 0.5000 grid point (bin 5), so
      // bin 5 may legitimately mix keep values; the outer bins cannot
      if (bin >= 6) assert(keep == n, r)
      if (bin <= 4) assert(keep == 0L, r)
      // double decade boundaries (0.3*10 = 2.999…) can bin a grid
      // point one slot down — identical in both engines; allow ±1 e4
      assert(mean >= bin * 1000 - 1 && mean <= (bin + 1) * 1000, r)
    }
  }

  test("hard_negatives never contain their own query term and rank by " +
      "the enrolled bm25 frame") {
    val rows = SparkEntry.queries("q_llm_hard_negatives")(spark, sf)
      .collect()
    assert(rows.length == 15) // 3 terms x top-5
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    rows.foreach { r =>
      assert(!docs(r.getLong(2)).contains(r.getString(0)),
        s"negative ${r.getLong(2)} contains term ${r.getString(0)}")
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 5, r)
    }
    // within a term, bm25 is non-increasing with rank
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("join_spatial_grid equals the brute-force L-inf theta join " +
      "(grid fan-out loses no pair, invents no pair)") {
    val got = SparkEntry.queries("q_join_spatial_grid")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pts = graft.Tables.part(spark, sf)
      .selectExpr("p_partkey", "CAST(p_size AS BIGINT)",
        "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) div 100")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b && (ax - bx).abs <= 5 && (ay - by).abs <= 5
    } yield (a, b, math.max((ax - bx).abs, (ay - by).abs)))
      .sortBy { case (a, b, c) => (c, a, b) }.take(20)
    assert(got.toList == brute.toList)
  }

  test("ts_m4_downsample: 32-pixel envelope brackets first/last and " +
      "covers every event") {
    val rows = SparkEntry.queries("q_ts_m4_downsample")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(b >= 0 && b < 32, r)
      assert(mn <= r.getLong(5) && r.getLong(5) <= mx, r) // first
      assert(mn <= r.getLong(6) && r.getLong(6) <= mx, r) // last
    }
    assert(rows.map(_.getLong(2)).sum ==
      graft.Tables.events(spark, sf).count())
  }

  test("pref_pairs agree with the enrolled quality scores: chosen is " +
      "the per-source argmax, rejected the argmin, margin >= 0") {
    val pairs = SparkEntry.queries("q_llm_pref_pairs")(spark, sf).collect()
    assert(pairs.nonEmpty)
    val scores = SparkEntry.queries("q_llm_quality_logreg")(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "source"),
        "doc_id")
      .select("source", "doc_id", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    pairs.foreach { r =>
      val src = r.getString(0)
      val inSrc = scores.filter(_._1 == src)
      assert(r.getLong(1) == inSrc.length, r)
      val best = inSrc.minBy { case (_, id, s) => (-s, id) }
      val worst = inSrc.minBy { case (_, id, s) => (s, id) }
      assert(r.getLong(2) == best._2 && r.getLong(4) == worst._2, r)
      assert(r.getLong(6) >= 0, r)
    }
  }

  test("span_corrupt: a plain-Scala replay of the mask policy matches " +
      "the emitted spans, masked counts, and visible checksum") {
    val rows = SparkEntry.queries("q_llm_span_corrupt")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val texts = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") <=
        rows.map(_.getLong(0)).max)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val tk = texts(r.getLong(0)).split(" ", -1)
      val n = tk.length
      val spans = (0 until n).count(_ % 7 == 3)
      val masked = (0 until n).filter(_ % 7 == 3)
        .map(i => math.min(2, n - i)).sum
      val visible = (0 until n)
        .filter(i => i % 7 != 3 && i % 7 != 4)
        .map(i => (i + 1).toLong * tk(i).length).sum
      assert(r.getLong(1) == n && r.getLong(2) == spans &&
        r.getLong(3) == masked && r.getLong(5) == visible, r)
    }
  }

  test("events_rfm: quintile cells partition the purchasing users and " +
      "averages derive from the emitted totals") {
    val rows = SparkEntry.queries("q_events_rfm")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(r.getInt(0), r.getInt(1), r.getInt(2)).foreach(s =>
        assert(s >= 1 && s <= 5, r))
      assert(r.getLong(5) == r.getLong(4) / r.getLong(3), r)
    }
    val users = graft.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(3)).sum == users)
  }

  test("embed_calib: one calibration row per dim, zero point in uint8 " +
      "range, scale covers the span") {
    val rows = SparkEntry.queries("q_llm_embed_calib")(spark, sf).collect()
    assert(rows.length == 64)
    val nVec = graft.Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) == nVec, r)
      assert(r.getLong(2) <= r.getLong(3), r)          // min <= max
      val scale = r.getLong(5); val zp = r.getLong(6)
      assert(scale >= 0 && scale * 255 <= r.getLong(3) - r.getLong(2), r)
      assert(zp >= 0 && zp <= 255, r)
    }
  }

  test("mm_audio_vad frame count agrees with mm_audio_decode sample " +
      "count (ceil n/160) and activity is bounded") {
    val vad = SparkEntry.queries("q_mm_audio_vad")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val dec = SparkEntry.queries("q_mm_audio_decode")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // media_id -> n_samples
    assert(vad.nonEmpty && vad.keySet == dec.keySet)
    vad.foreach { case (id, r) =>
      val nSamples = dec(id)
      assert(r.getLong(1) == (nSamples + 159) / 160, s"$id: $r")
      assert(r.getLong(2) <= r.getLong(1), r)
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1), r)
    }
  }

  test("dq_drift: cohorts cover every event and the chi-square is " +
      "nonnegative with at most 10 bands per type") {
    val rows = SparkEntry.queries("q_dq_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 10, r)
      assert(r.getLong(4) >= 0, r)
    }
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("priv_k_anon: suppression census is monotone in k and internally " +
      "consistent (small classes and suppressed rows grow with k)") {
    val rows = SparkEntry.queries("q_priv_k_anon")(spark, sf)
      .orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 5L, 10L))
    // same class table under every k: class count, min, max identical
    assert(rows.map(r => (r.getLong(1), r.getLong(5), r.getLong(6)))
      .distinct.length == 1)
    val smalls = rows.map(_.getLong(2))
    val suppressed = rows.map(_.getLong(3))
    assert(smalls.zip(smalls.tail).forall { case (a, b) => a <= b })
    assert(suppressed.zip(suppressed.tail).forall { case (a, b) => a <= b })
    // a class below k holds at most k-1 rows, and never fewer than 1
    rows.foreach { r =>
      val (k, nSmall, nSupp) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(nSupp >= nSmall && nSupp <= nSmall * (k - 1), r)
    }
  }

  test("priv_l_diversity: class size bounds the diversity measures and " +
      "the census covers every event exactly once") {
    val df = SparkEntry.queries("q_priv_l_diversity")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sz, l, share) = (r.getLong(2), r.getLong(3), r.getLong(5))
      assert(l >= 1 && l <= sz, r)
      // top value's share: at least the even split, at most everything
      assert(share >= 10000 / sz && share <= 10000, r)
      assert(r.getBoolean(4) == (l >= 3), r)
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("dq_constraints: 7 checks pass clean; the uniqueness check " +
      "correctly CATCHES the fixture's real duplicate (orderkey, " +
      "linenumber) pairs — the suite detects, not rubber-stamps") {
    val rows = SparkEntry.queries("q_dq_constraints")(spark, sf).collect()
    assert(rows.length == 8)
    val (uniq, clean) = rows.partition(
      _.getString(0) == "li_unique_order_line")
    assert(clean.forall(r => r.getBoolean(3) && r.getLong(2) == 0L),
      clean.filterNot(_.getBoolean(3)).toSeq)
    // the synthetic fixture is TPC-H-ISH: (l_orderkey, l_linenumber) is
    // NOT unique in it (verified against DuckDB directly), and the
    // constraint row must report exactly that breach
    val dups = graft.Tables.lineitem(spark, sf).count() -
      graft.Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_linenumber").distinct().count()
    assert(dups > 0, "fixture drift: duplicates disappeared — " +
      "restore the all-pass assertion")
    assert(!uniq.head.getBoolean(3) && uniq.head.getLong(2) == dups,
      uniq.head)
    val nLi = graft.Tables.lineitem(spark, sf).count()
    val nOrd = graft.Tables.orders(spark, sf).count()
    rows.foreach { r =>
      val expected = if (r.getString(0) == "ord_ref_custkey") nOrd else nLi
      assert(r.getLong(1) == expected, r)
    }
  }

  test("dq_profile: orders PK profiles as unique and non-null, and every " +
      "column's min_v <= max_v") {
    val rows = SparkEntry.queries("q_dq_profile")(spark, sf).collect()
    assert(rows.length == 6)
    val byCol = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val nOrd = graft.Tables.orders(spark, sf).count()
    assert(byCol("o_orderkey") ==
      ((0L, nOrd, byCol("o_orderkey")._3, byCol("o_orderkey")._4)))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4), r)
      assert(r.getLong(1) >= 0 && r.getLong(2) >= 1, r)
    }
  }

  test("priv_t_closeness: TV distance is a probability-metric value in " +
      "[0, 1e4], bands stay within the decile domain, and the class " +
      "sizes partition the fact table") {
    val rows = SparkEntry.queries("q_priv_t_closeness")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Long]("tv_e4")
      assert(tv >= 0L && tv <= 10000L, r)
      assert(r.getAs[Boolean]("t_ok") == (tv <= 2500L), r)
      val present = r.getAs[Long]("n_present")
      assert(present >= 1L && present <= 10L, r)
    }
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("dq_benford: digit census partitions lineitem, truncated shares " +
      "sum to within 9 of 1e4, and the deviation column is consistent") {
    val rows = SparkEntry.queries("q_dq_benford")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("digit")).forall(d => d >= 1 && d <= 9))
    val n = rows.map(_.getAs[Long]("n_obs")).sum
    assert(n == graft.Tables.lineitem(spark, sf).count())
    val shareSum = rows.map(_.getAs[Long]("share_e4")).sum
    assert(shareSum <= 10000L && shareSum >= 10000L - 9, s"sum=$shareSum")
    rows.foreach { r =>
      assert(r.getAs[Long]("abs_dev_e4") ==
        math.abs(r.getAs[Long]("share_e4") - r.getAs[Long]("benford_e4")),
        r)
    }
  }

  test("dq_ks_test: cohorts partition orders and the D statistic is a " +
      "CDF-distance value in [0, 1e4] at a support point") {
    val rows = SparkEntry.queries("q_dq_ks_test")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_even") + r.getAs[Long]("n_odd") ==
      graft.Tables.orders(spark, sf).count())
    val d = r.getAs[Long]("d_e4")
    assert(d >= 0L && d <= 10000L, r)
    assert(r.getAs[Long]("n_support") >= 1L)
    assert(r.getAs[Long]("d_at_cents") > 0L)
  }

  test("llm_bleu: clipped precisions are probabilities, gm2 is their " +
      "exact product, and the frame is sorted by gm2 desc") {
    val rows = SparkEntry.queries("q_llm_bleu")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val p1 = r.getAs[Long]("p1_e4"); val p2 = r.getAs[Long]("p2_e4")
      assert(p1 >= 0L && p1 <= 10000L, r)
      assert(p2 >= 0L && p2 <= 10000L, r)
      assert(r.getAs[Long]("gm2_e8") == p1 * p2, r)
      assert(r.getAs[Long]("len_ratio_e4") <= 10000L, r)
      assert(r.getAs[Long]("len_c") >= 2L && r.getAs[Long]("len_r") >= 2L,
        r)
    }
    val gms = rows.map(_.getAs[Long]("gm2_e8")).toSeq
    assert(gms == gms.sorted.reverse, "not sorted by gm2_e8 desc")
  }

  test("llm_mattr: vocab bounds, full blocks consume at most the " +
      "language's tokens, and the naive TTR column recomputes") {
    val rows = SparkEntry.queries("q_llm_mattr")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens"); val nv = r.getAs[Long]("n_vocab")
      assert(nv >= 1L && nv <= nt, r)
      assert(r.getAs[Long]("ttr_e4") == nv * 10000L / nt, r)
      assert(r.getAs[Long]("n_blocks") * 50L <= nt, r)
      val m = r.getAs[Long]("mattr_e4")
      assert(m >= 0L && m <= 10000L, r)
    }
  }

  test("events_survival: the lifetime census is a valid KM input table " +
      "(risk set telescopes, hazards are probabilities, last row dies)") {
    val rows = SparkEntry.queries("q_events_survival")(spark, sf)
      .orderBy("lifetime_days").collect()
    assert(rows.nonEmpty)
    val nUsers = rows.map(_.getAs[Long]("n_end")).sum
    // first row's risk set is everyone; risk sets telescope by n_end
    assert(rows.head.getAs[Long]("n_risk") == nUsers)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") ==
          a.getAs[Long]("n_risk") - a.getAs[Long]("n_end"))
      case _ =>
    }
    rows.foreach { r =>
      val h = r.getAs[Long]("hazard_e6")
      assert(h >= 0L && h <= 1000000L, r)
    }
    // everyone still at risk at the max lifetime dies there: h = 1
    assert(rows.last.getAs[Long]("hazard_e6") == 1000000L)
  }

  test("ts_spearman_trend: rho is a correlation in [-1e4, 1e4] and the " +
      "rank-d2 sum is bounded by the permutation maximum") {
    val rows = SparkEntry.queries("q_ts_spearman_trend")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n"); val s = r.getAs[Long]("sum_d2")
      val rho = r.getAs[Long]("rho_e4")
      assert(rho >= -10000L && rho <= 10000L, r)
      // max sum d^2 over permutations = (n^3 - n) / 3 (full reversal)
      assert(s >= 0L && s <= (n * n * n - n) / 3L, r)
    }
  }

  test("llm_vocab_budget: the coverage curve is monotone in budget and " +
      "caps at the full occurrence mass") {
    val rows = SparkEntry.queries("q_llm_vocab_budget")(spark, sf)
      .orderBy("budget").collect()
    assert(rows.map(_.getAs[Long]("budget")).toSeq ==
      Seq(4L, 8L, 16L, 32L))
    val covs = rows.map(_.getAs[Long]("coverage_e4")).toSeq
    assert(covs == covs.sorted, "coverage not monotone in budget")
    covs.foreach(c => assert(c >= 0L && c <= 10000L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_types_used") <= r.getAs[Long]("budget"), r)
      assert(r.getAs[Long]("n_covered") >= r.getAs[Long]("n_types_used"),
        r)
    }
  }

  test("mm_image_stats: pixel stats are internally consistent (mean " +
      "between min and max, m2 zero iff flat image)") {
    val rows = SparkEntry.queries("q_mm_image_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mn = r.getAs[Long]("min_px"); val mx = r.getAs[Long]("max_px")
      val mu = r.getAs[Long]("mean_px")
      assert(mn <= mu && mu <= mx, r)
      assert(mn >= 0L && mx <= 255L, r)
      val m2 = r.getAs[Long]("m2_px")
      assert(m2 >= 0L, r)
      if (mn == mx) assert(m2 == 0L, r)
      if (mn < mx) assert(m2 > 0L, r)
      assert(r.getAs[Long]("n_px") >= 1L, r)
    }
  }

  test("graph_transitivity: the closure ratio is a probability and " +
      "triangles are bounded by wedges") {
    val rows = SparkEntry.queries("q_graph_transitivity")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val t = r.getAs[Long]("n_triangles"); val w = r.getAs[Long]("n_wedges")
    assert(t >= 0L && 3L * t <= w, r)
    val tr = r.getAs[Long]("transitivity_e4")
    assert(tr >= 0L && tr <= 10000L, r)
    assert(tr == 3L * t * 10000L / w, r)
  }

  test("events_retention_curve: the curve is monotone non-increasing " +
      "and cohorts shrink with the horizon") {
    val rows = SparkEntry.queries("q_events_retention_curve")(spark, sf)
      .orderBy("n_days").collect()
    assert(rows.map(_.getAs[Long]("n_days")).toSeq == Seq(1L, 7L, 14L))
    val rets = rows.map(_.getAs[Long]("retention_e4")).toSeq
    assert(rets == rets.sorted.reverse, s"curve not monotone: $rets")
    val cohorts = rows.map(_.getAs[Long]("n_cohort")).toSeq
    assert(cohorts == cohorts.sorted.reverse,
      s"cohorts grew with horizon: $cohorts")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_retained") <= r.getAs[Long]("n_cohort"), r)
    }
  }

  test("parts_abc: classes partition parts and revenue, and the " +
      "cumulative shares respect the 80/95 boundaries") {
    val rows = SparkEntry.queries("q_parts_abc")(spark, sf).collect()
    val byCls = rows.map(r => r.getAs[String]("cls") -> r).toMap
    assert(byCls.keySet == Set("A", "B", "C"))
    val nParts = rows.map(_.getAs[Long]("n_parts")).sum
    assert(nParts ==
      graft.Tables.lineitem(spark, sf).select("l_partkey")
        .distinct().count())
    val shares = rows.map(_.getAs[Long]("rev_share_e4")).sum
    assert(shares <= 10000L && shares >= 10000L - 3, shares)
    // A covers at least the 80% threshold (boundary part included)
    assert(byCls("A").getAs[Long]("rev_share_e4") >= 8000L - 1L)
  }

  test("ts_theil_sen + mann_kendall: shared pair census, estimator " +
      "sign forces test sign, verdict is the pinned cross-multiply") {
    val ts = SparkEntry.queries("q_ts_theil_sen")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val mk = SparkEntry.queries("q_ts_mann_kendall")(spark, sf).collect()
    assert(mk.nonEmpty && ts.nonEmpty)
    assert(mk.map(_.getAs[Long]("user_id")).toSet == ts.keySet)
    mk.foreach { r =>
      val n = r.getAs[Long]("n_days"); val np = r.getAs[Long]("n_pairs")
      assert(np == n * (n - 1) / 2, r)
      assert(ts(r.getAs[Long]("user_id")).getAs[Long]("n_pairs") == np, r)
      val s = r.getAs[Long]("s_stat")
      assert(math.abs(s) <= np, r)
      val var18 = r.getAs[Long]("var18")
      assert(var18 == n * (n - 1) * (2 * n + 5), r)
      assert(r.getAs[Boolean]("significant_95") ==
        (s * s * 180000L > 38416L * var18), r)
      // lower median > 0 ⟹ ≥ half the pair slopes are positive ⟹
      // S ≥ 1; lower median < 0 ⟹ S ≤ 0 (counting argument over the
      // ascending rank — see theilSen scaladoc)
      val slope = ts(r.getAs[Long]("user_id")).getAs[Long]("theil_sen_e6")
      if (slope > 0) assert(s > 0, r)
      if (slope < 0) assert(s <= 0, r)
    }
  }

  test("llm_bradley_terry: normalized to mean 1e6 over the roster; " +
      "with a uniform game matrix strength order follows win order") {
    val rows = SparkEntry.queries("q_llm_bradley_terry")(spark, sf)
      .collect()
    assert(rows.length >= 2)
    val k = rows.length.toLong
    val sumBt = rows.map(_.getAs[Long]("bt_e6")).sum
    // normalization truncates per row, so the sum sits in [k·1e6−k, k·1e6]
    assert(sumBt <= k * 1000000L && sumBt >= k * 1000000L - k, sumBt)
    rows.foreach { r =>
      assert(r.getAs[Long]("wins") <= r.getAs[Long]("games"), r)
      assert(r.getAs[Long]("bt_e6") >= 0L, r)
    }
    // uniform games ⇒ MM iteration 1 orders by wins, iteration 2
    // preserves it (higher w1 shrinks the denominator) — so BT must
    // not invert a win-count comparison
    if (rows.map(_.getAs[Long]("games")).distinct.length == 1) {
      for {
        a <- rows; b <- rows
        if a.getAs[Long]("wins") > b.getAs[Long]("wins")
      } assert(a.getAs[Long]("bt_e6") >= b.getAs[Long]("bt_e6"),
        s"BT inverted wins: $a vs $b")
    }
  }

  test("ts_kendall_tau: the pair census partitions C(n,2) and tau-b " +
      "squared is a bounded probability ratio") {
    val rows = SparkEntry.queries("q_ts_kendall_tau")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val n = r.getAs[Long]("n_days"); val np = r.getAs[Long]("n_pairs")
    assert(np == n * (n - 1) / 2, r)
    val (c, d) = (r.getAs[Long]("concordant"), r.getAs[Long]("discordant"))
    val (tx, ty, tb) = (r.getAs[Long]("ties_x"), r.getAs[Long]("ties_y"),
      r.getAs[Long]("ties_both"))
    // every pair is concordant, discordant, or tied in ≥1 metric;
    // ties_x/ties_y both count the both-tied pairs once
    assert(c + d + tx + ty - tb == np, r)
    assert(tb <= tx && tb <= ty, r)
    val t2 = r.getAs[Long]("taub2_e8")
    assert(math.abs(t2) <= 100000000L, r) // |tau_b| <= 1
  }

  test("llm_rbo: overlap curve is monotone, depth-bounded, and the " +
      "running RBO reproduces the authored weight literals") {
    val rows = SparkEntry.queries("q_llm_rbo")(spark, sf)
      .orderBy("depth").collect()
    assert(rows.map(_.getAs[Long]("depth")).toSeq == (1L to 10L))
    // L_d = (9^(d-1) * 10^9) div (d * 10^d), the single-rounding
    // authored literals shared by both arms
    val l = (1 to 10).map(dd =>
      (BigInt(9).pow(dd - 1) * BigInt(10).pow(9) /
        (BigInt(dd) * BigInt(10).pow(dd))).toLong)
    var prevOv = 0L; var cum = 0L
    rows.foreach { r =>
      val dd = r.getAs[Long]("depth").toInt
      val ov = r.getAs[Long]("ov")
      assert(ov >= prevOv && ov <= dd, r); prevOv = ov
      assert(r.getAs[Long]("term_e9") == ov * l(dd - 1), r)
      cum += ov * l(dd - 1)
      assert(r.getAs[Long]("rbo_cum_e9") == cum, r)
    }
    // truncated RBO_10 can never exceed sum(d * L_d) (identical lists)
    assert(cum <= (1 to 10).map(dd => dd * l(dd - 1)).sum)
  }

  test("dq_fd_violations: six declared FDs audited, verdicts match " +
      "the census, and the two key FDs hold") {
    val rows = SparkEntry.queries("q_dq_fd_violations")(spark, sf)
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_violating") <= r.getAs[Long]("n_groups"), r)
      assert(r.getAs[Boolean]("fd_holds") ==
        (r.getAs[Long]("max_rhs") == 1L), r)
      assert(r.getAs[Boolean]("fd_holds") ==
        (r.getAs[Long]("n_violating") == 0L), r)
    }
    val byFd = rows.map(r => r.getAs[String]("fd") -> r).toMap
    assert(byFd("nation.n_nationkey->n_regionkey")
      .getAs[Boolean]("fd_holds"))
    assert(byFd("supplier.s_suppkey->s_nationkey")
      .getAs[Boolean]("fd_holds"))
  }

  test("llm_judge_kappa: confusion cells partition the corpus, both " +
      "judges vary, and kappa is bounded by observed agreement") {
    val r = SparkEntry.queries("q_llm_judge_kappa")(spark, sf)
      .collect().head
    val Seq(n, n11, n10, n01, n00) = Seq("n_docs", "n11", "n10",
      "n01", "n00").map(r.getAs[Long])
    assert(n11 + n10 + n01 + n00 == n, r)
    // the thresholds exist to give BOTH judges variance — a constant
    // judge (the z>=0 trap this row documents) degenerates kappa
    assert(n11 + n10 > 0 && n01 + n00 > 0, s"judge1 constant: $r")
    assert(n11 + n01 > 0 && n10 + n00 > 0, s"judge2 constant: $r")
    assert(r.getAs[Long]("po_e4") == (n11 + n00) * 10000 / n, r)
    val k = r.getAs[Long]("kappa_e4")
    assert(k <= 10000 && k >= -10000, r)
    assert(k <= r.getAs[Long]("po_e4") + 1, r) // kappa <= p_o
  }

  test("llm_bootstrap_ci: 100 replicates, ordered interval, and the " +
      "full-corpus mean sits inside (or hugs) the percentile CI") {
    val r = SparkEntry.queries("q_llm_bootstrap_ci")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("b_reps") == 100L)
    val (lo, hi) = (r.getAs[Long]("ci_lo_e4"), r.getAs[Long]("ci_hi_e4"))
    val m = r.getAs[Long]("mean_full_e4")
    assert(lo <= hi, r)
    // Poisson-bootstrap replicate means concentrate on the full mean;
    // a 20-e4 slack absorbs the floored-division quantization
    assert(lo <= m + 20 && hi >= m - 20, r)
  }

  test("ts_stl_lite: strength replays from the emitted SSQs and the " +
      "decomposition is variance-reducing on a seasonal fixture") {
    val r = SparkEntry.queries("q_ts_stl_lite")(spark, sf)
      .collect().head
    val (sd, sr) = (r.getAs[Long]("ssq_det"), r.getAs[Long]("ssq_resid"))
    assert(sd >= 0 && sr >= 0, r)
    val st = r.getAs[Long]("strength_e4")
    assert(st >= 0 && st <= 10000, r)
    assert(st == math.max(0L,
      10000L - sr * 10000L / math.max(sd, 1L)), r)
    (0 to 6).foreach(i => assert(!r.isNullAt(r.fieldIndex(s"s$i")), r))
  }

  test("parts_elasticity: groups partition the fact table and slopes " +
      "stay inside the physically possible range") {
    val rows = SparkEntry.queries("q_parts_elasticity")(spark, sf)
      .collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("n")).sum ==
      graft.Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_qty") > 0, r)
      // qty ∈ [1,50], discount pp ∈ [0,10] ⇒ |slope| < 50 per pp
      assert(math.abs(r.getAs[Long]("slope_e6")) <= 50000000L, r)
    }
  }

  test("events_markov_entropy: conditional entropies bounded by ln k, " +
      "rate is a pi-weighted mean, and pi3 is near-stochastic") {
    val rows = SparkEntry.queries("q_events_markov_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val hs = rows.map(_.getAs[Long]("h_cond_e3"))
    // max entropy over <=5 destinations = ln 5 ~ 1.6094 -> 1609 e3
    hs.foreach(h => assert(h >= 0 && h <= 1611, hs.mkString(",")))
    val rate = rows.head.getAs[Long]("rate_e3")
    assert(rows.forall(_.getAs[Long]("rate_e3") == rate))
    assert(rate >= hs.min - 2 && rate <= hs.max + 2,
      s"rate $rate outside [${hs.min}, ${hs.max}]")
    val piSum = rows.map(_.getAs[Long]("pi3_e6")).sum
    // three truncating power-iteration steps leak at most a few ppm
    assert(piSum <= 1000000L && piSum >= 990000L, piSum)
  }

  test("llm_length_bias: fixed 780-pair census per source and the " +
      "verdict replays from the emitted tau") {
    val rows = SparkEntry.queries("q_llm_length_bias")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val np = r.getAs[Long]("n_pairs")
      // cap = C(40,2): the fixed-size sample pins the census at any sf
      assert(np <= 780L && np > 0L, r)
      // n_pairs must be a triangular number C(k,2) for the k <= 40
      // docs the source actually has
      val k = (1 + math.sqrt(1 + 8.0 * np)).toLong / 2
      assert(k * (k - 1) / 2 == np, r)
      val (c, d) = (r.getAs[Long]("concordant"), r.getAs[Long]("discordant"))
      assert(c + d <= np, r)
      val tau = r.getAs[Long]("tau_a_e4")
      assert(tau == (c - d) * 10000L / np, r)
      assert(r.getAs[Boolean]("length_biased") == (math.abs(tau) > 2000L), r)
    }
  }

  test("events_power_mde: MDE replays from the emitted moments and " +
      "all current metrics can detect a 10% lift") {
    val rows = SparkEntry.queries("q_events_power_mde")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 5)
    rows.foreach { r =>
      val (n, v) = (r.getAs[Long]("n"), r.getAs[Long]("var_c2"))
      assert(n > 0 && v >= 0, r)
      val mde2 = r.getAs[Long]("mde2_c2")
      assert(mde2 == 1568L * v / (100L * math.max(n / 2, 1L)), r)
      val mu = r.getAs[Long]("mean_centi")
      assert(r.getAs[Boolean]("detect_10pct") ==
        (mu * mu / 100 >= mde2), r)
    }
  }

  test("llm_metric_stability: nested arms, deltas replay, and the " +
      "largest arm is closest-or-equal in sample coverage") {
    val rows = SparkEntry.queries("q_llm_metric_stability")(spark, sf)
      .orderBy("n").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq ==
      Seq(50L, 100L, 200L, 400L))
    val full = rows.head.getAs[Long]("full_mean_e4")
    var prevUsed = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("full_mean_e4") == full, r)
      val used = r.getAs[Long]("n_used")
      assert(used >= prevUsed && used <= r.getAs[Long]("n"), r)
      prevUsed = used
      assert(r.getAs[Long]("delta_e4") ==
        r.getAs[Long]("mean_e4") - full, r)
    }
  }

  test("mm_image_entropy: entropy bounded by ln(bins used) and the " +
      "verdict replays from the emitted h") {
    val rows = SparkEntry.queries("q_mm_image_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("h_e3"); val b = r.getAs[Long]("n_bins")
      assert(b >= 1 && b <= 16, r)
      assert(h >= 0, r)
      // H <= ln(n_bins); +2 e3 slack for the per-term floor rounding
      assert(h <= math.floor(math.log(b.toDouble) * 1000).toLong + 2, r)
      assert(r.getAs[Boolean]("low_contrast") == (h < 1040L), r)
    }
  }

  test("ts_forecast_baselines: lag counts differ by exactly the " +
      "horizon and the verdict replays from the MAEs") {
    val r = SparkEntry.queries("q_ts_forecast_baselines")(spark, sf)
      .collect().head
    val (n1, n7) = (r.getAs[Long]("n_naive"), r.getAs[Long]("n_snaive"))
    assert(n1 - n7 == 6L, r) // lag-7 loses 6 more leading days than lag-1
    val (m1, m7) = (r.getAs[Long]("mae_naive_x100"),
      r.getAs[Long]("mae_snaive_x100"))
    assert(m1 >= 0 && m7 >= 0, r)
    assert(r.getAs[Boolean]("snaive_better") == (m7 < m1), r)
  }

  test("dq_temporal_order: census per priority is consistent and the " +
      "percentiles are ordered") {
    val rows = SparkEntry.queries("q_dq_temporal_order")(spark, sf)
      .collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("n")).sum ==
      graft.Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      val (n, neg) = (r.getAs[Long]("n"), r.getAs[Long]("n_negative"))
      assert(neg <= n, r)
      assert(r.getAs[Long]("neg_share_e4") == neg * 10000 / n, r)
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days"), r)
    }
  }

  test("llm_dedup_survivorship: dropped docs outnumber clusters, the " +
      "delta replays, and suboptimal keeps are bounded by clusters") {
    val r = SparkEntry.queries("q_llm_dedup_survivorship")(spark, sf)
      .collect().head
    val (nc, nd) = (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_dropped"))
    assert(nd >= nc, r) // every multi-member cluster drops >= 1 doc
    assert(r.getAs[Long]("delta_e4") ==
      r.getAs[Long]("avg_kept_e4") - r.getAs[Long]("avg_dropped_e4"), r)
    assert(r.getAs[Long]("n_kept_suboptimal") <= nc, r)
  }

  test("priv_uniqueness_curve: risk is monotone along the nested QI " +
      "levels and every census is internally consistent") {
    val rows = SparkEntry.queries("q_priv_uniqueness_curve")(spark, sf)
      .orderBy("ql").collect()
    assert(rows.length == 4)
    val n = graft.Tables.events(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_singletons") <=
        r.getAs[Long]("n_combos"), r)
      assert(r.getAs[Long]("n_records_at_risk") ==
        r.getAs[Long]("n_singletons"), r) // singleton combo = 1 record
      assert(r.getAs[Long]("risk_share_e4") ==
        r.getAs[Long]("n_records_at_risk") * 10000 / n, r)
    }
    // nested QI sets: a singleton under a COARSER set stays singleton
    // under a finer one, so risk is monotone non-decreasing Q1->Q4
    // (Q2 uses dow which is NOT a refinement of Q3's day -> compare
    // only the genuinely nested chain Q1 <= Q2, Q1 <= Q3 <= Q4)
    val byQl = rows.map(r => r.getAs[String]("ql").take(2) -> r).toMap
    def risk(q: String) = byQl(q).getAs[Long]("risk_share_e4")
    assert(risk("Q1") <= risk("Q2"))
    assert(risk("Q1") <= risk("Q3") && risk("Q3") <= risk("Q4"))
  }

  test("ts_max_drawdown: drawdown replays from the emitted levels " +
      "and the share is a probability") {
    val r = SparkEntry.queries("q_ts_max_drawdown")(spark, sf)
      .collect().head
    val dd = r.getAs[Long]("max_drawdown")
    assert(dd >= 0, r)
    assert(dd == r.getAs[Long]("peak_level") -
      r.getAs[Long]("trough_level"), r)
    val sh = r.getAs[Long]("dd_share_e4")
    assert(sh >= 0 && sh <= 10000, r)
  }

  test("ts_anomaly_attribution: one anomaly day, shares sum to ~1 in " +
      "absolute value, and devs replay from the census") {
    val rows = SparkEntry.queries("q_ts_anomaly_attribution")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.map(_.getAs[Long]("anomaly_day")).distinct.length == 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("dev") ==
        r.getAs[Long]("c_day") - r.getAs[Long]("median_daily"), r)
    }
    val absSum = rows.map(r => math.abs(r.getAs[Long]("share_e4"))).sum
    // truncating shares lose at most 1 e4 per row
    assert(absSum <= 10000 && absSum >= 10000 - rows.length,
      s"abs share sum $absSum")
  }

  test("join_asof_tolerance: every purchase survives, matches are " +
      "inside the 24h window, and the verdict replays") {
    val rows = SparkEntry.queries("q_join_asof_tolerance")(spark, sf)
      .collect()
    val nPurch = graft.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase").count()
    assert(rows.length == nPurch) // LEFT semantics: no probe dropped
    val matched = rows.filter(_.getAs[Boolean]("matched"))
    assert(matched.nonEmpty && matched.length < rows.length,
      s"${matched.length}/${rows.length}") // both directions populated
    matched.foreach { r =>
      val age = r.getAs[Long]("age_s")
      assert(age >= 0 && age < 86400L, r)
    }
    rows.filterNot(_.getAs[Boolean]("matched"))
      .foreach(r => assert(r.isNullAt(r.fieldIndex("s_id")), r))
  }

  test("orders_repurchase: segment census partitions customers and " +
      "the gap percentiles are ordered") {
    val rows = SparkEntry.queries("q_orders_repurchase")(spark, sf)
      .collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      graft.Tables.orders(spark, sf)
        .select("o_custkey").distinct().count())
    rows.foreach { r =>
      val (nc, nr) = (r.getAs[Long]("n_customers"), r.getAs[Long]("n_repeat"))
      assert(nr <= nc, r)
      assert(r.getAs[Long]("one_time_share_e4") ==
        (nc - nr) * 10000 / nc, r)
      assert(r.getAs[Long]("p50_gap_days") <=
        r.getAs[Long]("p90_gap_days"), r)
      assert(r.getAs[Long]("p50_gap_days") >= 0, r)
    }
  }

  test("orders_open_aging: only open statuses appear, shares sum to " +
      "~1, and the census partitions the open book") {
    val rows = SparkEntry.queries("q_orders_open_aging")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("status")).toSet.subsetOf(
      Set("O", "P")))
    val nOpen = graft.Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") =!=
        "F").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOpen)
    val shares = rows.map(_.getAs[Long]("share_e4")).sum
    assert(shares <= 10000 && shares >= 10000 - rows.length, shares)
  }

  test("llm_feature_separation: classes partition docs per feature, " +
      "d2 replays, and ttr separates best on this corpus") {
    val rows = SparkEntry.queries("q_llm_feature_separation")(spark, sf)
      .collect()
    assert(rows.length == 3)
    val nDocs = graft.Tables.documents(spark, sf).count()
    val byF = rows.map(r => r.getAs[String]("feature") -> r).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_keep") + r.getAs[Long]("n_drop") == nDocs, r)
      val d = r.getAs[Long]("mean_keep_e4") - r.getAs[Long]("mean_drop_e4")
      // d2 replay needs pooled_var, which is internal; check bounds only
      assert(r.getAs[Long]("d2_e4") >= 0, r)
      if (d == 0) assert(r.getAs[Long]("d2_e4") == 0, r)
    }
    // the documented fixture finding: TTR is the strongest separator
    assert(byF("ttr").getAs[Long]("d2_e4") >=
      byF("stop_ratio").getAs[Long]("d2_e4"))
  }

  test("llm_auc: the rank-sum AUC is a probability, classes " +
      "partition the vectors, and 2U is bounded by 2*n1*n0") {
    val r = SparkEntry.queries("q_llm_auc")(spark, sf).collect().head
    val (n1, n0) = (r.getAs[Long]("n1"), r.getAs[Long]("n0"))
    assert(n1 + n0 ==
      graft.Tables.embeddings(spark, sf).count())
    val u2 = r.getAs[Long]("u2")
    assert(u2 >= 0 && u2 <= 2 * n1 * n0, r)
    val auc = r.getAs[Long]("auc_e4")
    assert(auc >= 0 && auc <= 10000, r)
    assert(auc == u2 * 10000 / (2 * n1 * n0), r)
  }

  test("events_cumulative_users: the curve is monotone, ends at the " +
      "distinct-user total, and new_users sums to it") {
    val rows = SparkEntry.queries("q_events_cumulative_users")(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    val total = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.last.getAs[Long]("cumulative_users") == total)
    assert(rows.map(_.getAs[Long]("new_users")).sum == total)
    var prev = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("cumulative_users")
      assert(c >= prev, r); prev = c
      assert(c >= r.getAs[Long]("new_users"), r)
    }
  }

  test("dq_balance_fences: planted contamination reconciles and the " +
      "fence census never exceeds the population") {
    val r = SparkEntry.queries("q_dq_balance_fences")(spark, sf)
      .collect().head
    val n = r.getAs[Long]("n_suppliers")
    assert(n == graft.Tables.supplier(spark, sf).count())
    assert(r.getAs[Long]("q1_c") <= r.getAs[Long]("q3_c"), r)
    assert(r.getAs[Long]("iqr_c") ==
      r.getAs[Long]("q3_c") - r.getAs[Long]("q1_c"), r)
    val (out, planted, caught) = (r.getAs[Long]("n_outliers"),
      r.getAs[Long]("n_planted"), r.getAs[Long]("n_planted_caught"))
    assert(caught <= planted && caught <= out, r)
    assert(out <= n, r)
  }

  test("ts_ljung_box: Q is nonnegative, the verdict replays, and the " +
      "rejection rate sits near the 5% alpha on white-noise data") {
    val rows = SparkEntry.queries("q_ts_ljung_box")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("q_e4")
      assert(q >= 0, r)
      assert(r.getAs[Boolean]("white_noise_rejected") == (q > 78150L), r)
    }
    val rejRate = rows.count(_.getAs[Boolean]("white_noise_rejected"))
      .toDouble / rows.length
    assert(rejRate <= 0.15, s"rejection rate $rejRate on iid values")
  }

  test("llm_err: ten cascade rows whose products, terms, and running " +
      "ERR all replay exactly, with ERR bounded by one") {
    val rows = SparkEntry.queries("q_llm_err")(spark, sf)
      .orderBy("rank").collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    var p = 1L
    var cum = 0L
    rows.foreach { r =>
      val g = r.getAs[Long]("gain")
      assert(g >= 0 && g <= 3, r)
      val a = (1L << g) - 1
      assert(r.getAs[Long]("p_num") == p, r) // prefix product replay
      val rk = r.getAs[Long]("rank")
      val term = a * p * 1000000L / ((1L << (3 * rk)) * rk)
      assert(r.getAs[Long]("term_e6") == term, r)
      cum += term
      assert(r.getAs[Long]("err_cum_e6") == cum, r)
      p = p * (8 - a)
    }
    assert(cum >= 0 && cum <= 1000000L, cum) // ERR is a probability mix
  }

  test("events_new_returning: the first day is all-new, new users " +
      "sum to the distinct-user total, and the split is conserved") {
    val rows = SparkEntry.queries("q_events_new_returning")(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    val head = rows.head
    assert(head.getAs[Long]("n_new") == head.getAs[Long]("n_active"),
      head)
    rows.foreach { r =>
      val (a, nw, rt) = (r.getAs[Long]("n_active"),
        r.getAs[Long]("n_new"), r.getAs[Long]("n_returning"))
      assert(nw + rt == a && nw >= 0 && rt >= 0, r)
      assert(r.getAs[Long]("new_share_e4") == nw * 10000 / a, r)
    }
    val totalNew = rows.map(_.getAs[Long]("n_new")).sum
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(totalNew == users, s"$totalNew != $users")
  }

  test("llm_quantile_norm: deciles partition each source, targets " +
      "are monotone along the global distribution, and means replay") {
    val rows = SparkEntry.queries("q_llm_quantile_norm")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nDocsTotal = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocsTotal ==
      graft.Tables.documents(spark, sf).count(), "decile partition")
    val targets = rows.groupBy(_.getAs[Long]("decile"))
      .view.mapValues(_.head.getAs[Long]("target_len")).toMap
    val sortedT = targets.toSeq.sortBy(_._1).map(_._2)
    assert(sortedT.zip(sortedT.tail).forall { case (a, b) => a <= b },
      sortedT)
    rows.foreach { r =>
      assert(r.getAs[Long]("decile") >= 0 &&
        r.getAs[Long]("decile") <= 9, r)
      assert(r.getAs[Long]("n_docs") > 0, r)
    }
  }

  test("events_cramers_v: dof pins the authored 24 crit literal, V-sq " +
      "is bounded by one, and the verdict replays from chi2") {
    val rows = SparkEntry.queries("q_events_cramers_v")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    // the assoc_95 literal is chi2 crit for dof=24 — this assertion is
    // what licenses it; a fixture with fewer types/dows must re-author
    assert(r.getAs[Long]("dof") == 24, r)
    assert(r.getAs[Long]("n") ==
      graft.Tables.events(spark, sf).count(), r)
    val chi2 = r.getAs[Long]("chi2_e6")
    assert(chi2 >= 0, r)
    val v2 = r.getAs[Long]("v2_e6")
    assert(v2 == chi2 / (r.getAs[Long]("n") *
      math.min(r.getAs[Long]("k_types") - 1,
        r.getAs[Long]("k_dows") - 1)), r)
    assert(v2 >= 0 && v2 <= 1000000L, r) // V² is a squared correlation
    assert(r.getAs[Boolean]("assoc_95") == (chi2 >= 36415000L), r)
  }

  test("ts_perm_entropy: only transitively-possible patterns appear, " +
      "the census covers every triple, and H is bounded by ln 6") {
    val rows = SparkEntry.queries("q_ts_perm_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val valid = Set(0L, 2L, 3L, 4L, 5L, 7L) // 1 and 6 violate transitivity
    rows.foreach { r =>
      assert(valid(r.getAs[Long]("pattern")), r)
      assert(r.getAs[Long]("n") > 0, r)
    }
    val nDays = graft.Tables.events(spark, sf)
      .selectExpr("(ts_ns div 1000) div 86400000000 as d")
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == nDays - 2, s"$nDays")
    val h = rows.head.getAs[Long]("h_e3")
    // ln 6 · 1000 = 1792 (+1 slack: six lnE3 half-up roundings)
    assert(h >= 0 && h <= 1793, h)
    assert(rows.head.getAs[Long]("pe_norm_e4") == h * 10000 / 1792)
  }

  test("llm_simpson: the two complements sum to one, effective vocab " +
      "never exceeds actual vocab, and concentration bounds hold") {
    val rows = SparkEntry.queries("q_llm_simpson")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("match_e6")
      assert(m >= 0 && m <= 1000000L, r)
      assert(m + r.getAs[Long]("gini_simpson_e6") == 1000000L, r)
      val inv = r.getAs[Long]("inv_simpson_e3")
      assert(inv >= 1000L, r) // at least one effective type
      // the without-replacement estimator can exceed V by up to
      // (V−1)/(c̄−1) on even counts — one effective type of slack
      assert(inv <= r.getAs[Long]("vocab") * 1000L + 1000L, r)
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tok"), r)
    }
  }

  test("parts_price_index: every brand's base year indexes to 10000 " +
      "exactly and the base year is that brand's first") {
    val rows = SparkEntry.queries("q_parts_price_index")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byBrand = rows.groupBy(_.getAs[String]("brand"))
    byBrand.foreach { case (b, rs) =>
      val minYr = rs.map(_.getAs[Long]("yr")).min
      assert(rs.forall(_.getAs[Long]("base_yr") == minYr), b)
      val baseRow = rs.find(_.getAs[Long]("yr") == minYr).get
      assert(baseRow.getAs[Long]("uv_index_e4") == 10000L, baseRow)
      rs.foreach { r =>
        assert(r.getAs[Long]("uv_index_e4") > 0, r)
        assert(r.getAs[Long]("n_lines") > 0, r)
      }
    }
  }

  test("events_perm_test: exactly 100 deterministic permutations, the " +
      "add-one p can never be zero, and the verdict replays") {
    val rows = SparkEntry.queries("q_events_perm_test")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_perms") == 100L, r)
    val p = r.getAs[Long]("p_e4")
    assert(p == (r.getAs[Long]("n_extreme") + 1) * 10000 / 101, r)
    assert(p > 0 && p <= 10000, r) // add-one convention floor
    assert(r.getAs[Boolean]("sig_95") == (p <= 500), r)
  }

  test("llm_char_cond_entropy: conditioning never raises entropy " +
      "(within lnE3 slack), MI replays, and the pair census is total") {
    val rows = SparkEntry.queries("q_llm_char_cond_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hc, h2) = (r.getAs[Long]("h_cond_e3"), r.getAs[Long]("h2_e3"))
      assert(hc >= 0 && h2 >= 0, r)
      // H(c2|c1) ≤ H(c2): each side carries ≤1 milli-nat of lnE3
      // rounding, so allow 2
      assert(hc <= h2 + 2, r)
      assert(r.getAs[Long]("mi_e3") == h2 - hc, r)
    }
    val expected = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) >= 2)
      .selectExpr("source", "length(text) - 1 AS np")
      .groupBy("source").agg(
        org.apache.spark.sql.functions.sum("np").as("np"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Long]("np")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") ==
        expected(r.getAs[String]("source")), r)
    }
  }

  test("llm_burrows_delta: all C(S,2) unordered pairs appear once, " +
      "every pair scores 20 words, and the distance is nonnegative") {
    val rows = SparkEntry.queries("q_llm_burrows_delta")(spark, sf)
      .collect()
    val sources = graft.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length == sources * (sources - 1) / 2,
      s"${rows.length} pairs for $sources sources")
    val pairs = rows.map(r => (r.getAs[String]("src_a"),
      r.getAs[String]("src_b"))).toSet
    assert(pairs.size == rows.length, "duplicate pair")
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"), r)
      assert(r.getAs[Long]("n_words") == 20L, r)
      assert(r.getAs[Long]("delta2_e4") >= 0, r)
    }
  }

  test("ts_sax_motifs: words are 3-symbol a-d strings, shares replay, " +
      "and the census covers every complete 3-block window") {
    val rows = SparkEntry.queries("q_ts_sax_motifs")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("word").matches("[a-d]{3}"), r)
      assert(r.getAs[Long]("n") > 0, r)
    }
    val nBlocks = graft.Tables.events(spark, sf)
      .selectExpr("((ts_ns div 1000) div 86400000000) div 7 as blk")
      .distinct().count()
    val totalWords = rows.map(_.getAs[Long]("n")).sum
    assert(totalWords == nBlocks - 2, s"$totalWords vs $nBlocks blocks")
    val nn = totalWords
    rows.foreach { r =>
      assert(r.getAs[Long]("share_e4") == r.getAs[Long]("n") * 10000 / nn,
        r)
    }
  }

  test("llm_ql_dirichlet: exactly ten ranked rows, scores are " +
      "negative log-probs descending, and BM25 overlap is nonempty") {
    val rows = SparkEntry.queries("q_llm_ql_dirichlet")(spark, sf)
      .orderBy("rank").collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    val scores = rows.map(_.getAs[Long]("ql_e3"))
    assert(scores.forall(_ < 0), "QL is a log-prob — must be negative")
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      scores.toSeq)
    // the two lexical scorers rank the same corpus with the same
    // terms: total disagreement would mean one of them is broken
    assert(rows.count(_.getAs[Boolean]("in_bm25_top10")) >= 3,
      rows.map(_.getAs[Boolean]("in_bm25_top10")).toSeq)
  }

  test("ts_bollinger: every full-window day appears once, a breach " +
      "is never both sides, and the sqrt-free verdict replays") {
    val rows = SparkEntry.queries("q_ts_bollinger")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!(r.getAs[Boolean]("breach_up") &&
        r.getAs[Boolean]("breach_dn")), r)
    }
    val nDays = graft.Tables.events(spark, sf)
      .selectExpr("(ts_ns div 1000) div 86400000000 as d")
      .distinct().count()
    assert(rows.length == nDays - 6, s"${rows.length} vs $nDays days")
    // a 2σ band over ~30 iid-ish days should alarm rarely, not never
    // or always
    val breaches = rows.count(r => r.getAs[Boolean]("breach_up") ||
      r.getAs[Boolean]("breach_dn"))
    assert(breaches < rows.length / 2, s"$breaches of ${rows.length}")
  }

  test("events_user_entropy: buckets partition the user base, shares " +
      "replay, and no user exceeds the ln(5) ceiling") {
    val rows = SparkEntry.queries("q_events_user_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users)
    rows.foreach { r =>
      // ln 5 · 1000 = 1609 (+1 lnE3 rounding slack)
      assert(r.getAs[Long]("max_h_e3") <= 1610, r)
      assert(r.getAs[Long]("min_h_e3") >= 0, r)
      assert(r.getAs[Long]("min_h_e3") / 25 == r.getAs[Long]("bucket"),
        r)
      assert(r.getAs[Long]("max_h_e3") / 25 == r.getAs[Long]("bucket"),
        r)
    }
  }

  test("llm_centroid_shift: every label appears, vector counts " +
      "partition the store, and the separation ratio replays") {
    val rows = SparkEntry.queries("q_llm_centroid_shift")(spark, sf)
      .collect()
    val labels = graft.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(rows.length == labels, s"${rows.length} vs $labels labels")
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      graft.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("between_d2") >= 0, r)
      assert(r.getAs[Long]("within_d2") > 0, r)
      assert(r.getAs[Long]("sep_e4") == r.getAs[Long]("between_d2") *
        10000 / math.max(r.getAs[Long]("within_d2"), 1), r)
    }
  }

  test("orders_lead_time: percentile picks are ordered, the rank " +
      "conditions hold against a recomputed distribution, and the " +
      "negative share matches temporal_order's direction") {
    val rows = SparkEntry.queries("q_orders_lead_time")(spark, sf)
      .collect()
    assert(rows.length == 5) // the five TPC-H priorities
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days"), r)
      assert(r.getAs[Long]("neg_share_e4") ==
        r.getAs[Long]("n_neg") * 10000 / r.getAs[Long]("n"), r)
    }
    // recompute one priority's p50 by brute sort and compare
    val prio = rows.head.getAs[String]("prio")
    val lags = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .filter(org.apache.spark.sql.functions.col("o_orderpriority")
        === prio)
      .selectExpr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)" +
        " AS lag")
      .collect().map(_.getLong(0)).sorted
    val p50 = lags((lags.length + 1) / 2 - 1)
    assert(rows.head.getAs[Long]("p50_days") == p50,
      s"${rows.head.getAs[Long]("p50_days")} vs brute $p50")
  }

  test("llm_term_position: each term carries a dense 10-decile grid, " +
      "shares replay from counts, and chi-square is uniform per term") {
    val rows = SparkEntry.queries("q_llm_term_position")(spark, sf)
      .collect()
    val byTerm = rows.groupBy(_.getAs[String]("term"))
    assert(byTerm.size == 3, byTerm.keySet)
    byTerm.foreach { case (term, rs) =>
      assert(rs.map(_.getAs[Long]("decile")).sorted.toSeq ==
        (0L to 9L), term)
      val nt = rs.map(_.getAs[Long]("n")).sum
      assert(nt > 0, term)
      val chi = rs.map(_.getAs[Long]("chi2_e4")).distinct
      assert(chi.length == 1, s"$term chi2 not constant per term")
      val expected = rs.map { r =>
        val d = 10 * r.getAs[Long]("n") - nt
        d * d * 10000 / (10 * nt)
      }.sum
      assert(chi.head == expected, s"$term ${chi.head} vs $expected")
    }
  }

  test("mm_image_otsu: one row per ASCII doc, the threshold separates " +
      "space from letter bins, and doc 0 replays from raw chars") {
    val rows = SparkEntry.queries("q_mm_image_otsu")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("otsu_bin")
      assert(b >= 1 && b <= 15, r)
      val fg = r.getAs[Long]("fg_share_e4")
      assert(fg > 0 && fg < 10000, r)
    }
    // replay the winning threshold for doc 0 from its text
    val text = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .select("text").collect().head.getString(0)
    val hist = new Array[Long](16)
    text.foreach(c => hist(c.toInt >> 4) += 1)
    val n = text.length.toLong
    val s = hist.zipWithIndex.map { case (c, b) => b * c }.sum
    var bestT = -1L; var bestScore = -1L
    var n0 = 0L; var s0 = 0L
    (1 to 15).foreach { t =>
      n0 += hist(t - 1); s0 += (t - 1).toLong * hist(t - 1)
      val n1 = n - n0
      if (n0 > 0 && n1 > 0) {
        val num = s0 * n1 - (s - s0) * n0
        val score = (BigInt(num) * BigInt(num) * BigInt(1048576) /
          BigInt(n0 * n1)).toLong
        if (score > bestScore) { bestScore = score; bestT = t }
      }
    }
    val r0 = rows.find(_.getAs[Long]("media_id") == 0L).get
    assert(r0.getAs[Long]("otsu_bin") == bestT, r0)
    assert(r0.getAs[Long]("score_q") == bestScore, r0)
  }

  test("llm_template_census: openings never exceed docs, a size-one " +
      "max family forces zero template share, and docs partition") {
    val rows = SparkEntry.queries("q_llm_template_census")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_openings") <= r.getAs[Long]("n_docs"), r)
      assert(r.getAs[Long]("max_family") >= 1, r)
      if (r.getAs[Long]("max_family") == 1)
        assert(r.getAs[Long]("templ_share_e4") == 0, r)
    }
  }

  test("llm_mi_feature: the length-derived label leaks through len " +
      "and its ttr proxy, while stop_ratio carries near-zero MI") {
    val rows = SparkEntry.queries("q_llm_mi_feature")(spark, sf)
      .collect()
    assert(rows.length == 3, rows.toSeq)
    val mi = rows.map(r =>
      r.getAs[String]("feature") -> r.getAs[Long]("mi_e3")).toMap
    // lnE3 rounding can dip a hair negative
    mi.values.foreach(v => assert(v >= -2, mi))
    // the label IS a length threshold: len must leak, and on this
    // small-vocab corpus ttr is a length proxy (longer ⇒ lower TTR)
    assert(mi("len") > 10 * math.max(mi("stop"), 1), mi)
    assert(mi("ttr") > 10 * math.max(mi("stop"), 1), mi)
  }

  test("llm_snippet_extract: one snippet per top-3 doc, the window " +
      "really contains its counted hits, and no window beats it") {
    val rows = SparkEntry.queries("q_llm_snippet_extract")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    val terms = Set("join", "vector", "scan")
    rows.foreach { r =>
      val text = graft.Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("doc_id") ===
          r.getAs[Long]("doc_id"))
        .select("text").collect().head.getString(0)
      val toks = text.split(" ")
      val st = r.getAs[Long]("win_start").toInt
      def hitsIn(w: Int): Long = toks.slice(w, w + 16)
        .count(terms.contains).toLong
      assert(hitsIn(st) == r.getAs[Long]("n_hits"), r)
      val maxHits = (0 to math.max(toks.length - 16, 0))
        .map(hitsIn).max
      assert(r.getAs[Long]("n_hits") == maxHits, s"$r vs $maxHits")
      assert(r.getAs[Long]("n_hits") >= 1, r) // top-3 docs match terms
    }
  }

  test("llm_doc_cohesion: the queue is ascending, Jaccard means are " +
      "bounded, and every row has at least one chunk pair") {
    val rows = SparkEntry.queries("q_llm_doc_cohesion")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val coh = rows.map(_.getAs[Long]("cohesion_e4"))
    assert(coh.zip(coh.tail).forall { case (a, b) => a <= b },
      coh.toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") >= 1, r)
      val c = r.getAs[Long]("cohesion_e4")
      assert(c >= 0 && c <= 10000, r)
    }
  }

  test("llm_length_anova: sums of squares replay against a brute " +
      "recompute and eta-squared is the SSB share of SST") {
    val rows = SparkEntry.queries("q_llm_length_anova")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k_sources") == 20L, r) // pins the F literal
    val (ssw, ssb) = (r.getAs[Long]("ssw"), r.getAs[Long]("ssb"))
    assert(r.getAs[Long]("eta2_e4") ==
      ssb * 10000 / math.max(ssb + ssw, 1), r)
    // brute recompute with the same floored-mean quantization
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    val bySrc = docs.groupBy(_._1)
    val mu = docs.map(_._2).sum / docs.length
    val mug = bySrc.view.mapValues(v => v.map(_._2).sum / v.length)
      .toMap
    val sswB = docs.map { case (s, x) =>
      val d = x - mug(s); d * d }.sum
    val ssbB = docs.map { case (s, _) =>
      val d = mug(s) - mu; d * d }.sum
    assert(ssw == sswB && ssb == ssbB, s"($ssw,$ssb) vs ($sswB,$ssbB)")
  }

  test("orders_assoc_rules: ten directed rules descending by " +
      "confidence, each bounded by one, and conviction honors its " +
      "independence pivot") {
    val rows = SparkEntry.queries("q_orders_assoc_rules")(spark, sf)
      .collect()
    assert(rows.length == 10)
    val confs = rows.map(_.getAs[Long]("conf_e4"))
    assert(confs.zip(confs.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val conf = r.getAs[Long]("conf_e4")
      assert(conf > 0 && conf <= 10000, r)
      assert(r.getAs[Long]("conf_e4") ==
        r.getAs[Long]("n_ab") * 10000 / r.getAs[Long]("n_a"), r)
      // conviction > 1e4 iff the rule beats independence, which for
      // these support-floored top-confidence rules must hold
      assert(r.getAs[Long]("conv_e4") >= 10000, r)
    }
  }

  test("llm_int8_quant: per-dim error never exceeds half a quant " +
      "step, MSE is consistent with the max, and labels partition") {
    val rows = SparkEntry.queries("q_llm_int8_quant")(spark, sf)
      .collect()
    val labels = graft.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(rows.length == labels)
    rows.foreach { r =>
      val mx = r.getAs[Long]("max_abs_err_e6")
      // half a 1/127 step = 3937 e6-units (+1 for the div truncation)
      assert(mx <= 3938, r)
      assert(r.getAs[Long]("mse_e12") <= mx * mx, r)
      assert(r.getAs[Long]("mse_e12") >= 0, r)
      assert(r.getAs[Long]("n_dims") % 64 == 0, r) // 64-dim vectors
    }
  }

  test("events_hour_profile: 24 dense hours, shares replay, exactly " +
      "one peak block, and the ratio replays from max over min") {
    val rows = SparkEntry.queries("q_events_hour_profile")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("hour")).sorted.toSeq == (0L to 23L))
    val ns = rows.map(_.getAs[Long]("n"))
    val (mx, mn) = (ns.max, ns.min)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_peak") == (r.getAs[Long]("n") == mx),
        r)
      assert(r.getAs[Long]("peak_ratio_e4") ==
        mx * 10000 / math.max(mn, 1), r)
    }
    val total = ns.sum
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("graph_adamic_adar: predicted links are genuine non-edges, " +
      "scores are positive descending, and common counts are real") {
    val rows = SparkEntry.queries("q_graph_adamic_adar")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val aas = rows.map(_.getAs[Long]("aa_e6"))
    assert(aas.zip(aas.tail).forall { case (a, b) => a >= b })
    assert(aas.forall(_ > 0))
    // spot-check: the top pair must NOT be an existing co-occ edge
    val (u, v) = (rows.head.getAs[Long]("u"), rows.head.getAs[Long]("v"))
    val li = graft.Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("o"),
        org.apache.spark.sql.functions.col("l_partkey").as("pk"))
      .distinct()
    val isEdge = li.as("a").join(li.as("b"),
      org.apache.spark.sql.functions.expr(
        s"a.o = b.o AND a.pk = $u AND b.pk = $v")).count()
    assert(isEdge == 0, s"($u,$v) is an existing edge")
    rows.foreach(r => assert(r.getAs[Long]("n_common") >= 1, r))
  }

  test("llm_shard_balance: eight dense shards, docs and tokens " +
      "partition the corpus, and the imbalance replays") {
    val rows = SparkEntry.queries("q_llm_shard_balance")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("shard")).sorted.toSeq == (0L to 7L))
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    val (mx, mn) = (toks.max, toks.min)
    rows.foreach { r =>
      assert(r.getAs[Long]("imbalance_e4") == mx * 10000 /
        math.max(mn, 1), r)
      assert(r.getAs[Long]("n_tokens") > 0, r)
    }
  }

  test("ts_variance_ratio: three horizons, each VR below the random-" +
      "walk unity on level-stationary counts, and counts shrink by k") {
    val rows = SparkEntry.queries("q_ts_variance_ratio")(spark, sf)
      .orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(2L, 4L, 8L))
    val n1 = rows.map(_.getAs[Long]("n_diffs"))
    assert(n1(0) > n1(1) && n1(1) > n1(2), n1.toSeq) // longer lag, fewer diffs
    rows.foreach { r =>
      assert(r.getAs[Long]("var_k") >= 0, r)
      // iid daily counts are level-stationary, NOT a random walk:
      // VR(k) ≈ 1/k-ish, decisively below unity — the licensing number
      assert(r.getAs[Long]("vr_e4") < 10000, r)
      assert(r.getAs[Long]("vr_e4") >= 0, r)
    }
  }

  test("win_pctl_cont_vs_disc: the disc median is one of the two " +
      "cont legs, cont brackets disc, and differs fires iff legs split") {
    val rows = SparkEntry.queries("q_win_pctl_cont_vs_disc")(spark, sf)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (pa, x2) = (r.getAs[Long]("p50_disc_cents"),
        r.getAs[Long]("p50_cont_x2_cents"))
      val pb = x2 - pa
      assert(pb >= pa, r) // the upper leg can't be below the lower
      assert(r.getAs[Boolean]("differs") == (pa != pb), r)
      // brute replay of both legs for this type
      val vals = graft.Tables.events(spark, sf)
        .filter(org.apache.spark.sql.functions.col("event_type") ===
          r.getAs[String]("event_type"))
        .selectExpr("CAST(floor(value * 100 + 0.5) AS BIGINT) AS c")
        .collect().map(_.getLong(0)).sorted
      val n = vals.length
      assert(pa == vals((n + 1) / 2 - 1), r)
      assert(pb == vals(n / 2), r)
    }
  }

  test("llm_greedy_mix: ranks are the quality order, cume tokens " +
      "telescope, and the picked prefix respects the half budget") {
    val rows = SparkEntry.queries("q_llm_greedy_mix")(spark, sf)
      .orderBy("rank").collect()
    assert(rows.length == 20)
    val qs = rows.map(_.getAs[Long]("q_e4"))
    assert(qs.zip(qs.tail).forall { case (a, b) => a >= b }, qs.toSeq)
    var cum = 0L
    val tt = rows.map(_.getAs[Long]("n_tok")).sum
    rows.foreach { r =>
      cum += r.getAs[Long]("n_tok")
      assert(r.getAs[Long]("cum_tok") == cum, r)
      assert(r.getAs[Boolean]("picked") == (cum * 2 <= tt), r)
    }
    // the greedy prefix is nonempty and strict: not everything picked
    assert(rows.head.getAs[Boolean]("picked"))
    assert(!rows.last.getAs[Boolean]("picked"))
  }

  test("llm_dedup_savings: sources partition the corpus, removals " +
      "are bounded by totals, and the saved-token share replays") {
    val rows = SparkEntry.queries("q_llm_dedup_savings")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    assert(rows.exists(_.getAs[Long]("rm_docs") > 0),
      "fixture has near-dup clusters — some removal expected")
    rows.foreach { r =>
      assert(r.getAs[Long]("rm_docs") <= r.getAs[Long]("n_docs"), r)
      assert(r.getAs[Long]("rm_tok") <= r.getAs[Long]("tot_tok"), r)
      assert(r.getAs[Long]("savings_e4") == r.getAs[Long]("rm_tok") *
        10000 / r.getAs[Long]("tot_tok"), r)
    }
  }

  test("orders_month_index: twelve dense months whose indexes sum to " +
      "the flat-year total within truncation slack") {
    val rows = SparkEntry.queries("q_orders_month_index")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("month")).sorted.toSeq == (1L to 12L))
    val s = rows.map(_.getAs[Long]("index_e4")).sum
    // Σ_m rev_m·12·10⁴/tot = 12·10⁴ exactly; one floor per month
    assert(s <= 120000L && s >= 120000L - 12, s)
    val tot = rows.map(_.getAs[Long]("rev_cents")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("index_e4") ==
        BigInt(r.getAs[Long]("rev_cents")) * 12 * 10000 / tot, r)
    }
  }

  test("events_srm: arms partition the user base, chi-square replays, " +
      "and the healthy md5 split does not alarm") {
    val rows = SparkEntry.queries("q_events_srm")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") ==
      r.getAs[Long]("n_users"))
    assert(r.getAs[Long]("n_users") ==
      graft.Tables.events(spark, sf).select("user_id")
        .distinct().count())
    val d = r.getAs[Long]("n0") - r.getAs[Long]("n1")
    assert(r.getAs[Long]("chi2_e6") ==
      d * d * 1000000 / r.getAs[Long]("n_users"), r)
    assert(r.getAs[Boolean]("srm_alarm") ==
      (r.getAs[Long]("chi2_e6") >= 3841459L), r)
    // md5 is a sound hash: the 50/50 split must be healthy
    assert(!r.getAs[Boolean]("srm_alarm"), r)
  }

  test("llm_jl_distortion: ten fixed probe pairs, ratios replay, and " +
      "the mean distortion sits in the JL concentration band") {
    val rows = SparkEntry.queries("q_llm_jl_distortion")(spark, sf)
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("a_id") % 2 == 0 &&
        r.getAs[Long]("b_id") == r.getAs[Long]("a_id") + 1, r)
      assert(r.getAs[Long]("ratio_e4") == r.getAs[Long]("d2_proj") *
        10000 / math.max(16 * r.getAs[Long]("d2_orig"), 1), r)
      // per-pair distortion at k=16 has sd ≈ sqrt(2/16) ≈ 0.35 —
      // allow ±3σ
      val rt = r.getAs[Long]("ratio_e4")
      assert(rt > 0 && rt < 25000, r)
    }
    val mean = rows.map(_.getAs[Long]("ratio_e4")).sum / 10
    // mean of 10 pairs: sd ≈ 0.11 ⇒ a dead projection (mean ≈ 0) or a
    // broken scale (mean ≈ 2) is excluded at far beyond 3σ
    assert(mean > 6000 && mean < 15000, mean)
  }

  test("agg_grouping_id: twelve cube cells whose bitmask is the flag " +
      "combination and whose grand total counts every line") {
    val rows = SparkEntry.queries("q_agg_grouping_id")(spark, sf)
      .collect()
    assert(rows.length == 12) // 3×2 detail + 3 + 2 + 1
    rows.foreach { r =>
      assert(r.getAs[Long]("gid") ==
        2 * r.getAs[Long]("g_flag") + r.getAs[Long]("g_status"), r)
      // a grouped-out key reads ALL, a kept key never does
      assert((r.getAs[String]("returnflag") == "ALL") ==
        (r.getAs[Long]("g_flag") == 1), r)
      assert((r.getAs[String]("linestatus") == "ALL") ==
        (r.getAs[Long]("g_status") == 1), r)
    }
    val grand = rows.filter(_.getAs[Long]("gid") == 3)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") ==
      graft.Tables.lineitem(spark, sf).count())
  }

  test("llm_bm25_sweep: the default row is its own perfect control " +
      "and parameter corners stay overlapping but not identical") {
    val rows = SparkEntry.queries("q_llm_bm25_sweep")(spark, sf)
      .collect()
    assert(rows.length == 3)
    val d = rows.find(_.getAs[String]("config") == "default").get
    assert(d.getAs[Long]("overlap10") == 10 &&
      d.getAs[Boolean]("top1_same"), d)
    rows.foreach { r =>
      val ov = r.getAs[Long]("overlap10")
      assert(ov >= 0 && ov <= 10, r)
    }
    // the corners must not produce disjoint rankings — same idf, same
    // terms; total divergence would mean a broken scorer
    assert(rows.forall(_.getAs[Long]("overlap10") >= 3), rows.toSeq)
  }

  test("ts_stl_resid_acf: r replays from cov and den, the white " +
      "verdict replays from the cross-multiplied form, and |r| <= 1") {
    val rows = SparkEntry.queries("q_ts_stl_resid_acf")(spark, sf)
      .orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { r =>
      val (cov, den, n) = (r.getAs[Long]("cov"), r.getAs[Long]("den"),
        r.getAs[Long]("n_days"))
      assert(den > 0, r)
      assert(r.getAs[Long]("r_e4") == cov * 10000 / den, r)
      assert(math.abs(r.getAs[Long]("r_e4")) <= 10000, r)
      assert(r.getAs[Boolean]("white_95") ==
        (BigInt(cov) * cov * n * 10000 <= BigInt(38416) * den * den),
        r)
    }
  }

  test("llm_gate_fairness: keeps partition against the gate's own " +
      "verdicts and the odds ratio replays from the complements") {
    val rows = SparkEntry.queries("q_llm_gate_fairness")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nt = rows.map(_.getAs[Long]("n_docs")).sum
    val kt = rows.map(_.getAs[Long]("n_keep")).sum
    assert(nt == graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"))
      assert(k <= n, r)
      assert(r.getAs[Long]("keep_rate_e4") == k * 10000 / n, r)
      val expected = k * ((nt - n) - (kt - k)) * 10000 /
        math.max((n - k) * (kt - k), 1)
      assert(r.getAs[Long]("or_e4") == expected, r)
    }
  }

  test("llm_rare_doc_rank: the queue is descending, shares replay, " +
      "and rare counts never exceed token counts") {
    val rows = SparkEntry.queries("q_llm_rare_doc_rank")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val shares = rows.map(_.getAs[Long]("rare_share_e4"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rare") <= r.getAs[Long]("n_tok"), r)
      assert(r.getAs[Long]("rare_share_e4") ==
        r.getAs[Long]("n_rare") * 10000 / r.getAs[Long]("n_tok"), r)
    }
  }

  test("parts_return_rate: 25 brands, the rate replays, and the " +
      "signed gaps center on the corpus rate") {
    val rows = SparkEntry.queries("q_parts_return_rate")(spark, sf)
      .collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      assert(r.getAs[Long]("rate_e4") == r.getAs[Long]("n_returned") *
        10000 / r.getAs[Long]("n_lines"), r)
      assert(r.getAs[Long]("rate_e4") >= 0 &&
        r.getAs[Long]("rate_e4") <= 10000, r)
    }
    // gaps must straddle zero: not every brand can be above (or
    // below) its own weighted average
    assert(rows.exists(_.getAs[Long]("gap_e4") >= 0))
    assert(rows.exists(_.getAs[Long]("gap_e4") <= 0))
  }

  test("dq_anomaly_drift: yearly rates bracket the corpus rate and " +
      "violations partition against a direct recount") {
    val rows = SparkEntry.queries("q_dq_anomaly_drift")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Long]("rate_e4")
      assert(rate >= 0 && rate <= 10000, r)
      assert(r.getAs[Long]("n_viol") <= r.getAs[Long]("n_lines"), r)
    }
    assert(rows.exists(_.getAs[Long]("gap_e4") >= 0))
    assert(rows.exists(_.getAs[Long]("gap_e4") <= 0))
    val totalViol = rows.map(_.getAs[Long]("n_viol")).sum
    val direct = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .filter("l_shipdate < o_orderdate").count()
    assert(totalViol == direct, s"$totalViol vs $direct")
  }

  test("events_dow_hour: the 7x24 table pins dof 138 (licensing the " +
      "crit literal) and the verdict replays from chi2") {
    val rows = SparkEntry.queries("q_events_dow_hour")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("dof") == 138L, r)
    assert(r.getAs[Long]("chi2_e6") >= 0, r)
    assert(r.getAs[Boolean]("interaction_95") ==
      (r.getAs[Long]("chi2_e6") >= 166415000L), r)
    assert(r.getAs[Long]("n") ==
      graft.Tables.events(spark, sf).count(), r)
  }

  test("llm_budget_threshold: the cutoff is the maximal grid point " +
      "within budget — one grid step looser would blow it") {
    val rows = SparkEntry.queries("q_llm_budget_threshold")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val (cut, kept, tt) = (r.getAs[Long]("cutoff_e4"),
      r.getAs[Long]("tokens_kept"), r.getAs[Long]("tokens_total"))
    assert(kept * 2 <= tt, r)
    assert(r.getAs[Long]("kept_share_e4") == kept * 10000 / tt, r)
    // brute replay: tokens at score >= cut must equal tokens_kept,
    // and the next occupied grid point below must exceed the budget
    val d = graft.operators.ModelPrep.qualityLogreg(spark, sf)
      .join(graft.Tables.documents(spark, sf)
        .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS LONG)" +
          " AS n_tok"), "doc_id")
      .selectExpr("CAST(floor(score * 10000 + 0.5) AS LONG) AS s",
        "n_tok")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(d.filter(_._1 >= cut).map(_._2).sum == kept)
    val lower = d.map(_._1).filter(_ < cut)
    if (lower.nonEmpty) {
      val next = lower.max
      assert(d.filter(_._1 >= next).map(_._2).sum * 2 > tt,
        s"cutoff $cut not maximal — $next also fits")
    }
  }

  test("graph_local_bridges: every reported edge is a genuine edge " +
      "that closes no triangle (brute-checked), ordered by degree") {
    val rows = SparkEntry.queries("q_graph_local_bridges")(spark, sf)
      .collect()
    val li = graft.Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey AS o", "l_partkey AS pk").distinct()
    val nbrs = li.as("a").join(li.as("b"),
      org.apache.spark.sql.functions.expr(
        "a.o = b.o AND a.pk <> b.pk"))
      .selectExpr("a.pk AS x", "b.pk AS y")
    if (rows.isEmpty) {
      // sf0.001 measures ZERO local bridges (every edge closes a
      // triangle — brute-verified here); sf0.01 has 8, covered by the
      // oracle gate. Emptiness must be genuine, not a silent bug:
      // closed pairs = endpoints sharing any common neighbor; an edge
      // outside that set would be a bridge the query missed
      val closed = nbrs.as("p").join(nbrs.as("q"),
        org.apache.spark.sql.functions.expr(
          "p.y = q.y AND p.x <> q.x"))
        .selectExpr("p.x AS x", "q.x AS y").distinct()
      val openEdges = nbrs.join(closed, Seq("x", "y"), "left_anti")
      val samples = openEdges.limit(1).count()
      assert(samples == 0L,
        "query returned no bridges but an open edge exists")
    } else {
      val ds = rows.map(_.getAs[Long]("deg_sum"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
      // brute common-neighbor check for the top bridge
      val (u, v) = (rows.head.getAs[Long]("u"),
        rows.head.getAs[Long]("v"))
      val nu = nbrs.filter(s"x = $u").select("y").distinct()
        .collect().map(_.getLong(0)).toSet
      val nv = nbrs.filter(s"x = $v").select("y").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(nu.contains(v), s"($u,$v) not an edge")
      assert((nu intersect nv).isEmpty,
        s"($u,$v) has common neighbors ${(nu intersect nv).take(3)}")
    }
  }

  test("ts_slope_influence: the LOO slope replays from depleted " +
      "moments computed by brute force") {
    val rows = SparkEntry.queries("q_ts_slope_influence")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("shift_e6") ==
      r.getAs[Long]("slope_loo_e6") - r.getAs[Long]("slope_e6"), r)
    // brute: recompute both slopes from the daily census
    val daily = graft.Tables.events(spark, sf)
      .selectExpr("(ts_ns div 1000) div 86400000000 AS day")
      .groupBy("day").count().collect()
      .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    val d0 = daily.map(_._1).min
    val pts = daily.map { case (d, y) => (d - d0, y) }
    def slope(p: Seq[(Long, Long)]): Long = {
      val n = p.length.toLong
      val st = p.map(_._1).sum; val sy = p.map(_._2).sum
      val sty = p.map { case (t, y) => t * y }.sum
      val stt = p.map { case (t, _) => t * t }.sum
      (n * sty - st * sy) * 1000000 / math.max(n * stt - st * st, 1)
    }
    assert(r.getAs[Long]("slope_e6") == slope(pts.toSeq), r)
    val n = pts.length.toLong; val sy = pts.map(_._2).sum
    val worst = pts.minBy { case (t, y) =>
      (-math.abs(y * n - sy), t) }
    assert(r.getAs[Long]("t0") == worst._1 &&
      r.getAs[Long]("y0") == worst._2, r)
    assert(r.getAs[Long]("slope_loo_e6") ==
      slope(pts.filterNot(_ == worst).toSeq), r)
  }

  test("events_weekend_lift: counts and day splits partition, and " +
      "the cross-multiplied lift replays") {
    val rows = SparkEntry.queries("q_events_weekend_lift")(spark, sf)
      .collect()
    assert(rows.length == 5)
    val total = rows.map(r => r.getAs[Long]("we_cnt") +
      r.getAs[Long]("wd_cnt")).sum
    assert(total == graft.Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("we_days") + r.getAs[Long]("wd_days") >= 7,
        r)
      assert(r.getAs[Long]("lift_e4") == r.getAs[Long]("we_cnt") *
        r.getAs[Long]("wd_days") * 10000 /
        math.max(r.getAs[Long]("wd_cnt") * r.getAs[Long]("we_days"),
          1), r)
    }
  }

  test("llm_greedy_decode: nine steps, the first hop is the true " +
      "bigram argmax (brute), and every hop had support") {
    val rows = SparkEntry.queries("q_llm_greedy_decode")(spark, sf)
      .orderBy("step").collect()
    assert(rows.map(_.getAs[Long]("step")).toSeq == (0L to 8L))
    rows.foreach(r => assert(r.getAs[Long]("bigram_count") > 0, r))
    // brute replay of the first transition
    val toks = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr("doc_id", "posexplode(tk) AS (p, w)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val seed = toks.groupBy(_._3).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.head._1
    assert(rows.head.getAs[String]("tok") == seed)
    val nexts = toks.groupBy(t => (t._1, t._2)).view
      .mapValues(_.head._3).toMap
    val trans = toks.flatMap { case (d, p, w) =>
      nexts.get((d, p + 1)).map(n => (w, n)) }
    val argmax = trans.filter(_._1 == seed).groupBy(_._2).view
      .mapValues(_.size).toSeq.sortBy { case (w, c) => (-c, w) }.head._1
    assert(rows(1).getAs[String]("tok") == argmax)
  }

  test("orders_abc_migration: no ghost N-to-N cell, labels are the " +
      "four classes, and shares sum to one within truncation") {
    val rows = SparkEntry.queries("q_orders_abc_migration")(spark, sf)
      .collect()
    val labels = Set("A", "B", "C", "N")
    rows.foreach { r =>
      assert(labels(r.getAs[String]("class_97")), r)
      assert(labels(r.getAs[String]("class_98")), r)
      assert(!(r.getAs[String]("class_97") == "N" &&
        r.getAs[String]("class_98") == "N"), r)
    }
    val s = rows.map(_.getAs[Long]("share_e4")).sum
    assert(s <= 10000 && s >= 10000 - rows.length, s)
  }

  test("events_type_affinity: all C(5,2) pairs, overlap bounded by " +
      "the smaller base, and Jaccard replays") {
    val rows = SparkEntry.queries("q_events_type_affinity")(spark, sf)
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (b, na, nb) = (r.getAs[Long]("n_both"), r.getAs[Long]("na"),
        r.getAs[Long]("nb"))
      assert(b <= math.min(na, nb), r)
      assert(r.getAs[Long]("jaccard_e4") ==
        b * 10000 / (na + nb - b), r)
    }
  }

  test("llm_beam_decode: two ranked hypotheses over the greedy seed, " +
      "scores ordered and strictly negative log-probs") {
    val rows = SparkEntry.queries("q_llm_beam_decode")(spark, sf)
      .orderBy("rank").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("score_e3") >=
      rows(1).getAs[Long]("score_e3"))
    val greedySeed = SparkEntry.queries("q_llm_greedy_decode")(
      spark, sf).orderBy("step").collect()
      .head.getAs[String]("tok")
    rows.foreach { r =>
      val seq = r.getAs[String]("seq").split(" ")
      assert(seq.length == 4, r) // seed + 3 steps
      assert(seq.head == greedySeed, r)
      assert(seq.last == r.getAs[String]("last"), r)
      assert(r.getAs[Long]("score_e3") < 0, r)
    }
    assert(rows(0).getAs[String]("seq") !=
      rows(1).getAs[String]("seq"))
  }

  test("parts_demand_class: quadrant labels are the four Syntetos-" +
      "Boylan cells, shares sum to one, and counts match the " +
      "eligible-part census") {
    val rows = SparkEntry.queries("q_parts_demand_class")(spark, sf)
      .collect()
    val valid = Set("smooth", "intermittent", "erratic", "lumpy")
    rows.foreach(r => assert(valid(r.getAs[String]("quadrant")), r))
    val s = rows.map(_.getAs[Long]("share_e4")).sum
    assert(s <= 10000 && s >= 10000 - rows.length, s)
    val eligible = graft.Tables.lineitem(spark, sf)
      .selectExpr("l_partkey AS pk",
        "CAST(datediff(l_shipdate, DATE '1995-01-01') AS LONG) AS d")
      .distinct().groupBy("pk").count()
      .filter("count >= 3").count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum == eligible)
  }

  test("mm_image_mirror_hash: forward hashes agree with the dhash " +
      "row, canon is the lexicographic min, and symmetry is honest") {
    val mh = SparkEntry.queries("q_mm_image_mirror_hash")(spark, sf)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val dh = SparkEntry.queries("q_mm_image_dhash")(spark, sf)
      .collect()
    assert(dh.nonEmpty && mh.nonEmpty)
    dh.foreach { d =>
      val m = mh(d.getAs[Long]("media_id"))
      // fourth fingerprint composes with the third: same decode, same
      // bit definition
      assert(m.getAs[Long]("fwd_hi") == d.getAs[Long]("hash_hi"), m)
      assert(m.getAs[Long]("fwd_lo") == d.getAs[Long]("hash_lo"), m)
    }
    mh.values.foreach { m =>
      val (fh, fl) = (m.getAs[Long]("fwd_hi"), m.getAs[Long]("fwd_lo"))
      val (rh, rl) = (m.getAs[Long]("rev_hi"), m.getAs[Long]("rev_lo"))
      val canonFwd = fh < rh || (fh == rh && fl <= rl)
      assert(m.getAs[Long]("canon_hi") == (if (canonFwd) fh else rh), m)
      assert(m.getAs[Long]("canon_lo") == (if (canonFwd) fl else rl), m)
      assert(m.getAs[Boolean]("is_symmetric") ==
        (fh == rh && fl == rl), m)
    }
  }

  test("sql_window_rank: the pure-SQL surface matches the DataFrame " +
      "window row's semantics on the same data") {
    val sqlRows = SparkEntry.queries("q_sql_window_rank")(spark, sf)
      .collect()
    assert(sqlRows.nonEmpty)
    // same semantics as the DataFrame topk-per-group family: rank 1..2
    // per nation, balance descending within nation
    sqlRows.groupBy(_.getAs[Number]("s_nationkey").longValue).foreach {
      case (nk, rs) =>
        assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq ==
          (1 to rs.length), s"nation $nk")
        val bals = rs.sortBy(_.getAs[Int]("rnk"))
          .map(_.getAs[Double]("s_acctbal"))
        assert(bals.zip(bals.tail).forall { case (a, b) => a >= b },
          s"nation $nk")
        assert(rs.length <= 2, s"nation $nk")
    }
  }

  test("dq_id_density: bucket accounting closes and the density " +
      "replays from span and count") {
    val rows = SparkEntry.queries("q_dq_id_density")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n") == r.getAs[Long]("n_distinct"),
      "orderkey must be unique")
    assert(r.getAs[Long]("kb_spanned") ==
      r.getAs[Long]("kb_occupied") + r.getAs[Long]("kb_empty"), r)
    assert(r.getAs[Long]("density_e4") == r.getAs[Long]("n") * 10000 /
      (r.getAs[Long]("max_id") - r.getAs[Long]("min_id") + 1), r)
    assert(r.getAs[Long]("kb_max") <= 1000, r)
  }

  test("llm_cms_width_sweep: overcounting is monotone nonincreasing " +
      "in width and zero only when buckets exceed the vocabulary") {
    val rows = SparkEntry.queries("q_llm_cms_width_sweep")(spark, sf)
      .orderBy("width").collect()
    assert(rows.map(_.getAs[Long]("width")).toSeq ==
      Seq(16L, 64L, 256L))
    val overs = rows.map(_.getAs[Long]("n_overcounted"))
    assert(overs.zip(overs.tail).forall { case (a, b) => a >= b },
      overs.toSeq)
    val vocab = rows.head.getAs[Long]("n_tokens")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == vocab, r)
      assert(r.getAs[Long]("over_share_e4") ==
        r.getAs[Long]("n_overcounted") * 10000 / vocab, r)
      // w=16 < vocab must collide (pigeonhole)
      if (r.getAs[Long]("width") < vocab)
        assert(r.getAs[Long]("n_overcounted") > 0, r)
    }
  }

  test("graph_brand_homophily: the assortativity replays from parts, " +
      "sits in [-1, 1], and the same-brand share is consistent") {
    val rows = SparkEntry.queries("q_graph_brand_homophily")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val (m, same) = (r.getAs[Long]("n_edges"),
      r.getAs[Long]("same_brand"))
    assert(same <= m, r)
    assert(r.getAs[Long]("same_share_e4") == same * 10000 / m, r)
    val h = r.getAs[Long]("homophily_e4")
    assert(h >= -10000 && h <= 10000, r)
    // the same-share must exceed r (r is share minus the null
    // expectation, both under the same positive denominator < 1)
    assert(h <= r.getAs[Long]("same_share_e4") + 1, r)
  }

  test("dq_enum_firstseen: the three columns carry their known value " +
      "sets and everything is present from the first year") {
    val rows = SparkEntry.queries("q_dq_enum_firstseen")(spark, sf)
      .collect()
    val byCol = rows.groupBy(_.getAs[String]("col"))
    assert(byCol("o_orderstatus").map(_.getAs[String]("value")).toSet
      == Set("F", "O", "P"))
    assert(byCol("l_returnflag").map(_.getAs[String]("value")).toSet
      == Set("A", "N", "R"))
    assert(byCol("o_orderpriority").size == 5)
    val firstYears = rows.map(_.getAs[Long]("first_year")).distinct
    assert(firstYears.length == 1,
      s"values appear in different first years: $firstYears — " +
        "enum drift on a fixture documented as stable")
  }

  test("events_lifespan: percentiles replay against a brute sort and " +
      "the one-day share is exact") {
    val rows = SparkEntry.queries("q_events_lifespan")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val spans = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "(ts_ns div 1000) div 86400000000 AS d")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr(
        "max(d) - min(d)").as("span"))
      .collect().map(_.getAs[Long]("span")).sorted
    val n = spans.length
    assert(r.getAs[Long]("n_users") == n)
    assert(r.getAs[Long]("p50_span") == spans((n + 1) / 2 - 1), r)
    assert(r.getAs[Long]("p90_span") == spans((n * 9 + 9) / 10 - 1), r)
    assert(r.getAs[Long]("n_oneday") == spans.count(_ == 0L), r)
  }

  test("dq_seq_inversion: pair accounting closes against the user " +
      "census and the fixture id order respects event time") {
    val rows = SparkEntry.queries("q_dq_seq_inversion")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val nEvents = graft.Tables.events(spark, sf).count()
    val nUsers = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(r.getAs[Long]("n_pairs") == nEvents - nUsers, r)
    // clean-baseline pin: event_id is time-ordered on this fixture —
    // a regenerated fixture that breaks this should be LOUD
    assert(r.getAs[Long]("n_back") == 0L, r)
    assert(r.getAs[Long]("back_share_e4") == 0L, r)
  }

  test("agg_moments_merge: the two-level fold equals the direct fold " +
      "exactly on every group, with chunk sizes accounting") {
    val rows = SparkEntry.queries("q_agg_moments_merge")(spark, sf)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"), r)
      assert(r.getAs[Long]("na") + r.getAs[Long]("nb") ==
        r.getAs[Long]("n"), r)
      assert(r.getAs[Long]("n_m2_direct") >= 0, r)
    }
  }

  test("llm_feature_collinearity: three pairs inside the r-squared " +
      "bound, with the len-ttr anticorrelation the MI audit implied") {
    val rows = SparkEntry.queries("q_llm_feature_collinearity")(
      spark, sf).collect()
    assert(rows.length == 3)
    val m = rows.map(r => r.getAs[String]("pair") ->
      r.getAs[Long]("r2_signed_e8")).toMap
    m.values.foreach(v => assert(math.abs(v) <= 100000000L, m))
    // the small-vocab mechanism: longer docs repeat tokens, so TTR
    // falls with length — the direct feature-to-feature confirmation
    // of what mi_feature saw through the label
    assert(m("len_ttr") < -50000000L, m)
  }

  test("orders_yearly_growth: the first year carries a NULL ratio, " +
      "later ratios replay from consecutive revenues") {
    val rows = SparkEntry.queries("q_orders_yearly_growth")(spark, sf)
      .orderBy("yr").collect()
    assert(rows.nonEmpty)
    assert(rows.head.isNullAt(rows.head.fieldIndex("yoy_e4")),
      "first year must be NULL")
    rows.sliding(2).foreach {
      case Array(p, c) =>
        assert(c.getAs[Long]("yoy_e4") ==
          c.getAs[Long]("rev_cents") * 10000 /
            p.getAs[Long]("rev_cents"), c)
      case _ =>
    }
  }

  test("agg_dim_rollup: subtotal accounting closes at every level of " +
      "the region-nation hierarchy") {
    val rows = SparkEntry.queries("q_agg_dim_rollup")(spark, sf)
      .collect()
    val grand = rows.filter(r => r.getAs[String]("region") == "ALL" &&
      r.getAs[String]("nation") == "ALL")
    assert(grand.length == 1)
    val details = rows.filter(r => r.getAs[String]("region") != "ALL"
      && r.getAs[String]("nation") != "ALL")
    val regSub = rows.filter(r => r.getAs[String]("region") != "ALL"
      && r.getAs[String]("nation") == "ALL")
    assert(grand.head.getAs[Long]("rev_cents") ==
      details.map(_.getAs[Long]("rev_cents")).sum)
    regSub.foreach { s =>
      val reg = s.getAs[String]("region")
      assert(s.getAs[Long]("rev_cents") ==
        details.filter(_.getAs[String]("region") == reg)
          .map(_.getAs[Long]("rev_cents")).sum, reg)
    }
    assert(regSub.length == 5)
  }

  test("llm_jsd_sources: the divergence sits inside the ln 2 bound, " +
      "both KL halves are nonnegative within slack, and the two " +
      "sources differ") {
    val rows = SparkEntry.queries("q_llm_jsd_sources")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("src_a") != r.getAs[String]("src_b"))
    // KL vs the mixture is ≥ 0 exactly; lnE3 rounding allows a
    // couple of milli-nats of dip
    assert(r.getAs[Long]("kl1_e3") >= -2, r)
    assert(r.getAs[Long]("kl2_e3") >= -2, r)
    val jsd = r.getAs[Long]("jsd_e3")
    assert(jsd >= -2 && jsd <= 694, r) // ln 2 = 693 (+1 slack)
    assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("vocab_union"),
      r)
  }

  test("ts_pacf: level-1 PACF IS r1, level-2 replays from the r's, " +
      "and all three stay inside the rounding-slack unit bound") {
    val rows = SparkEntry.queries("q_ts_pacf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (r1, r2, r3) = (r.getAs[Long]("r1_e4"), r.getAs[Long]("r2_e4"),
        r.getAs[Long]("r3_e4"))
      Seq(r1, r2, r3).foreach(x => assert(math.abs(x) <= 10000L, r))
      assert(r.getAs[Long]("pacf1_e4") == r1, r)
      val n2v = r2 * 10000 - r1 * r1
      val d2v = 100000000L - r1 * r1
      assert(d2v > 0, r)
      assert(r.getAs[Long]("pacf2_e4") == n2v * 10000 / d2v, r)
      // exact PACF lies in [-1,1]; e4 quantization of the r's can
      // push the cleared ratio slightly out — slack, not structure
      assert(math.abs(r.getAs[Long]("pacf2_e4")) <= 12000L, r)
      assert(math.abs(r.getAs[Long]("pacf3_e4")) <= 20000L, r)
    }
  }

  test("join_mutual_nn: every pair is mutual (keys appear once per " +
      "side) and matches the brute-force nearest computation") {
    val rows = SparkEntry.queries("q_join_mutual_nn")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val cks = rows.map(_.getAs[Long]("custkey"))
    val sks = rows.map(_.getAs[Long]("suppkey"))
    assert(cks.distinct.length == cks.length, "custkey repeated")
    assert(sks.distinct.length == sks.length, "suppkey repeated")
    rows.foreach(r => assert(r.getAs[Long]("diff_cents") >= 0, r))
    // brute force at fixture scale
    val c = graft.Tables.customer(spark, sf)
      .selectExpr("CAST(c_nationkey AS BIGINT)",
        "CAST(c_custkey AS BIGINT)",
        "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val s = graft.Tables.supplier(spark, sf)
      .selectExpr("CAST(s_nationkey AS BIGINT)",
        "CAST(s_suppkey AS BIGINT)",
        "CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS sb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def best(from: Array[(Long, Long, Long)],
        to: Array[(Long, Long, Long)]): Map[Long, Long] =
      from.flatMap { case (nk, k, b) =>
        val cand = to.filter(_._1 == nk)
          .map(t => (math.abs(b - t._3), t._2))
        if (cand.isEmpty) None else Some(k -> cand.min._2)
      }.toMap
    val bc = best(c, s)
    val bs = best(s, c)
    val want = bc.filter { case (ck, sk) => bs.get(sk).contains(ck) }
    val got = rows.map(r =>
      r.getAs[Long]("custkey") -> r.getAs[Long]("suppkey")).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("orders_cohort_ltv: every cohort starts at index 0, the " +
      "cumulative curve is monotone, and total mass is conserved") {
    val rows = SparkEntry.queries("q_orders_cohort_ltv")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_month"))
    byCohort.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("idx"))
      assert(sorted.head.getAs[Long]("idx") == 0L, // first order month
        sorted.head)
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getAs[Long]("rev_cents")
        assert(r.getAs[Long]("cum_rev_cents") == cum, r)
      }
    }
    val total = rows.map(_.getAs[Long]("rev_cents")).sum
    val expect = graft.Tables.orders(spark, sf)
      .selectExpr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)" +
        " AS BIGINT)) AS BIGINT) AS t").collect().head.getAs[Long]("t")
    assert(total == expect, s"$total != $expect")
  }

  test("llm_pr_at_k: four k rows, precision falls and recall rises " +
      "with k, and both ratios replay from hits") {
    val rows = SparkEntry.queries("q_llm_pr_at_k")(spark, sf)
      .orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(1L, 3L, 5L, 10L))
    val nRel = rows.head.getAs[Long]("n_rel")
    assert(rows.forall(_.getAs[Long]("n_rel") == nRel))
    var prevHits = -1L
    rows.foreach { r =>
      val (k, h) = (r.getAs[Long]("k"), r.getAs[Long]("hits"))
      assert(h >= 0 && h <= k, r)
      assert(h >= prevHits, r) // hits cumulative in k
      prevHits = h
      assert(r.getAs[Long]("precision_e4") == h * 10000 / k, r)
      assert(r.getAs[Long]("recall_e4") ==
        h * 10000 / math.max(nRel, 1), r)
    }
    val precs = rows.map(r => r.getAs[Long]("precision_e4"))
    assert(precs.zip(precs.tail).forall { case (a, b) => a >= b },
      precs.toSeq) // hits ≤ k growth ⇒ precision monotone down
  }

  test("llm_readability: census bounds hold per source and the four " +
      "emitted ratios replay from the counts") {
    val rows = SparkEntry.queries("q_llm_readability")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, w, syl, cx) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_syllables"),
        r.getAs[Long]("n_complex"))
      assert(d > 0 && w >= d, r)
      assert(cx <= w, r) // a complex word is a word
      assert(syl >= cx, r) // ≥3 runs each ⇒ at least one run each
      assert(r.getAs[Long]("syll_per_word_e4") == syl * 10000 / w, r)
      assert(r.getAs[Long]("complex_share_e4") == cx * 10000 / w, r)
      assert(r.getAs[Long]("fk_doc_e2") ==
        39 * w / d + 1180 * syl / w - 1559, r)
      assert(r.getAs[Long]("fog_doc_e2") ==
        40 * w / d + 4000 * cx / w, r)
    }
  }

  test("llm_split_kl: one summary row, KL nonnegative up to lnE3 " +
      "rounding, 98:1 train/val mass, and the shifted div replays") {
    val r = SparkEntry.queries("q_llm_split_kl")(spark, sf)
      .collect() match { case Array(x) => x }
    val (ns, tt, tv) = (r.getAs[Long]("n_shared"),
      r.getAs[Long]("tot_train"), r.getAs[Long]("tot_val"))
    assert(ns > 0 && tt > 0 && tv > 0, r)
    assert(tt > tv, r) // 980 vs 10 buckets of mass
    val kl = r.getAs[Long]("kl_e3")
    // Gibbs on the renormalized shared vocab: exact KL ≥ 0; the only
    // negative room is the once-per-term milli-nat floor
    assert(kl >= -2L, r)
    assert(kl < 1000000L, r)
    assert(r.getAs[Long]("oov_val_tokens") >= 0, r)
  }

  test("ts_runs_test: runs bounded by sign count, both signs present, " +
      "and the cross-multiplied 95% verdict replays") {
    val rows = SparkEntry.queries("q_ts_runs_test")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (up, dn, runs) = (r.getAs[Long]("n_up"),
        r.getAs[Long]("n_down"), r.getAs[Long]("r_runs"))
      assert(up > 0 && dn > 0, r) // degenerate-variance users excluded
      // both signs present => at least one boundary; at most one run
      // per sign flip possibility
      assert(runs >= 2 && runs <= up + dn, r)
      val n = up + dn
      val a = 2 * up * dn
      assert(a > n, r) // the enrolled variance guard
      val lhs = (runs - 1) * n - a
      assert(r.getAs[Boolean]("nonrandom_95") ==
        (lhs * lhs * (n - 1) * 10000 > 38416 * a * (a - n)), r)
    }
  }

  test("ts_turning_points: T bounded by interior size, expected value " +
      "replays, and the 95% verdict replays") {
    val rows = SparkEntry.queries("q_ts_turning_points")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, t) = (r.getAs[Long]("n_days"), r.getAs[Long]("t_pts"))
      assert(n >= 4, r)
      assert(t >= 0 && t <= n - 2, r)
      assert(r.getAs[Long]("expected_3t") == 2 * (n - 2), r)
      val lhs = 3 * t - 2 * (n - 2)
      assert(r.getAs[Boolean]("nonrandom_95") ==
        (lhs * lhs * 100000 > 38416 * (16 * n - 29)), r)
    }
  }

  test("events_rolling_distinct: the bounded fan-out form equals the " +
      "brute-force range count on every observed day") {
    val got = SparkEntry.queries("q_events_rolling_distinct")(spark, sf)
      .collect().map(r => r.getAs[Long]("day") ->
        r.getAs[Long]("n_users_7d")).toMap
    val ud = graft.Tables.events(spark, sf)
      .selectExpr("(ts_ns div 1000) div 86400000000 AS d", "user_id")
      .distinct().collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("user_id")))
    val days = ud.map(_._1).distinct
    val want = days.map(day =>
      day -> ud.filter(p => p._1 >= day - 6 && p._1 <= day)
        .map(_._2).distinct.length.toLong).toMap
    assert(got == want, s"got=$got want=$want")
    // the 7-day window can only see MORE users than any single day
    val dau = ud.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    days.foreach(d => assert(got(d) >= dau(d), s"day $d"))
  }

  test("events_absorption: the curve is monotone in steps and every " +
      "probability stays in [0, 1e6]") {
    val rows = SparkEntry.queries("q_events_absorption")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 5)
    rows.foreach { r =>
      val (a1, a3, a5) = (r.getAs[Long]("a1_e6"), r.getAs[Long]("a3_e6"),
        r.getAs[Long]("a5_e6"))
      assert(a1 >= 0 && a5 <= 1000000L, r)
      assert(a1 <= a3 && a3 <= a5, r) // value iteration only adds mass
    }
  }

  test("llm_cluster_inflation: implied pairs bound direct pairs and " +
      "the inflation ratio replays") {
    val r = SparkEntry.queries("q_llm_cluster_inflation")(spark, sf)
      .collect().head
    val (imp, dir) = (r.getAs[Long]("n_implied_pairs"),
      r.getAs[Long]("n_direct_pairs"))
    assert(imp >= dir, r) // every direct pair lies inside one cluster
    assert(r.getAs[Long]("n_transitive_only") == imp - dir, r)
    assert(r.getAs[Long]("inflation_e4") ==
      imp * 10000 / math.max(dir, 1), r)
    assert(r.getAs[Long]("max_cluster") >= 2, r)
  }

  test("ts_period_detect: nine candidate lags, one peak, and the " +
      "detector discovers the weekly cycle from data") {
    val rows = SparkEntry.queries("q_ts_period_detect")(spark, sf)
      .orderBy("lag").collect()
    assert(rows.map(_.getAs[Long]("lag")).toSeq == (2L to 10L))
    val det = rows.head.getAs[Long]("detected_period")
    assert(rows.forall(_.getAs[Long]("detected_period") == det))
    assert(rows.count(_.getAs[Boolean]("is_peak")) == 1)
    val peak = rows.filter(_.getAs[Boolean]("is_peak")).head
    assert(peak.getAs[Long]("lag") == det)
    assert(rows.forall(_.getAs[Long]("acf_shift_e4") <=
      peak.getAs[Long]("acf_shift_e4")))
    // at sf0.01+ the detector lands on the planted weekly cycle (7);
    // at this spec's sf0.001 (~33 events/day) the signal drowns in
    // noise and the argmax wanders — an honest small-sample property,
    // so only the structural invariants are pinned here
    assert(det >= 2L && det <= 10L, s"detected $det")
  }

  test("agg_weighted_median: cut points are ordered, inside the value " +
      "range, and total weight equals the quantity sum") {
    val rows = SparkEntry.queries("q_agg_weighted_median")(spark, sf)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Long]("wp25_c"),
        r.getAs[Long]("wp50_c"), r.getAs[Long]("wp75_c"))
      assert(p25 <= p50 && p50 <= p75, r)
      assert(r.getAs[Long]("total_weight") > 0, r)
    }
  }

  test("llm_embed_outliers: exactly 10 rows, sorted by distance, all " +
      "distances positive and bounded by the e4 grid") {
    val rows = SparkEntry.queries("q_llm_embed_outliers")(spark, sf)
      .collect()
    assert(rows.length == 10)
    val ds = rows.map(_.getAs[Long]("dist2"))
    assert(ds.toSeq == ds.sortBy(-_).toSeq)
    // 64 dims, each diff <= 2*1e4 in the e4 grid => dist2 <= 64*(2e4)^2
    ds.foreach(d => assert(d > 0 && d <= 64L * 40000L * 40000L, d))
  }

  test("llm_prf_expand: five expansion terms, none a query term or " +
      "stopword, scores ranked and nonnegative") {
    val rows = SparkEntry.queries("q_llm_prf_expand")(spark, sf)
      .collect()
    assert(rows.length == 5)
    val banned = Set("join", "vector", "scan",
      "the", "a", "of", "and", "to", "in", "is")
    val scores = rows.map(_.getAs[Long]("score_e3"))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    rows.foreach { r =>
      assert(!banned.contains(r.getAs[String]("term")), r)
      assert(r.getAs[Long]("df") > 0, r)
      assert(r.getAs[Long]("score_e3") >= 0, r) // df <= N => idf >= 0
    }
  }

  test("llm_prefix_cache: shared docs bound groups, savings replay, " +
      "and the share is a probability") {
    val r = SparkEntry.queries("q_llm_prefix_cache")(spark, sf)
      .collect().head
    val (g, d) = (r.getAs[Long]("n_groups_shared"),
      r.getAs[Long]("n_docs_shared"))
    assert(d >= 2 * g, r) // every shared group has >= 2 docs
    assert(r.getAs[Long]("tokens_saved") == (d - g) * 10L, r)
    val sh = r.getAs[Long]("saved_share_e4")
    assert(sh >= 0 && sh <= 10000, r)
    assert(d <= r.getAs[Long]("n_docs"), r)
  }

  test("graph_community_entropy: top-10 by size, entropy bounded by " +
      "ln(brands), and a one-brand community has zero entropy") {
    val rows = SparkEntry.queries("q_graph_community_entropy")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val sizes = rows.map(_.getAs[Long]("n_nodes"))
    assert(sizes.toSeq == sizes.sortBy(-_).toSeq)
    rows.foreach { r =>
      val (b, h) = (r.getAs[Long]("n_brands"), r.getAs[Long]("h_e3"))
      assert(b >= 1 && h >= 0, r)
      assert(h <= math.floor(math.log(b.toDouble) * 1000).toLong + 2, r)
      if (b == 1) assert(h == 0, r)
      assert(r.getAs[String]("top_brand").nonEmpty, r)
    }
  }

  test("llm_label_noise: audits exactly the 20-probe population and " +
      "the share replays") {
    val r = SparkEntry.queries("q_llm_label_noise")(spark, sf)
      .collect().head
    val (n, m) = (r.getAs[Long]("n_probes"), r.getAs[Long]("n_mismatch"))
    assert(n == 20L, r)
    assert(m >= 0 && m <= n, r)
    assert(r.getAs[Long]("noise_share_e4") == m * 10000 / n, r)
  }

  test("ts_rolling_slope: one row per active day and the warm-up " +
      "window census counts up to 7") {
    val rows = SparkEntry.queries("q_ts_rolling_slope")(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("n_window") == math.min(i + 1, 7).toLong, r)
    }
  }

  test("win_range_vs_rows: the frames disagree on a gappy series and " +
      "the share replays from the census") {
    val r = SparkEntry.queries("q_win_range_vs_rows")(spark, sf)
      .collect().head
    val (n, d) = (r.getAs[Long]("n_user_days"), r.getAs[Long]("n_differ"))
    assert(d > 0 && d <= n, r) // gaps exist => the frames MUST differ
    assert(r.getAs[Long]("differ_share_e4") == d * 10000 / n, r)
    assert(r.getAs[Long]("max_abs_diff") >= 1, r)
  }

  test("orders_basket_sizes: histogram partitions orders, cumulative " +
      "curve is monotone to exactly 1, and the max refines the bound") {
    val rows = SparkEntry.queries("q_orders_basket_sizes")(spark, sf)
      .orderBy("basket_size").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      graft.Tables.lineitem(spark, sf)
        .select("l_orderkey").distinct().count())
    var prev = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("cum_share_e4")
      assert(c >= prev, r); prev = c
    }
    assert(rows.last.getAs[Long]("cum_share_e4") == 10000L)
  }

  test("llm_stopword_discovery: ten highest-df terms, ranked, and the " +
      "documented finding holds (authored stop7 are not corpus stops)") {
    val rows = SparkEntry.queries("q_llm_stopword_discovery")(spark, sf)
      .collect()
    assert(rows.length == 10)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.toSeq == dfs.sortBy(-_).toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("df") > 0, r)
      assert(r.getAs[Long]("df_share_e4") <= 10000L, r)
      assert(r.getAs[Boolean]("in_stop7") ==
        Set("the", "a", "of", "and", "to", "in", "is")
          .contains(r.getAs[String]("term")), r)
    }
    // at sf0.01+ NONE of the authored stop7 make the top-10 (the
    // documented corpus finding); at this spec's 50-doc sf0.001 a
    // stopword can sneak in by sampling noise, so only the flag's
    // correctness is pinned here
  }

  test("llm_chunk_boundary_loss: crossing shingles are bounded by 4 " +
      "per boundary and the share replays") {
    val r = SparkEntry.queries("q_llm_chunk_boundary_loss")(spark, sf)
      .collect().head
    val (tot, cross) = (r.getAs[Long]("total_shingles"),
      r.getAs[Long]("crossing_shingles"))
    assert(cross >= 0 && cross <= tot, r)
    assert(r.getAs[Long]("loss_share_e4") ==
      cross * 10000 / math.max(tot, 1), r)
    // docs are <= 99 tokens => at most 3 boundaries x 4 shingles each
    assert(cross <= r.getAs[Long]("n_docs") * 12, r)
  }

  test("llm_norm_audit: the embeddings are unit-norm and the verdict " +
      "replays from the emitted extremes") {
    val r = SparkEntry.queries("q_llm_norm_audit")(spark, sf)
      .collect().head
    val (mn, mx) = (r.getAs[Long]("min_norm2_e6"),
      r.getAs[Long]("max_norm2_e6"))
    assert(mn <= mx, r)
    assert(r.getAs[Boolean]("all_unit") ==
      (mn >= 999900L && mx <= 1000100L), r)
    assert(r.getAs[Long]("n_vecs") ==
      graft.Tables.embeddings(spark, sf).count())
  }

  test("llm_source_influence: LOO means replay from the sums and the " +
      "identity sum(n*mean_src) ~ N*mean_all holds") {
    val rows = SparkEntry.queries("q_llm_source_influence")(spark, sf)
      .collect()
    assert(rows.length == 20)
    val all = rows.head.getAs[Long]("mean_all_e4")
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_all_e4") == all, r)
      assert(r.getAs[Long]("loo_delta_e4") ==
        r.getAs[Long]("mean_without_e4") - all, r)
      // a below-average source raises the mean when removed
      val srcMean = r.getAs[Long]("mean_src_e4")
      if (srcMean < all) assert(r.getAs[Long]("loo_delta_e4") >= 0, r)
      if (srcMean > all) assert(r.getAs[Long]("loo_delta_e4") <= 0, r)
    }
  }

  test("events_engagement_value: deciles are balanced, bands are " +
      "ordered and non-overlapping") {
    val rows = SparkEntry.queries("q_events_engagement_value")(spark, sf)
      .orderBy("decile").collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val total = rows.map(_.getAs[Long]("n_users")).sum
    assert(total == graft.Tables.events(spark, sf)
      .select("user_id").distinct().count())
    var prevMax = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("min_events") <= r.getAs[Long]("max_events"), r)
      assert(r.getAs[Long]("min_events") >= prevMax)
      prevMax = r.getAs[Long]("max_events")
    }
  }

  test("agg_geomean: AM >= GM per source (the inequality replayed " +
      "through the emitted log form)") {
    val rows = SparkEntry.queries("q_agg_geomean")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val am = r.getAs[Long]("am_e4").toDouble
      val gm = math.exp(r.getAs[Long]("log_gm_e3").toDouble / 1000.0)
      // 1% slack for the floored log terms and floored AM
      assert(am >= gm * 0.99, s"AM $am < GM $gm: $r")
    }
  }

  test("attr_first_touch: the channel census covers exactly the " +
      "converting users with prior touches") {
    val rows = SparkEntry.queries("q_attr_first_touch")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("channel")).toSet
      .subsetOf(Set("click", "view")))
    assert(rows.map(_.getAs[Long]("n_conversions")).sum > 0)
  }

  test("ts_wow_growth: the first seven days carry no ratio and every " +
      "emitted ratio replays from the levels") {
    val rows = SparkEntry.queries("q_ts_wow_growth")(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    rows.take(7).foreach(r => assert(r.isNullAt(r.fieldIndex("wow_e4")), r))
    rows.drop(7).foreach { r =>
      val prev = r.getAs[Long]("prev_week_cents")
      if (prev > 0)
        assert(r.getAs[Long]("wow_e4") ==
          r.getAs[Long]("rev_cents") * 10000 / prev, r)
    }
  }

  test("filter_three_valued: TRUE/FALSE/UNKNOWN partition the rows " +
      "exactly and every cell is populated") {
    val r = SparkEntry.queries("q_filter_three_valued")(spark, sf)
      .collect().head
    val Seq(n, t, f, u) = Seq("n_rows", "n_true", "n_false", "n_null")
      .map(r.getAs[Long])
    assert(t + f + u == n, r)
    assert(t > 0 && f > 0 && u > 0, r) // the null third is real
    assert(r.getAs[Boolean]("partitions_ok"))
  }

  test("dq_table_checksum: three tables, row counts match, and the " +
      "checksums are partition-order invariant by re-run") {
    val rows = SparkEntry.queries("q_dq_table_checksum")(spark, sf)
      .collect()
    assert(rows.length == 3)
    val byT = rows.map(r => r.getAs[String]("tbl") -> r).toMap
    assert(byT("documents").getAs[Long]("n_rows") ==
      graft.Tables.documents(spark, sf).count())
    assert(byT("events").getAs[Long]("n_rows") ==
      graft.Tables.events(spark, sf).count())
    // re-run over a repartitioned plan must reproduce both folds
    val again = SparkEntry.queries("q_dq_table_checksum")(spark, sf)
      .collect().map(r => (r.getAs[String]("tbl"),
        r.getAs[Long]("xor_check"), r.getAs[Long]("sum_check"))).toSet
    assert(again == rows.map(r => (r.getAs[String]("tbl"),
      r.getAs[Long]("xor_check"), r.getAs[Long]("sum_check"))).toSet)
  }

  test("llm_topic_coherence: every topic ranks exactly 5 terms, 10 " +
      "pairs, and coherence is nonpositive (log of a probability)") {
    val rows = SparkEntry.queries("q_llm_topic_coherence")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("top_terms").split(" ").length == 5, r)
      assert(r.getAs[Long]("n_pairs") == 10L, r)
      // each term is ln((d_ij+1)/d_j) with d_ij+1 <= d_j + 1; a
      // positive sum would need d_ij > d_j which is impossible (with
      // the +1 smoothing a single pair can reach at most ln((dj+1)/dj)
      // ~ +epsilon; allow that rounding headroom)
      assert(r.getAs[Long]("coh_e3") <= 10L, r)
      assert(r.getAs[Long]("n_docs") >= 1L, r)
    }
  }

  test("events_funnel_lag: conversion census is bounded by the signup " +
      "census and lags are ordered percentiles") {
    val rows = SparkEntry.queries("q_events_funnel_lag")(spark, sf)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val ns = r.getAs[Long]("n_signup"); val nc = r.getAs[Long]("n_converted")
    assert(nc <= ns && nc >= 1L, r)
    assert(r.getAs[Long]("conv_rate_e4") == nc * 10000L / ns, r)
    val p50 = r.getAs[Long]("p50_lag_us"); val p90 = r.getAs[Long]("p90_lag_us")
    assert(p50 > 0L && p50 <= p90 && p90 <= r.getAs[Long]("max_lag_us"),
      r)
  }

  test("llm_freq_of_freqs: the spectrum partitions the trigram " +
      "inventory and mass, and N_c is c-consistent") {
    val rows = SparkEntry.queries("q_llm_freq_of_freqs")(spark, sf)
      .orderBy("c_capped").collect()
    assert(rows.nonEmpty)
    var vShare = 0L; var mShare = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("c_capped")
      assert(c >= 1L && c <= 11L, r)
      val nt = r.getAs[Long]("n_types"); val m = r.getAs[Long]("mass")
      // mass of the exactly-c bucket is exactly c * n_types (c < 11)
      if (c < 11L) assert(m == c * nt, r) else assert(m >= 11L * nt, r)
      vShare += r.getAs[Long]("vocab_share_e4")
      mShare += r.getAs[Long]("mass_share_e4")
    }
    // truncated shares sum to just under 1e4
    assert(vShare <= 10000L && vShare >= 10000L - rows.length, vShare)
    assert(mShare <= 10000L && mShare >= 10000L - rows.length, mShare)
  }

  test("events_cuped: the adjustment algebra replays from the emitted " +
      "parts and theta carries the sign of the covariance") {
    val rows = SparkEntry.queries("q_events_cuped")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_a") >= 1L && r.getAs[Long]("n_b") >= 1L)
    // adj = diff_y*1e4 - theta*diff_x, replayed exactly
    assert(r.getAs[Long]("adj_diff_e4") ==
      r.getAs[Long]("diff_y_cents") * 10000L -
        r.getAs[Long]("theta_e4") * r.getAs[Long]("diff_x_cents"), r)
  }

  test("llm_pairwise_wins: every comparison is accounted for and the " +
      "matrix is canonical (a < b, win rate from its own parts)") {
    val rows = SparkEntry.queries("q_llm_pairwise_wins")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("a") < r.getAs[String]("b"), r)
      val ns = r.getAs[Long]("n_shared")
      assert(r.getAs[Long]("n_win_a") + r.getAs[Long]("n_win_b") +
        r.getAs[Long]("n_tie") == ns, r)
      assert(r.getAs[Long]("winrate_a_e4") ==
        r.getAs[Long]("n_win_a") * 10000L / ns, r)
    }
  }

  test("graph_richclub: quantile thresholds nest the clubs strictly " +
      "and phi is a density in [0, 1e4]") {
    val rows = SparkEntry.queries("q_graph_richclub")(spark, sf)
      .orderBy("q_e4").collect()
    assert(rows.map(_.getAs[Long]("q_e4")).toSeq ==
      Seq(5000L, 7500L, 9000L))
    val clubs = rows.map(_.getAs[Long]("n_club")).toSeq
    assert(clubs == clubs.sorted.reverse, s"clubs not nested: $clubs")
    assert(clubs.forall(_ >= 1L), s"degenerate club: $clubs")
    val ks = rows.map(_.getAs[Long]("k")).toSeq
    assert(ks == ks.sorted, s"thresholds not monotone: $ks")
    rows.foreach { r =>
      val phi = r.getAs[Long]("phi_e4")
      assert(phi >= 0L && phi <= 10000L, r)
      val nc = r.getAs[Long]("n_club")
      assert(r.getAs[Long]("e_club") <= nc * (nc - 1L) / 2L, r)
    }
  }

  test("ts_anova_dow: the F decomposition is internally consistent " +
      "and the verdict matches the statistic") {
    val rows = SparkEntry.queries("q_ts_anova_dow")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k_groups") == 7L)
    assert(r.getAs[Long]("n_days") > r.getAs[Long]("k_groups"))
    assert(r.getAs[Long]("ssw") >= 0L && r.getAs[Long]("ssb") >= 0L)
    assert(r.getAs[Boolean]("seasonal_95") ==
      (r.getAs[Long]("f_e4") >= 22500L))
  }

  test("llm_pack_sweep: bigger contexts never need more bins, token " +
      "mass is budget-invariant, and utilization is a fill fraction") {
    val rows = SparkEntry.queries("q_llm_pack_sweep")(spark, sf)
      .orderBy("context").collect()
    assert(rows.map(_.getAs[Long]("context")).toSeq ==
      Seq(512L, 1024L, 2048L))
    val bins = rows.map(_.getAs[Long]("n_bins")).toSeq
    assert(bins == bins.sorted.reverse, s"bins not monotone: $bins")
    assert(rows.map(_.getAs[Long]("total_tok")).distinct.length == 1)
    rows.foreach { r =>
      val u = r.getAs[Long]("util_e4")
      // util can nominally exceed 1e4 when a straddling doc overflows
      // the final bin (pack-then-split) — allow that headroom
      assert(u >= 1L && u <= 12000L, r)
    }
  }

  test("events_interarrival: percentiles are ordered, bounded by max, " +
      "and the delta census covers every consecutive pair") {
    val rows = SparkEntry.queries("q_events_interarrival")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    var total = 0L
    rows.foreach { r =>
      val p50 = r.getAs[Long]("p50_us"); val p95 = r.getAs[Long]("p95_us")
      val p99 = r.getAs[Long]("p99_us"); val mx = r.getAs[Long]("max_us")
      assert(p50 <= p95 && p95 <= p99 && p99 <= mx, r)
      assert(p50 >= 0L, r)
      total += r.getAs[Long]("n_deltas")
    }
    // deltas per type = events per type - 1
    val ev = graft.Tables.events(spark, sf)
    val nTypes = ev.select("event_type").distinct().count()
    assert(total == ev.count() - nTypes)
  }

  test("events_hhi: the concentration index sits between perfect " +
      "spread and monopoly, and effective users never exceed actual") {
    val rows = SparkEntry.queries("q_events_hhi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hhi = r.getAs[Long]("hhi_e8"); val nu = r.getAs[Long]("n_users")
      // HHI >= 1/n (perfect spread, with floor slack) and <= 1
      assert(hhi >= 100000000L / nu - 1L && hhi <= 100000000L, r)
      assert(r.getAs[Long]("eff_users") <= nu + 1L, r)
      assert(r.getAs[Long]("eff_users") >= 1L, r)
      assert(r.getAs[Long]("top_share_e4") <= 10000L, r)
    }
  }

  test("basket_lift: lift recomputes from its marginals and the frame " +
      "is sorted; support floor holds") {
    val rows = SparkEntry.queries("q_basket_lift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val bigN = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    rows.foreach { r =>
      val nab = r.getAs[Long]("n_ab"); val na = r.getAs[Long]("n_a")
      val nb = r.getAs[Long]("n_b")
      assert(nab >= 2L && nab <= math.min(na, nb), r)
      val expect = (BigInt(nab) * BigInt(bigN) * 10000 /
        (BigInt(na) * BigInt(nb))).toLong
      assert(r.getAs[Long]("lift_e4") == expect, r)
    }
    val lifts = rows.map(_.getAs[Long]("lift_e4")).toSeq
    assert(lifts == lifts.sorted.reverse)
  }

  test("join_salted_skew: the executed join keys include the salt, no " +
      "broadcast sneaks in, and every type matches its dim row") {
    val plan = planString("q_join_salted_skew")
    assert(plan.contains("salt"), "salt column not in the executed plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "dim was broadcast — the skew demo requires a shuffle join:\n" +
        plan.take(2000))
    val rows = SparkEntry.queries("q_join_salted_skew")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("match_ok"), r)
      assert(r.getAs[Long]("n_rows") == r.getAs[Long]("n_type"), r)
    }
  }

  test("events_ab_utest: 2U is bounded by the pair count and CLES is a " +
      "probability; a brute-force pair count replays 2U exactly") {
    val rows = SparkEntry.queries("q_events_ab_utest")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
    val u2 = r.getAs[Long]("u2")
    assert(u2 >= 0L && u2 <= 2L * na * nb, r)
    val cles = r.getAs[Long]("cles_e4")
    assert(cles >= 0L && cles <= 10000L, r)
    // brute-force replay on the sf0.001 fixture (small): 2U =
    // 2·#{a>b} + #{a=b} over all cross pairs
    val vals = graft.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type")
        === "purchase")
      .selectExpr("CAST(floor(value * 100 + 0.5) AS BIGINT) AS v",
        "user_id % 2 = 0 AS in_a")
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val as = vals.filter(_._2).map(_._1); val bs =
      vals.filterNot(_._2).map(_._1)
    assert(as.length.toLong == na && bs.length.toLong == nb)
    var brute = 0L
    for (a <- as; b <- bs)
      brute += (if (a > b) 2L else if (a == b) 1L else 0L)
    assert(brute == u2, s"brute=$brute u2=$u2")
  }

  test("ts_changepoint: the argmax split beats or ties every other " +
      "split and the segment census is consistent") {
    val rows = SparkEntry.queries("q_ts_changepoint")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val nl = r.getAs[Long]("n_left"); val nr = r.getAs[Long]("n_right")
    assert(nl >= 1L && nr >= 1L)
    assert(r.getAs[Long]("score") >= 0L)
    // replay: daily census, every split's score <= the reported one
    val daily = graft.Tables.events(spark, sf)
      .selectExpr("(ts_ns div 1000) div 86400000000 AS day")
      .groupBy("day").count().orderBy("day")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(nl + nr == daily.length.toLong)
    val sTot = daily.map(_._2).sum
    var s1 = 0L
    var bestSeen = -1L
    for (i <- 0 until daily.length - 1) {
      s1 += daily(i)._2
      val n1 = (i + 1).toLong; val n2 = daily.length - n1
      val d = s1 * n2 - (sTot - s1) * n1
      val sc = (BigInt(d) * BigInt(d) / BigInt(n1 * n2)).toLong
      bestSeen = math.max(bestSeen, sc)
    }
    assert(bestSeen == r.getAs[Long]("score"),
      s"replay best=$bestSeen reported=${r.getAs[Long]("score")}")
  }

  test("events_reciprocity: pairs are canonical, bounded by the type " +
      "count, and the reciprocity ratio is consistent with its parts") {
    val rows = SparkEntry.queries("q_events_reciprocity")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 10) // C(5,2) type pairs
    rows.foreach { r =>
      val a = r.getAs[String]("a"); val b = r.getAs[String]("b")
      assert(a < b, r)
      val f = r.getAs[Long]("n_fwd"); val v = r.getAs[Long]("n_rev")
      assert(r.getAs[Long]("n_min") == math.min(f, v), r)
      val re = r.getAs[Long]("recip_e4")
      assert(re >= 0L && re <= 10000L, r)
      assert(re == 2L * math.min(f, v) * 10000L / (f + v), r)
    }
  }

  test("dq_freshness: the watermark holder has zero staleness and the " +
      "final-day census is bounded by the fact table") {
    val rows = SparkEntry.queries("q_dq_freshness")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("staleness_us")).min == 0L,
      "no type holds the watermark")
    rows.foreach { r =>
      assert(r.getAs[Long]("staleness_us") >= 0L, r)
      assert(r.getAs[Long]("drop_e4") >= 0L, r)
      assert(r.getAs[Long]("prior_daily_avg") >= 0L, r)
    }
    val lastTotal = rows.map(_.getAs[Long]("n_last_day")).sum
    assert(lastTotal >= 1L &&
      lastTotal <= graft.Tables.events(spark, sf).count())
  }

  test("llm_rake_keywords: ranked phrases honor the 4-token cap and " +
      "every phrase scores at least 1e4 per member word") {
    val rows = SparkEntry.queries("q_llm_rake_keywords")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 15)
    rows.foreach { r =>
      val plen = r.getAs[Long]("plen")
      assert(plen >= 1L && plen <= 4L, r)
      // each member word's deg >= freq, so s_e4 >= 1e4
      assert(r.getAs[Long]("score_e4") >= plen * 10000L, r)
      assert(r.getAs[Long]("n_occur") >= 1L, r)
      assert(r.getAs[String]("phrase").split(" ").length == plen, r)
    }
    val scores = rows.map(_.getAs[Long]("score_e4")).toSeq
    assert(scores == scores.sorted.reverse, "not sorted by score desc")
  }

  // ---- Round-9 J75 rows: the invariants the DuckDB oracle can't
  // express (bounds, monotonicity, between-ness).

  test("llm_map: AP bounded by 1e6, hits bounded by 10, and the MAP " +
      "summary row is the exact truncated mean of the three arms") {
    val rows = SparkEntry.queries("q_llm_map")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.length == 4, rows.mkString(","))
    val (sums, arms) = rows.partition(_._1 == "zzz_map")
    assert(arms.length == 3 && sums.length == 1)
    arms.foreach { case (q, h, _, ap) =>
      assert(h >= 0 && h <= 10, s"$q hits $h")
      assert(ap >= 0 && ap <= 1000000, s"$q ap $ap")
    }
    assert(sums.head._2 == arms.map(_._2).sum)
    assert(sums.head._3 == arms.map(_._3).sum)
    assert(sums.head._4 == arms.map(_._4).sum / 3)
  }

  test("graph_brokerage: openness bounded, open wedges never exceed " +
      "wedges, and every reported broker honors the deg<=64 cap") {
    val rows = SparkEntry.queries("q_graph_brokerage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (w, nw, no, op) =>
      assert(no <= nw, s"broker $w: open $no > wedges $nw")
      assert(op >= 0 && op <= 10000, s"broker $w openness $op")
      // wedge count from a capped center is at most C(64, 2)
      assert(nw <= 64L * 63 / 2, s"broker $w wedges $nw exceed the cap")
    }
  }

  test("ts_hurst: four scales, blocks halve as m doubles, and the " +
      "estimate stays in the stationary range [0, 1]") {
    val rows = SparkEntry.queries("q_ts_hurst")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    val h = rows.head._4
    assert(rows.forall(_._4 == h), "hurst_e3 differs across rows")
    assert(h >= 0 && h <= 1000, s"hurst_e3 $h outside [0, 1000]")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 == 2 * b._2,
        s"m=${b._1} blocks ${b._2} != half of m=${a._1}'s ${a._2}")
    }
  }

  test("events_eb_shrinkage: every posterior lies between the raw " +
      "rate and the prior mean (shrinkage moves toward, never past)") {
    val rows = SparkEntry.queries("q_events_eb_shrinkage")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Long]("p_e6"); val m = r.getAs[Long]("mean_e6")
      val s = r.getAs[Long]("shrunk_e6")
      // ±1 slack: both ends and the posterior truncate independently
      assert(s >= math.min(p, m) - 1 && s <= math.max(p, m) + 1,
        s"user ${r.getAs[Long]("user_id")}: shrunk $s outside [$p, $m]")
    }
  }

  test("llm_sif_weights: weights are in (0, 1e6] and monotone " +
      "non-increasing in token frequency") {
    val rows = SparkEntry.queries("q_llm_sif_weights")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(3))) // (c, sif_e6)
    assert(rows.nonEmpty)
    rows.foreach { case (c, w) =>
      assert(w > 0 && w <= 1000000, s"c=$c w=$w") }
    rows.sortBy(-_._1).map(_._2).sliding(2).foreach { case Array(a, b) =>
      assert(a <= b, s"weight not monotone: $a then $b") }
  }

  test("mm_image_whash: 16-bit hash, n_pos is its popcount, and " +
      "every enrolled image is >= 64 px (the chunk-map precondition)") {
    val rows = SparkEntry.queries("q_mm_image_whash")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("whash"); val np = r.getAs[Long]("n_pos")
      assert(h >= 0 && h < (1L << 16), s"whash $h not 16-bit")
      assert(np == java.lang.Long.bitCount(h),
        s"n_pos $np != popcount($h)")
      assert(r.getAs[Int]("n_px") >= 64)
    }
  }

  test("llm_unigram_em: probabilities bounded, pieces bounded to the " +
      "documented 8-char lattice, and the EM step conserves mass " +
      "(top-30 p1 sums under 1e6)") {
    val rows = SparkEntry.queries("q_llm_unigram_em")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { case (p, p0, p1) =>
      assert(p.nonEmpty && p.length <= 8, s"piece '$p'")
      assert(p0 >= 0 && p0 <= 1000000, s"$p p0=$p0")
      assert(p1 >= 0 && p1 <= 1000000, s"$p p1=$p1")
    }
    assert(rows.map(_._3).sum <= 1000000L,
      s"top-30 p1 mass ${rows.map(_._3).sum} exceeds 1")
  }

  test("orders_backlog: peak-day backlog is nonnegative, bounded by " +
      "the order count, and deltas are consistent") {
    val rows = SparkEntry.queries("q_orders_backlog")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nOrders = Tables.orders(spark, sf).count()
    rows.foreach { r =>
      val b = r.getAs[Long]("backlog")
      assert(b >= 0 && b <= nOrders, s"backlog $b outside [0, $nOrders]")
      assert(r.getAs[Long]("n_opened") >= 0 &&
        r.getAs[Long]("n_released") >= 0)
    }
  }

  test("llm_rrf_sweep: the default arm is its own perfect control and " +
      "every overlap is within [0, 10]") {
    val rows = SparkEntry.queries("q_llm_rrf_sweep")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.map(_._1).sorted.toSeq == Seq("k010", "k060", "k200"))
    val dflt = rows.find(_._1 == "k060").get
    assert(dflt._3 == 10 && dflt._4, s"default arm not a control: $dflt")
    rows.foreach { case (c, _, ov, _) =>
      assert(ov >= 0 && ov <= 10, s"$c overlap $ov") }
  }

  test("llm_tfidf_cosine: per-probe top-3 is rank-ordered, cosine " +
      "squared stays in (0, 1e8], and shared-term counts are positive") {
    val rows = SparkEntry.queries("q_llm_tfidf_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"probe $p ranks ${sorted.map(_._2).toSeq}")
      assert(sorted.map(_._4).sliding(2).forall(w =>
        w.length < 2 || w(0) >= w(1)), s"probe $p not cos-ordered")
    }
    rows.foreach { case (p, _, ns, c2) =>
      assert(ns >= 1, s"probe $p n_shared $ns")
      assert(c2 > 0 && c2 <= 100000000L, s"probe $p cos2 $c2")
    }
  }

  test("priv_generalize: the ladder is monotone — coarsening merges " +
      "classes, so class counts and suppression can only fall") {
    val rows = SparkEntry.queries("q_priv_generalize")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("0_band_1k", "1_band_10k", "2_no_band"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2, s"n_classes rose: $a -> $b")
      assert(a._3 <= b._3, s"min_class fell: $a -> $b")
      assert(a._4 >= b._4, s"suppression rose: $a -> $b")
    }
  }

  test("llm_dedup_modality_agreement: the cells partition the LSH " +
      "candidate set and per-cell means respect their own gates") {
    val rows = SparkEntry.queries("q_llm_dedup_modality_agreement")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (cell, n, aj, ac) =>
      assert(n > 0, cell)
      assert(aj >= 0 && aj <= 10000, s"$cell avg_j $aj")
      assert(ac >= -10000 && ac <= 10000, s"$cell avg_cos $ac")
      // a text_dup cell's MEAN jaccard cannot be below the 0.8 gate
      if (cell.startsWith("text_dup")) assert(aj >= 8000, s"$cell $aj")
      if (cell.startsWith("text_nodup")) assert(aj < 8000, s"$cell $aj")
    }
    // cells are distinct labels over a nonempty candidate set
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.map(_._2).sum > 0)
  }

  test("graph_components (J84): the histogram partitions the backbone " +
      "node set and matches a driver union-find on the same edges") {
    import org.apache.spark.sql.functions.col
    val edges = graft.operators.Graph.robustPairs(spark, sf)
      .select(col("u").cast("long"), col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty)
    // driver union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val refHist = parent.keys.toSeq.map(find).groupBy(identity)
      .map(_._2.size.toLong).groupBy(identity)
      .map { case (sz, g) => (sz, g.size.toLong) }
    val rows = SparkEntry.queries("q_graph_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toMap == refHist,
      s"engine=${rows.toSeq.sorted} ref=${refHist.toSeq.sorted}")
    // shares partition the node set: sum(size*n) == distinct nodes
    val nNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
    assert(rows.map { case (s, n) => s * n }.sum == nNodes)
  }

  test("llm_dedup_jhist (J84): buckets tile [0,1], bounds sit inside " +
      "their bucket, and the pair mass equals the candidate count") {
    val rows = SparkEntry.queries("q_llm_dedup_jhist")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, n, lo, hi) =>
      assert(b >= 0 && b <= 10, s"bucket $b")
      assert(n > 0 && lo <= hi, s"bucket $b n=$n lo=$lo hi=$hi")
      assert(lo >= b * 1000 && (hi < (b + 1) * 1000 || hi == 10000),
        s"bucket $b bounds [$lo,$hi]")
    }
    val nCand = graft.operators.LlmOps.minhashScored(spark, sf).count()
    assert(rows.map(_._2).sum == nCand)
  }

  test("LSH verify: 220 000 shared shingles score j_e4 = 10000 " +
      "with no ANSI integer overflow") {
    import org.apache.spark.sql.functions._
    // two docs with equal m0..m15 collide in every band; i * 10000
    // exceeds Int.MaxValue, so an INT i, na or nb would throw
    // [ARITHMETIC_OVERFLOW] under Spark's default ANSI mode
    val n = 220000
    val sigs = (0 until 16).foldLeft(spark.range(2).select(
        col("id").as("doc_id"),
        expr(s"transform(sequence(1, $n), k -> CAST(k AS STRING))")
          .as("ss"))) { (df, j) => df.withColumn(s"m$j", lit(7L)) }
      .withColumn("n", size(col("ss")))
    val rows = graft.operators.LlmOps.lshVerified(sigs)
      .select(col("a_id"), col("b_id"), col("i"),
        expr(graft.operators.LlmOps.JaccardE4).as("j_e4"),
        expr("i * 10000 div na").as("cont_a_e4"),
        expr("i * 10000 div nb").as("cont_b_e4"))
      .collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(2) == n)
    assert(r.getLong(3) == 10000L && r.getLong(4) == 10000L &&
      r.getLong(5) == 10000L, r)
  }

  test("llm_idf_drift (J84): drift is the share difference and rows " +
      "arrive in non-increasing |drift| order") {
    val rows = SparkEntry.queries("q_llm_idf_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(rows.nonEmpty && rows.length <= 15)
    rows.foreach { case (t, se, sl, d) =>
      assert(d == sl - se, s"$t drift $d != $sl - $se")
    }
    assert(rows.map(r => math.abs(r._4)).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)), rows.map(_._4).toSeq)
  }

  test("llm_loo_xent (J84): one positive cross-entropy row per source, " +
      "LOO vocab strictly under the global continuation vocab") {
    import org.apache.spark.sql.functions.col
    val nSources = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    val rows = SparkEntry.queries("q_llm_loo_xent")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.length.toLong == nSources, s"${rows.length} vs $nSources")
    rows.foreach { case (s, nb, v, x) =>
      assert(nb > 0 && v > 0, s"$s nb=$nb v=$v")
      assert(x > 0, s"$s xent_e3 $x — add-1 smoothed xent must be > 0")
    }
  }

  test("mm_audio_energy_bands (J84): quarters partition the clip's " +
      "energy (sum equals the decode row's sum_sq) and the dominant " +
      "band is the argmax") {
    import org.apache.spark.sql.functions.col
    val bands = SparkEntry.queries("q_mm_audio_energy_bands")(spark, sf)
      .collect().map(r => r.getLong(0) -> (Seq(r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)), r.getLong(7))).toMap
    val dec = SparkEntry.queries("q_mm_audio_decode")(spark, sf)
      .filter(col("valid"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(bands.nonEmpty && bands.keySet == dec.keySet)
    bands.foreach { case (id, (es, dom)) =>
      assert(es.sum == dec(id), s"clip $id: ${es.sum} != ${dec(id)}")
      assert(es(dom.toInt) == es.max && es.indexOf(es.max) == dom,
        s"clip $id dominant $dom over $es")
    }
  }

  test("events_retention_halflife (J84): all seven horizons bind, " +
      "shares are proper, and the half-life is positive") {
    val r = SparkEntry.queries("q_events_retention_halflife")(spark, sf)
      .collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(0) == 7L, s"n_horizons ${row.getLong(0)}")
    Seq(row.getLong(1), row.getLong(2)).foreach(v =>
      assert(v >= 0 && v <= 1000000L, row))
    assert(row.getLong(4) > 0, s"half_life ${row.getLong(4)}")
  }

  test("graph_eigencentrality (J85): top-20 arrives score-ordered with " +
      "positive normalized scores on the e6 grid") {
    val rows = SparkEntry.queries("q_graph_eigencentrality")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 20)
    rows.foreach { case (n, s) =>
      assert(s > 0 && s <= 1000000L, s"node $n score $s")
    }
    assert(rows.map(_._2).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)), rows.map(_._2).toSeq)
  }

  test("ts_sma_crossover (J85): the crossing census is internally " +
      "consistent (counts vs last_cross_day vs regime parity)") {
    val r = SparkEntry.queries("q_ts_sma_crossover")(spark, sf)
      .collect()(0)
    val (nd, ng, ndth, last) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nd > 0)
    assert((ng + ndth == 0) == (last == -1L),
      s"crosses=${ng + ndth} last=$last")
    // regimes alternate: golden and death counts differ by at most 1
    assert(math.abs(ng - ndth) <= 1, s"golden=$ng death=$ndth")
  }

  test("priv_dp_histogram (J85): cells partition the event count and " +
      "the Laplace draw stays inside its inverse-CDF range") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_priv_dp_histogram")(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = graft.Tables.events(spark, sf).count()
    assert(rows.map(_._1).sum == total)
    rows.foreach { case (nt, nz, nn) =>
      // |noise| <= 2*ln(1e6) e3 = 27632 (u resolution bound)
      assert(math.abs(nz) <= 27632L, s"noise $nz")
      assert(nn == nt + ((nz + 1000000L) / 1000L - 1000L),
        s"$nn != $nt + shift($nz)")
    }
  }

  test("events_rfm_migration (J85): the matrix partitions the user " +
      "base, shares fold to one, and the median split binds") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_events_rfm_migration")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val nUsers = graft.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum == nUsers)
    val shares = rows.map(_._4)
    assert(shares.sum <= 10000L && shares.sum >= 10000L - rows.length,
      shares.toSeq)
    // the median split is non-vacuous: both segments appear somewhere
    val segs = rows.flatMap(r => Seq(r._1, r._2)).toSet
    assert(segs.contains("high") && segs.contains("low"), segs)
  }

  test("llm_retrieve_rerank (J86): the cascade's output is " +
      "cosine-ordered, drawn only from the BM25 top-20, with the " +
      "declared rank shift") {
    val rows = SparkEntry.queries("q_llm_retrieve_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { case (d, lex, rr, _, shift) =>
      assert(d != 7L, "the probe doc must not retrieve itself")
      assert(lex >= 1 && lex <= 20, s"doc $d lex_rank $lex")
      assert(shift == lex - rr, s"doc $d shift $shift != $lex - $rr")
    }
    assert(rows.map(_._3).toSeq == (1L to rows.length).toSeq)
    assert(rows.map(_._4).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)), rows.map(_._4).toSeq)
  }

  test("llm_wand_prune (J86): per-term census is internally consistent " +
      "and the bound leaves at least one scannable block per term that " +
      "reaches the top-10 threshold") {
    val rows = SparkEntry.queries("q_llm_wand_prune")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { case (t, nb, ns, np, nsp, share) =>
      assert(nb > 0 && ns <= nb && nsp <= np,
        s"term $t census inconsistent: $nb/$ns/$np/$nsp")
      assert(share == nsp * 10000 / math.max(np, 1),
        s"term $t share $share")
      // soundness floor: the block holding the term's GLOBAL max can
      // never satisfy blockmax + (gall - gmax) < theta while any doc
      // containing all three terms is in the top-10 (theta <= gall),
      // so at least one block per term must remain scannable
      assert(ns < nb, s"term $t pruned ALL blocks — unsound bound")
    }
  }

  test("graph_pref_attach (J87): scores are the exact degree products, " +
      "candidates share at least one wedge, and no predicted link " +
      "already exists") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_graph_pref_attach")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, v, nc, du, dv, pa) =>
      assert(pa == du * dv, s"($u,$v) pa $pa != $du*$dv")
      assert(nc >= 1, s"($u,$v) no wedge evidence")
      assert(u < v, s"($u,$v) orientation")
    }
    assert(rows.map(_._6).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)))
    // no predicted link may already be a co-occurrence edge — rebuild
    // the edge set from the baskets in the driver (tiny at sf0.001)
    val li = graft.Tables.lineitem(spark, sf)
      .selectExpr("CAST(l_orderkey AS LONG) AS o",
        "CAST(l_partkey AS LONG) AS pk")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    rows.foreach { case (u, v, _, _, _, _) =>
      assert(!edges.contains((u, v)), s"($u,$v) is an existing edge")
    }
  }

  test("mm_image_runs (J87): run census bounds hold and a driver " +
      "replay of one strip matches exactly") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_mm_image_runs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, fg, runs, longest, share) =>
      assert(fg <= n && longest <= fg, s"img $id bounds")
      assert((runs == 0) == (fg == 0), s"img $id runs/fg parity")
      assert(runs <= (n + 1) / 2, s"img $id too many runs")
      assert(share == fg * 10000 / n, s"img $id share")
    }
    // driver replay of the smallest media_id's strip from its text
    val id0 = rows.map(_._1).min
    val text = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === id0).select(col("text"))
      .collect()(0).getString(0)
    val px = text.map(_.toInt)
    val mean = px.map(_.toLong).sum / px.length
    var runs = 0L; var longest = 0L; var cur = 0L; var fg = 0L
    px.foreach { p =>
      if (p > mean) { cur += 1; fg += 1; longest = math.max(longest, cur) }
      else { if (cur > 0) runs += 1; cur = 0 }
    }
    if (cur > 0) runs += 1
    val got = rows.find(_._1 == id0).get
    assert((got._3, got._4, got._5) == ((fg, runs, longest)),
      s"driver replay mismatch on doc $id0: $got vs ($fg,$runs,$longest)")
  }

  test("llm_pass_at_k (J88): pass@k is monotone in k, bounded by the " +
      "per-sample rate from below, and exact at the degenerate corners") {
    val rows = SparkEntry.queries("q_llm_pass_at_k")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 4L, 8L))
    val byK = rows.map(r => r._1 -> r._4).toMap
    assert(byK(1L) <= byK(4L) && byK(4L) <= byK(8L), byK)
    rows.foreach { case (k, nt, avgc, p) =>
      assert(nt > 0 && p >= 0 && p <= 1000000L, s"k=$k")
      assert(avgc >= 0 && avgc <= 10000L, s"k=$k avg_correct $avgc")
      // pass@k >= per-sample success rate (k draws can't do worse
      // than one, modulo the e4->e6 grids)
      assert(p >= avgc * 100 - 100, s"k=$k p=$p avgc=$avgc")
    }
  }

  test("llm_brier_decomp (J88): components are proper (REL, RES, UNC " +
      "nonnegative, RES <= UNC) and the decomposition gap stays inside " +
      "the within-bin residue bound, not a broken identity") {
    val r = SparkEntry.queries("q_llm_brier_decomp")(spark, sf)
      .collect()(0)
    val (n, brier, rel, res, unc, gap) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(n > 0)
    assert(brier >= 0 && brier <= 100000000L, s"brier $brier")
    assert(rel >= 0 && res >= 0 && unc >= 0, s"$rel/$res/$unc")
    // resolution can never exceed the label's own variance
    assert(res <= unc, s"res $res > unc $unc")
    assert(gap == brier - (rel - res + unc), "identity broken")
    // the gap is the within-bin residue var(p) - 2*cov(p, y) (+ grid
    // slack): |gap| <= sigma_p * (sigma_p + 2*sigma_y) for 0.1-wide
    // bins = 500 * (500 + 10000) = 5.25e6 e8-units
    assert(math.abs(gap) <= 5250000L + 20000L,
      s"gap $gap outside the within-bin residue bound")
  }

  test("ts_seasonal_strength_by_type (J88): strengths are proper " +
      "shares, residual SS never exceeds detrended SS beyond the " +
      "clamp, and every event type reports") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_ts_seasonal_strength_by_type")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nTypes = graft.Tables.events(spark, sf)
      .select(col("event_type")).distinct().count()
    assert(rows.length.toLong == nTypes)
    rows.foreach { case (t, nd, ssd, ssr, st) =>
      assert(nd > 0 && ssd >= 0 && ssr >= 0, s"$t census")
      assert(st >= 0 && st <= 10000L, s"$t strength $st")
      // strength arithmetic replay (clamped ratio)
      val expect = math.max(0L,
        10000L - (BigInt(ssr) * 10000 / BigInt(math.max(ssd, 1L)))
          .toLong)
      assert(st == expect, s"$t strength $st != $expect")
    }
  }

  test("llm_rbp (J89): exact geometric weights (sum + tail = 1e10), " +
      "terms gate on relevance, and the cascade is monotone") {
    val rows = SparkEntry.queries("q_llm_rbp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 10)
    assert(rows.map(_._1).toSeq == (1L to 10L),
      "ranks must be exactly 1..10")
    // the geometric identity: sum of emitted weights + 0.8^10*1e10
    // (= 8^10 = 2^30) is exactly 1e10 — no rounding anywhere
    assert(rows.map(_._3).sum + (1L << 30) == 10000000000L,
      "weight mass + tail != 1e10")
    var cum = 0L
    rows.foreach { case (rk, isRel, w, term, rbpCum) =>
      assert(isRel == 0L || isRel == 1L, s"rank $rk rel flag")
      assert(term == isRel * w, s"rank $rk term")
      cum += term
      assert(rbpCum == cum, s"rank $rk cum")
    }
    // per-rank weight replay: w_k = 2 * 8^(k-1) * 10^(10-k)
    rows.foreach { case (rk, _, w, _, _) =>
      val expect = BigInt(2) * BigInt(8).pow(rk.toInt - 1) *
        BigInt(10).pow(10 - rk.toInt)
      assert(BigInt(w) == expect, s"rank $rk weight $w != $expect")
    }
  }

  test("llm_fleiss_kappa (J89): the vote census partitions the corpus " +
      "and every emitted ratio replays exactly from the counts") {
    val r = SparkEntry.queries("q_llm_fleiss_kappa")(spark, sf)
      .collect()
    assert(r.length == 1)
    val row = r.head
    val (n, t, u3, u0, nsplit) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    val (pbar, pe, kappa) = (row.getLong(5), row.getLong(6),
      row.getLong(7))
    assert(n > 0 && u3 + u0 + nsplit == n, "vote partition")
    assert(t >= 0 && t <= 3 * n, "keep votes in range")
    // S is derivable: k in {0,3} contributes 9, split docs (k in
    // {1,2}) contribute 5 — so the replay needs no extra column
    val s = BigInt(9) * (u3 + u0) + BigInt(5) * nsplit
    val bn = BigInt(n); val bt = BigInt(t)
    assert(BigInt(pbar) == (s - 3 * bn) * 10000 / (6 * bn), "pbar")
    assert(BigInt(pe) ==
      (bt * bt + (3 * bn - bt) * (3 * bn - bt)) * 10000 / (9 * bn * bn),
      "pe")
    val num = 3 * bn * (s - 3 * bn) -
      2 * (bt * bt + (3 * bn - bt) * (3 * bn - bt))
    val den = (2 * (9 * bn * bn - bt * bt -
      (3 * bn - bt) * (3 * bn - bt))).max(BigInt(1))
    // the shift idiom: floor division regardless of sign
    val expect = (num * 10000 + 100000000 * den) / den - 100000000
    assert(BigInt(kappa) == expect, s"kappa $kappa != $expect")
    assert(kappa <= 10000L, "kappa bounded above by 1")
  }

  test("llm_chao1 (J89): the richness estimate replays from the " +
      "singleton/doubleton census and never undercuts observed vocab") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_llm_chao1")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val nSrc = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    assert(rows.length.toLong == nSrc, "one row per source")
    rows.foreach { case (src, vocab, nTok, f1, f2, chao1, cov) =>
      assert(vocab > 0 && nTok >= vocab, s"$src census")
      assert(f1 + f2 <= vocab, s"$src f1+f2 > vocab")
      val expectChao1 = vocab * 100 +
        (BigInt(f1) * (f1 - 1) * 100 / (2 * (f2 + 1))).toLong
      assert(chao1 == expectChao1, s"$src chao1 $chao1")
      assert(chao1 >= vocab * 100, s"$src estimate undercuts observed")
      val expectCov = (nTok - f1) * 10000 / math.max(nTok, 1L)
      assert(cov == expectCov && cov <= 10000L, s"$src coverage $cov")
    }
  }

  test("llm_bloom_fpr (J90): rates replay from the bit census, more " +
      "bits never raise the measured FPR, and the independence " +
      "prediction tracks the measurement") {
    val rows = SparkEntry.queries("q_llm_bloom_fpr")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(rows.map(_._1).toSeq == Seq(1024L, 4096L, 16384L))
    rows.foreach { case (m, nm, nb, fill, np, nfp, fpr, pred) =>
      assert(nb <= math.min(m, 3 * nm), s"m=$m set bits $nb")
      assert(nb >= 1, s"m=$m empty filter")
      assert(fill == nb * 10000 / m, s"m=$m fill replay")
      assert(np > 0 && nfp <= np, s"m=$m probe counts")
      assert(fpr == nfp * 10000 / np, s"m=$m fpr replay")
      assert(pred == fill * fill * fill / 100000000L,
        s"m=$m prediction replay")
      // the independence approximation should be in the right
      // neighborhood at 500 probes (binomial noise + correlation
      // slack; measured gaps this fixture: 232/154/6 e4-units)
      assert(math.abs(fpr - pred) <= 1200L,
        s"m=$m fpr $fpr vs predicted $pred")
    }
    // more bits => monotonically no-worse FPR and lower fill
    assert(rows.map(_._7).sliding(2).forall(p => p(1) <= p(0)),
      "fpr must not rise with m")
    assert(rows.map(_._4).sliding(2).forall(p => p(1) < p(0)),
      "fill share must fall with m")
  }

  test("llm_croston (J90, q_parts_croston): rates replay from the " +
      "smoothed parts and the min-part fold replays bit-exactly in " +
      "the driver") {
    import org.apache.spark.sql.functions.{col, expr, sum => ssum}
    val rows = SparkEntry.queries("q_parts_croston")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (pk, n, z, p, cro, sba) =>
      assert(n >= 3 && z >= 1 && p >= 1, s"pk=$pk census")
      assert(cro == z * 10000 / math.max(p, 1L), s"pk=$pk croston")
      assert(sba == z * 7500 / math.max(p, 1L), s"pk=$pk sba")
      assert(sba <= cro, s"pk=$pk SBA must not exceed Croston")
    }
    // driver replay of the two EWMA folds for the smallest part key
    val pk0 = rows.head._1
    val census = graft.Tables.lineitem(spark, sf)
      .filter(col("l_partkey") === pk0)
      .select(expr("CAST(datediff(l_shipdate, DATE '1995-01-01')" +
        " AS BIGINT)").as("d"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy(col("d")).agg(ssum(col("q")).as("size"))
      .orderBy(col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sizes = census.map(_._2)
    val gaps = census.map(_._1).sliding(2).map(a => a(1) - a(0)).toSeq
    def fold(xs: Seq[Long]): Long =
      xs.tail.foldLeft(xs.head)((a, x) => (a + x) / 2)
    assert(rows.head._3 == fold(sizes), "z_hat fold replay")
    assert(rows.head._4 == fold(gaps), "p_hat fold replay")
  }

  test("dq_key_discovery (J90): o_orderkey is the one candidate key " +
      "and every uniqueness share replays from the counts") {
    val rows = SparkEntry.queries("q_dq_key_discovery")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == 6)
    assert(rows.map(_._2).distinct.length == 1,
      "row count must agree across arms")
    rows.foreach { case (c, n, nulls, dist, uniq, isKey) =>
      assert(dist >= 1 && dist <= n && nulls >= 0, s"$c counts")
      assert(uniq == dist * 10000 / n, s"$c uniqueness replay")
      assert(isKey == (dist == n && nulls == 0L), s"$c verdict")
    }
    // o_orderkey keys by construction; a continuous double column
    // (o_totalprice) can incidentally key the 150-row sf0.001 table,
    // so only the scale-stable verdicts are pinned: the true key is
    // found, and the low-cardinality enums can never key
    val keys = rows.filter(_._6).map(_._1).toSet
    assert(keys.contains("o_orderkey"), "o_orderkey must key")
    assert(!keys.contains("o_orderstatus") &&
      !keys.contains("o_orderpriority"), "enum columns cannot key")
  }

  test("ts_holt_winters (J91): the coupled seasonal fold replays " +
      "bit-exactly in the driver and forecasts decompose") {
    import org.apache.spark.sql.functions.{col, count => scount, expr, lit}
    val rows = SparkEntry.queries("q_ts_holt_winters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (0L to 6L), "one row per dow")
    assert(rows.map(_._3).distinct.length == 1 &&
      rows.map(_._4).distinct.length == 1,
      "level/trend shared across dows")
    rows.foreach { case (dow, s, l, b, f) =>
      assert(f == l + b + s, s"dow=$dow forecast decomposition")
    }
    // full driver replay of the fold from the daily census
    val pts = graft.Tables.events(spark, sf)
      .withColumn("d", expr("(ts_ns div 1000) div 86400000000"))
      .groupBy(col("d")).agg(scount(lit(1)).as("x"))
      .orderBy(col("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var l = pts.head._2; var b = 0L
    val s = Array.fill(7)(0L)
    pts.tail.foreach { case (d, x) =>
      val slot = (d % 7).toInt
      val l2 = ((x - s(slot)) + l + b) / 2
      val b2 = (b + (l2 - l)) / 2
      s(slot) = (s(slot) + (x - l2)) / 2
      l = l2; b = b2
    }
    assert(rows.head._3 == l && rows.head._4 == b, "level/trend replay")
    rows.foreach { case (dow, sc, _, _, _) =>
      assert(sc == s(dow.toInt), s"seasonal slot $dow replay")
    }
  }

  test("graph_ppr (J91): the seed holds its restart mass, ranks " +
      "first, and spread mass is conserved up to truncation") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_graph_ppr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    val topDeg = rows.maxBy(_._2)
    assert(rows.head._4 >= 500000L,
      "top mass must include the 5e5 restart")
    assert(rows.head._2 == topDeg._2,
      "the seed (max-degree among emitted) ranks first")
    assert(rows.map(_._4).sliding(2).forall(p => p(1) <= p(0)),
      "ppr2 must be emitted descending")
    rows.foreach { case (n, d, r1, r2) =>
      assert(d >= 1 && r1 >= 0 && r1 <= 1000000L && r2 >= 0 &&
        r2 <= 1000000L, s"node $n mass bounds")
    }
  }

  test("llm_ece (J91): cross-row consistency — ECE replays from the " +
      "enrolled reliability diagram's own bins") {
    val r = SparkEntry.queries("q_llm_ece")(spark, sf).collect()
    assert(r.length == 1)
    val (n, nb, ece, mce, over) = (r.head.getLong(0), r.head.getLong(1),
      r.head.getLong(2), r.head.getLong(3), r.head.getLong(4))
    assert(nb >= 1 && nb <= 10 && ece >= 0 && mce >= ece,
      "bin census and L1 bounds")
    assert(math.abs(over) <= ece + 1, "signed mean within the L1")
    // replay from q_llm_score_calibration: same bins, same divs
    val cal = SparkEntry.queries("q_llm_score_calibration")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(4), r.getLong(5)))
    val nn = cal.map(_._1).sum
    assert(nn == n, "doc census must agree across the two rows")
    val l1 = cal.map { case (nk, rate, mean) =>
      nk * math.abs(mean - rate) }.sum
    assert(ece == l1 / nn, "ECE replay from the reliability diagram")
    assert(mce == cal.map { case (_, rate, mean) =>
      math.abs(mean - rate) }.max, "MCE replay")
  }

  test("llm_lsh_bucket_skew (J92): every band sees the same doc " +
      "census, shares replay, and the singleton/bucket algebra holds") {
    val rows = SparkEntry.queries("q_llm_lsh_bucket_skew")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == (0L to 7L), "8 bands")
    assert(rows.map(_._3).distinct.length == 1,
      "each doc lands in every band exactly once")
    rows.foreach { case (b, nb, nd, ns, mx, pairs, share) =>
      assert(ns <= nb && nb <= nd, s"band $b bucket algebra")
      assert(mx >= 1 && mx <= nd - ns + 1, s"band $b max bucket")
      // singletons generate no pairs; a band with all singletons
      // would have pairs == 0
      assert(pairs >= 0 &&
        (pairs == 0) == (nb == nd && mx == 1), s"band $b pairs")
      assert(share == mx * 10000 / nd, s"band $b share replay")
    }
  }

  test("ts_ses_alpha_sweep (J92): all three arms replay bit-exactly " +
      "in the driver, errors accumulate before updates") {
    import org.apache.spark.sql.functions.{col, count => scount, expr, lit}
    val rows = SparkEntry.queries("q_ts_ses_alpha_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(25L, 50L, 75L))
    assert(rows.map(_._2).distinct.length == 1, "shared day census")
    val xs = graft.Tables.events(spark, sf)
      .withColumn("d", expr("(ts_ns div 1000) div 86400000000"))
      .groupBy(col("d")).agg(scount(lit(1)).as("x"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    def replay(upd: (Long, Long) => Long): (Long, Long) =
      xs.tail.foldLeft((xs.head, 0L)) { case ((l, e), x) =>
        (upd(l, x), e + math.abs(x - l)) }
    val arms = Map[Long, (Long, Long) => Long](
      25L -> ((l, x) => (3 * l + x) / 4),
      50L -> ((l, x) => (l + x) / 2),
      75L -> ((l, x) => (l + 3 * x) / 4))
    rows.foreach { case (a, n, lvl, mae) =>
      assert(n.toInt == xs.length, s"alpha $a day count")
      val (l, e) = replay(arms(a))
      assert(lvl == l, s"alpha $a level replay")
      assert(mae == e * 100 / (n - 1), s"alpha $a MAE replay")
    }
  }

  test("priv_dp_utility (J92): error falls as epsilon rises, cell " +
      "census is shared, and the mean replays") {
    val rows = SparkEntry.queries("q_priv_dp_utility")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(25L, 50L, 200L))
    assert(rows.map(_._2).distinct.length == 1, "shared cell census")
    rows.foreach { case (eps, cells, l1, mx, mean, sup) =>
      assert(cells >= 1 && l1 >= 0 && mx <= l1 && sup <= cells,
        s"eps $eps bounds")
      assert(mean == l1 * 100 / cells, s"eps $eps mean replay")
    }
    // the privacy-utility curve: 8x noise scale across the sweep
    // must show up as strictly more L1 error at the strict end
    assert(rows.head._3 > rows.last._3,
      "eps=0.25 must hurt more than eps=2")
  }

  test("llm_dawid_skene (J93): shared globals across judge rows, " +
      "prevalence replays, rates are proper shares, and flips stay " +
      "within the corpus") {
    val rows = SparkEntry.queries("q_llm_dawid_skene")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == Seq("gopher", "logreg", "quality"))
    assert(rows.map(r => (r._2, r._3, r._4, r._7)).distinct.length == 1,
      "global columns must agree across judge rows")
    val (n, n1, pi1, flips) = (rows.head._2, rows.head._3,
      rows.head._4, rows.head._7)
    assert(n > 0 && n1 <= n && flips >= 0 && flips <= n)
    assert(pi1 == n1 * 10000 / n, "prevalence replay")
    rows.foreach { case (j, _, _, _, se, sp, _) =>
      assert(se >= 0 && se <= 10000 && sp >= 0 && sp <= 10000,
        s"judge $j rates must be proper shares")
    }
    // a judge that votes WITH the majority by construction (it is one
    // of its three voters) cannot have sens + spec at chance across
    // the board: at least one judge must beat 10000 combined
    assert(rows.exists(r => r._5 + r._6 > 10000L),
      "at least one informative judge")
  }

  test("events_fano (J93): the dispersion index replays bit-exactly " +
      "from the daily census and the mean replays from the counts") {
    import org.apache.spark.sql.functions.{col, count => scount, expr, lit, sum => ssum}
    val rows = SparkEntry.queries("q_events_fano")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val census = graft.Tables.events(spark, sf)
      .withColumn("d", expr("(ts_ns div 1000) div 86400000000"))
      .groupBy(col("event_type"), col("d"))
      .agg(scount(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(scount(lit(1)).as("n"), ssum(col("x")).as("s"),
        ssum(expr("x * x")).as("ss"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { case (t, nd, ne, mean, fano) =>
      val (n, s, ss) = census(t)
      assert(nd == n && ne == s, s"$t census")
      assert(mean == s * 100 / n, s"$t mean replay")
      val expect = ((BigInt(n) * ss - BigInt(s) * s) * 100 /
        (BigInt(n) * s)).toLong
      assert(fano == expect && fano >= 0, s"$t fano $fano != $expect")
    }
  }

  test("mm_audio_clipping (J94): rails and rates replay from the " +
      "synthetic PCM16 codes and the threshold binds on real rows") {
    val rows = SparkEntry.queries("q_mm_audio_clipping")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, peak, dc, nc, share) =>
      // printable ASCII rails: codes 32..126 -> samples -8192..15872
      assert(n > 0 && peak <= 15872L, s"clip $id peak $peak")
      assert(nc >= 0 && nc <= n, s"clip $id count")
      assert(share == nc * 10000 / n, s"clip $id share replay")
      assert(dc >= -819200L && dc <= 1587200L, s"clip $id dc range")
    }
    // the 14000 threshold must bind somewhere on the corpus (codes
    // >= 119, i.e. w/x/y/z) — a vacuous audit would mean the
    // threshold was chosen above the data's rails
    assert(rows.exists(_._5 > 0), "threshold never binds — vacuous")
  }

  test("llm_idf_variants (J94): the three idf formulas order " +
      "correctly, globals agree across term rows, and overlap is a " +
      "proper top-10 intersection") {
    val rows = SparkEntry.queries("q_llm_idf_variants")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).sorted.toSeq == rows.map(_._1).toSeq &&
      rows.length == 3, "three term rows, term-ordered")
    assert(rows.map(r => (r._3, r._7)).distinct.length == 1,
      "n_docs and overlap shared across rows")
    val ov = rows.head._7
    assert(ov >= 0 && ov <= 10, "overlap is a top-10 intersection")
    rows.foreach { case (t, df, n, plain, rob, luc, _) =>
      assert(df >= 1 && df <= n, s"$t df bounds")
      // lucene = ln(x + 1) > robertson = ln(x) always; plain >=
      // robertson for df <= n/2 (mid-df corpus terms)
      assert(luc > rob, s"$t lucene must exceed robertson")
      if (2 * df <= n) assert(plain >= rob, s"$t plain vs robertson")
    }
  }

  test("llm_token_f1 (J95): overlap is bounded by the shorter doc, " +
      "ratios replay, and one pair's multiset overlap replays in the " +
      "driver") {
    import org.apache.spark.sql.functions.{col, split => ssplit}
    val rows = SparkEntry.queries("q_llm_token_f1")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getBoolean(7)))
    assert(rows.nonEmpty, "LSH candidates exist at fixture scale")
    rows.foreach { case (a, b, j, la, lb, ov, f1, diff) =>
      assert(a < b, s"pair order $a,$b")
      assert(ov >= 0 && ov <= math.min(la, lb), s"($a,$b) overlap")
      assert(f1 == 2 * ov * 10000 / (la + lb), s"($a,$b) f1 replay")
      assert(j >= 0 && j <= 10000 && f1 >= 0 && f1 <= 10000)
      assert(diff == ((f1 >= 8000) != (j >= 8000)), s"($a,$b) verdict")
    }
    // driver replay of the multiset overlap for the first pair
    val (a0, b0) = (rows.head._1, rows.head._2)
    def toks(id: Long): Map[String, Long] =
      graft.Tables.documents(spark, sf)
        .filter(col("doc_id") === id)
        .select(ssplit(col("text"), " ").as("tk")).collect()
        .head.getSeq[String](0).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
    val (ta, tb) = (toks(a0), toks(b0))
    val expect = ta.keysIterator
      .map(k => math.min(ta(k), tb.getOrElse(k, 0L))).sum
    assert(rows.head._6 == expect, s"pair ($a0,$b0) overlap replay")
    assert(rows.head._4 == ta.values.sum && rows.head._5 == tb.values.sum,
      "length replay")
  }

  test("llm_mix_temperature (J95): the T=2 arm is bit-identical to " +
      "the enrolled sqrt_mix row and higher temperature flattens the " +
      "mix") {
    val rows = SparkEntry.queries("q_llm_mix_temperature")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val byT = rows.groupBy(_._1)
    assert(byT.keySet == Set(1L, 2L, 4L))
    // cross-row pin: the T=2 arm must equal q_llm_sqrt_mix exactly
    val sqrtMix = SparkEntry.queries("q_llm_sqrt_mix")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(byT(2L).map(r => (r._2, r._3, r._4, r._5)).toSet == sqrtMix,
      "T=2 arm must reproduce sqrt_mix bit-identically")
    // flattening: the dominant language's weight must not grow with T
    val maxW = byT.view.mapValues(_.map(_._5).max).toMap
    assert(maxW(1L) >= maxW(2L) && maxW(2L) >= maxW(4L),
      s"max weight must fall with T: $maxW")
    byT.values.foreach { arm =>
      val tot = arm.map(_._5).sum
      assert(tot <= 1000000L && tot >= 1000000L - arm.length,
        s"weights must sum to 1e6 up to truncation: $tot")
    }
  }

  test("ts_changepoint2 (J96): level-1 replays in the driver, level-2 " +
      "bounds partition at the cut, and every statistic is the " +
      "segment-scaled CUSUM") {
    import org.apache.spark.sql.functions.{col, count => scount, expr, lit}
    val rows = SparkEntry.queries("q_ts_changepoint2")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    val byLevel = rows.map(r => r._1 -> r).toMap
    assert(byLevel.contains("1"), "level-1 cut always exists")
    val xs = graft.Tables.events(spark, sf)
      .withColumn("d", expr("(ts_ns div 1000) div 86400000000"))
      .groupBy(col("d")).agg(scount(lit(1)).as("x"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    // driver replay of the level-1 argmax
    def argmax(seg: Array[Long]): (Long, Long) = {
      val m = seg.length.toLong; val sm = seg.sum
      var best = (0L, -1L); var sj = 0L
      seg.zipWithIndex.dropRight(1).foreach { case (x, idx) =>
        sj += x
        val stat = math.abs(m * sj - (idx + 1) * sm)
        if (stat > best._2) best = ((idx + 1).toLong, stat)
      }
      best
    }
    val (cp1, stat1) = argmax(xs)
    val l1 = byLevel("1")
    assert(l1._2 == 1L && l1._3 == xs.length.toLong, "level-1 bounds")
    assert(l1._4 == cp1 && l1._6 == stat1, "level-1 argmax replay")
    byLevel.get("2L").foreach { r =>
      assert(r._2 == 1L && r._3 == cp1, "2L bounds")
      val (c, s) = argmax(xs.take(cp1.toInt))
      assert(r._4 == c && r._6 == s, "2L argmax replay")
    }
    byLevel.get("2R").foreach { r =>
      assert(r._2 == cp1 + 1 && r._3 == xs.length.toLong, "2R bounds")
      val (c, s) = argmax(xs.drop(cp1.toInt))
      assert(r._4 == c + cp1 && r._6 == s, "2R argmax replay")
    }
  }

  test("llm_f1_threshold (J96): the argmax beats the enrolled gate, " +
      "every ratio replays from the confusion counts, and the gate " +
      "arm sits at the 0.76 operating point") {
    val rows = SparkEntry.queries("q_llm_f1_threshold")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(rows.map(_._1).toSeq == Seq("f1_argmax", "zz_enrolled_gate"))
    rows.foreach { case (arm, th, tp, fp, fn, p, rc, f1) =>
      assert(tp >= 0 && fp >= 0 && fn >= 0, s"$arm counts")
      assert(p == tp * 10000 / math.max(tp + fp, 1L), s"$arm precision")
      assert(rc == tp * 10000 / math.max(tp + fn, 1L), s"$arm recall")
      assert(f1 == 2 * tp * 10000 / math.max(2 * tp + fp + fn, 1L),
        s"$arm f1 replay")
    }
    assert(rows.head._8 >= rows.last._8,
      "argmax F1 must dominate the enrolled gate")
    assert(rows.last._2 >= 7600L, "gate arm at the 0.76 point")
  }

  test("join_dpp (J97): the executed plan carries a dynamic-pruning " +
      "subquery on the fact's partition column and row counts match " +
      "the dim verdicts") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("q_join_dpp")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      "DPP subquery missing — the scan degraded to static/full")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 5)
    // every surviving type's row count must itself be >= the mean
    // threshold the dim applied
    val tot = graft.Tables.events(spark, sf).count()
    rows.foreach { case (t, n, cents) =>
      assert(n >= tot / 5, s"type $t survived below threshold")
      assert(cents > 0, s"type $t cents")
    }
  }

  test("join_skew_aqe (J105): the executed plan split the Zipf " +
      "partition at runtime (skew=true verdict) and the rollup " +
      "replays bit-exactly") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_join_skew_aqe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty && rows.forall(_._4),
      "skew_join verdict false — AQE never split the skewed partition")
    // driver replay of the Zipf key + join + rollup
    val dimZk = graft.Tables.part(spark, sf)
      .select((col("p_partkey") % 32).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2).toLong))
    val expect = li.map { case (ok, pk, q) =>
        (if (ok % 10 < 9) 0L else 1L + pk % 31, q)
      }
      .filter { case (zk, _) => dimZk.contains(zk) }
      .groupBy { case (zk, _) => zk % 4 }
      .map { case (cat, vs) =>
        (cat, (vs.length.toLong, vs.map(_._2).sum)) }
    rows.foreach { case (cat, n, qty, _) =>
      val e = expect(cat)
      assert(n == e._1, s"cat $cat n_rows replay")
      assert(qty == e._2, s"cat $cat qty replay")
    }
    // the Zipf head must actually dominate — the skew being mitigated
    // is real, not an artifact of the thresholds
    assert(rows.find(_._1 == 0L).get._2 > rows.map(_._2).sum / 2,
      "cat 0 (the zk=0 head) should carry most rows")
  }

  test("layout_part_bucket (J106): DPP and bucket co-location verdicts " +
      "both hold on ONE executed plan and the rollup replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_layout_part_bucket")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4), "dpp_pruned verdict false")
    assert(rows.forall(_._5), "no_shuffle_join verdict false")
    // driver replay: above-mean types x (user_id % 3 == 0) users
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val tot = ev.length.toLong
    val keep = ev.groupBy(_._1).filter(_._2.length >= tot / 5).keySet
    val expect = ev
      .filter(e => keep(e._1) && e._2 % 3 == 0)
      .groupBy(_._1)
      .map { case (t, vs) => (t, (vs.length.toLong,
        vs.map(v => math.floor(v._3 * 100 + 0.5).toLong).sum)) }
    assert(rows.map(_._1).toSet == keep, "surviving type set")
    rows.foreach { case (t, n, cents, _, _) =>
      val e = expect(t)
      assert(n == e._1, s"type $t n_rows replay")
      assert(cents == e._2, s"type $t cents replay")
    }
  }

  test("diag_exchange_reuse (J107): the executed plan reused the " +
      "aggregate exchange across both report branches and the shares " +
      "replay bit-exactly") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_diag_exchange_reuse")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty && rows.forall(_._6),
      "exchange_reused verdict false — the report paid the corpus " +
        "shuffle twice")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val per = ev.groupBy(_._1).map { case (t, vs) => (t, (vs.length.toLong,
      vs.map(v => math.floor(v._2 * 100 + 0.5).toLong).sum)) }
    val totN = per.values.map(_._1).sum
    val totC = per.values.map(_._2).sum
    rows.foreach { case (t, n, c, sh, csh, _) =>
      assert((n, c) == per(t), s"$t census replay")
      assert(sh == n * 10000 / totN, s"$t share replay")
      assert(csh == c * 10000 / totC, s"$t cents share replay")
    }
  }

  test("diag_shuffle_metrics (J108): map-side combine verdict holds " +
      "(records shuffled bounded by groups x partitions, bytes " +
      "positive) and the census replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_diag_shuffle_metrics")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4), "combine_worked verdict false")
    assert(rows.forall(_._5), "bytes_positive verdict false")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val per = ev.groupBy(_._1).map { case (t, vs) => (t, (vs.length.toLong,
      vs.map(v => math.floor(v._2 * 100 + 0.5).toLong).sum)) }
    rows.foreach { case (t, n, c, _, _) =>
      assert((n, c) == per(t), s"$t census replay")
    }
  }

  test("sql_lateral_topk (J109): the LATERAL subquery's top-2 rows " +
      "replay from a driver sort and every customer contributes at " +
      "most 2") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_sql_lateral_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val perCust = rows.groupBy(_._1)
    assert(perCust.values.forall(_.length <= 2), "more than top-2 leaked")
    val expect = graft.Tables.orders(spark, sf)
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (ck, os) =>
        (ck, os.sortBy(o => (-o._3, o._2)).take(2)
          .map(o => (o._2, math.floor(o._3 * 100 + 0.5).toLong)).toSet)
      }
    perCust.foreach { case (ck, got) =>
      assert(got.map(g => (g._2, g._3)).toSet == expect(ck),
        s"customer $ck top-2 replay")
    }
    assert(perCust.keySet == expect.filter(_._2.nonEmpty).keySet)
  }

  test("layout_bucket_prune (J110): the scan read fewer buckets than " +
      "it has and user 7's census replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_layout_bucket_prune")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty && rows.forall(_._4),
      "bucket_pruned verdict false — the point lookup scanned every bucket")
    val ev = graft.Tables.events(spark, sf)
      .filter(col("user_id") === 7L)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val per = ev.groupBy(_._1).map { case (t, vs) => (t, (vs.length.toLong,
      vs.map(v => math.floor(v._2 * 100 + 0.5).toLong).sum)) }
    assert(rows.map(_._1).toSet == per.keySet)
    rows.foreach { case (t, n, c, _) =>
      assert((n, c) == per(t), s"$t census replay") }
  }

  test("diag_observe (J111): the observed pre-filter totals equal the " +
      "full census exactly and bound the kept census") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = SparkEntry.queries("q_diag_observe")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val full = graft.Tables.events(spark, sf)
      .agg(expr("CAST(count(*) AS BIGINT)"),
        expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"))
      .first()
    rows.foreach { case (t, nk, ck, nIn, cIn) =>
      assert(nIn == full.getLong(0), s"$t observed n_in")
      assert(cIn == full.getLong(1), s"$t observed cents_in")
      assert(nk <= nIn, s"$t kept bounded")
    }
    assert(rows.map(_._2).sum <= full.getLong(0), "kept total bounded")
  }

  test("json_variant (J112): variant_get extraction replays the k " +
      "census and the absent path is NULL everywhere") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_json_variant")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._6 == 0L), "absent path produced a non-null")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("props"))
      .collect().map(r => (r.getString(0),
        """"k": (\d+)""".r.findFirstMatchIn(r.getString(1)).get
          .group(1).toLong))
    val per = ev.groupBy(_._1).map { case (t, vs) =>
      (t, (vs.length.toLong, vs.map(_._2).sum, vs.map(_._2).min,
        vs.map(_._2).max)) }
    rows.foreach { case (t, n, ks, kmin, kmax, _) =>
      assert((n, ks, kmin, kmax) == per(t), s"$t variant census replay")
    }
  }

  test("str_collation (J113): LCASE collation collapses the mixed-case " +
      "segments to the true segment count") {
    import org.apache.spark.sql.functions.col
    val r = SparkEntry.queries("q_str_collation")(spark, sf)
      .collect().head
    val (nCi, nCs, collapses) = (r.getLong(0), r.getLong(1),
      r.getBoolean(2))
    val segs = graft.Tables.customer(spark, sf)
      .select(col("c_mktsegment")).collect().map(_.getString(0)).toSet
    assert(nCi == segs.size.toLong, "collated distinct = true segments")
    assert(nCs == 2L * segs.size, "binary distinct = both casings")
    assert(collapses)
  }

  test("sql_named_window (J114): rank and running sum agree with a " +
      "driver fold over the per-type day census") {
    val rows = SparkEntry.queries("q_sql_named_window")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, ds) =>
      val sorted = ds.sortBy(d => (d._2, d._3))
      var run = 0L
      sorted.zipWithIndex.foreach { case ((_, _, n, rnk, running), i) =>
        run += n
        assert(rnk == i + 1, s"$t rank at $i")
        assert(running == run, s"$t running sum at $i")
      }
    }
  }

  test("join_runtime_filter (J115): the optimizer injected a bloom " +
      "might_contain on the fact side and the rollup replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_join_runtime_filter")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty && rows.forall(_._4),
      "runtime_filtered verdict false — InjectRuntimeFilter never fired")
    val dim = graft.Tables.part(spark, sf)
      .filter(col("p_size") <= 2).select(col("p_partkey"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_quantity"))
      .collect().map(r => (r.getLong(0), r.getDouble(1).toLong))
    val expect = li.filter(l => dim.contains(l._1))
      .groupBy(l => dim(l._1))
      .map { case (sz, vs) => (sz, (vs.length.toLong, vs.map(_._2).sum)) }
    rows.foreach { case (sz, n, q, _) =>
      assert((n, q) == expect(sz), s"size $sz rollup replay") }
  }

  test("agg_listagg_mode (J116): WITHIN GROUP ordering makes listagg " +
      "deterministic and the mode is the unique leader") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_agg_listagg_mode")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_linenumber"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val per = li.groupBy(_._1)
    rows.foreach { case (f, statuses, mode, n) =>
      val g = per(f)
      assert(statuses == g.map(_._2).distinct.sorted.mkString(","),
        s"$f listagg replay")
      val counts = g.groupBy(_._3).map { case (k, v) => (k, v.length) }
      val best = counts.maxBy(c => (c._2, -c._1))
      // unique mode by construction: assert no tie, then the value
      assert(counts.count(_._2 == best._2) == 1, s"$f mode not unique")
      assert(mode == best._1.toLong, s"$f mode replay")
      assert(n == g.length.toLong)
    }
  }

  test("join_aqe_switch (J118): the initial plan is SMJ, the final " +
      "plan is broadcast-hash, and the rollup replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_join_aqe_switch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty && rows.forall(_._4),
      "aqe_switched verdict false — the runtime re-plan never happened")
    val dim = graft.Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 499000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .collect().map(r => (r.getLong(0), r.getDouble(1).toLong))
    val expect = li.filter(l => dim.contains(l._1))
      .groupBy(l => dim(l._1))
      .map { case (p, vs) => (p, (vs.length.toLong, vs.map(_._2).sum)) }
    assert(rows.map(_._1).toSet == expect.keySet)
    rows.foreach { case (p, n, q, _) =>
      assert((n, q) == expect(p), s"$p rollup replay") }
  }

  test("dq_ansi_mode (J119): all six strict/try contracts hold and " +
      "the try_divide null census equals the div-zero population") {
    import org.apache.spark.sql.functions.col
    val r = SparkEntry.queries("q_dq_ansi_mode")(spark, sf)
      .collect().head
    assert(r.getBoolean(2), "try_divide nulls != div0 population")
    assert(r.getBoolean(3), "ANSI overflow did not raise")
    assert(r.getBoolean(4), "ANSI bad cast did not raise")
    assert(r.getBoolean(5), "ANSI div-by-zero did not raise")
    assert(r.getBoolean(6), "try_* family did not return NULL")
    val nDiv0 = graft.Tables.events(spark, sf)
      .filter(col("user_id") % 5 === 0).count()
    assert(r.getLong(1) == nDiv0, "div0 census replay")
    assert(r.getLong(0) == graft.Tables.events(spark, sf).count())
  }

  test("date_add_months (J120): clamped rows exist, clamping only " +
      "happens on day>=29 sources, and one clamp case replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_date_add_months")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (y, n, d29, cl) =>
      assert(cl <= d29, s"$y: clamped rows must sit on day>=29 sources")
      assert(n >= d29)
    }
    // fixture has month-end dates at every SF (123 at sf0.001) so the
    // clamp census must be non-vacuous somewhere
    assert(rows.map(_._3).sum > 0, "no day>=29 sources — vacuous")
    assert(rows.map(_._4).sum > 0, "no clamped results — vacuous")
    // driver replay of one clamp: Jan 31 -> Feb 28/29 semantics
    val j = java.time.LocalDate.of(1997, 1, 31).plusMonths(1)
    assert(j.getDayOfMonth <= 29)
  }

  test("array_hof (J121): the lambda fold replays on one document and " +
      "stays inside the scan (no explode, no shuffle before the sort)") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_array_hof")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    val doc = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === rows.head._1)
      .select(col("text")).collect().head.getString(0)
    val toks = doc.split(" ")
    assert(rows.head._2 == toks.count(_.length >= 6).toLong)
    assert(rows.head._3 == toks.map(_.length.toLong).sum)
    assert(rows.head._4 == toks.contains("the"))
    val plan = planString("q_array_hof")
    assert(!plan.contains("Generate"),
      "HOF row must not explode — that is q_array_explode's plan")
  }

  test("scan_tablesample (J122): seeded sampling is reproducible and " +
      "lands in the binomial band") {
    val r = SparkEntry.queries("q_scan_tablesample")(spark, sf)
      .collect().head
    assert(r.getBoolean(1), "same seed produced different samples")
    assert(r.getBoolean(2), "sample size outside the 6-sigma band")
    assert(r.getLong(0) == graft.Tables.lineitem(spark, sf).count())
  }

  test("diag_cbo_stats (J123): ANALYZE records the exact dim " +
      "cardinality and the STATIC plan broadcasts the analyzed dim") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_diag_cbo_stats")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4), "catalog rowCount != exact dim count")
    assert(rows.forall(_._5), "static plan did not broadcast")
    // same rollup as the AQE-switch twin — cross-pin the two rows
    val twin = SparkEntry.queries("q_join_aqe_switch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(rows.map(r => (r._1, r._2, r._3)).toSet == twin,
      "CBO row and AQE-switch row disagree on the shared rollup")
  }

  test("events_bot_screen (J97): one user's cv-squared replays " +
      "bit-exactly and verdicts agree with the authored cuts") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = SparkEntry.queries("q_events_bot_screen")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, n, mean, cv2, v) =>
      assert(n >= 9, s"user $u gap floor")
      assert(cv2 >= 0, s"user $u cv2")
      val expect = if (cv2 < 2500) "regular"
        else if (cv2 < 20000) "typical" else "bursty"
      assert(v == expect, s"user $u verdict")
    }
    // driver replay for the first user
    val u0 = rows.head._1
    val ts = graft.Tables.events(spark, sf)
      .filter(col("user_id") === u0)
      .select(expr("ts_ns"), col("event_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .collect().map(_.getLong(0))
    // µs-truncate each stamp BEFORE differencing — the round-12 lane
    // (both engines round identically regardless of ns residue)
    val gaps = ts.sliding(2)
      .map(a => (a(1) / 1000 - a(0) / 1000) / 1000000L).toSeq
    val (ng, s, ss) = (gaps.length.toLong, gaps.sum,
      gaps.map(g => g * g).sum)
    assert(rows.head._2 == ng, "gap count replay")
    assert(rows.head._3 == s * 100 / ng, "mean replay")
    val cv2 = ((BigInt(ng) * ss - BigInt(s) * s) * 10000 /
      (BigInt(s) * s).max(BigInt(1))).toLong
    assert(rows.head._4 == cv2, "cv2 replay")
  }

  test("graph_embeddedness (J98): the census partitions the edge set, " +
      "incidence mass is a multiple of 3 (each triangle touches three " +
      "edges), and shares replay") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    val rows = SparkEntry.queries("q_graph_embeddedness")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._1).forall(b => b >= 0 && b <= 5))
    val m = rows.map(_._2).sum
    // the census must partition the co-purchase edge set exactly
    val edges = graft.Tables.lineitem(spark, sf).as("a")
      .join(graft.Tables.lineitem(spark, sf).as("b"),
        expr("a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"))
      .select(countDistinct(expr("a.l_partkey"), expr("b.l_partkey")))
      .collect().head.getLong(0)
    assert(m == edges, s"edge census $m != $edges")
    val mass = rows.map(_._3).sum
    assert(mass % 3 == 0, s"incidence mass $mass not a 3-multiple")
    rows.foreach { case (b, n, se, share) =>
      assert(share == n * 10000 / m, s"bucket $b share replay")
      if (b == 0) assert(se == 0, "bridges carry no incidence")
      if (b >= 1 && b <= 4) assert(se == b * n, s"bucket $b exact mass")
      if (b == 5) assert(se >= 5 * n, "capped bucket mass floor")
    }
  }

  test("graph_embeddedness packed-key guard is UNPRUNABLE (round 14, " +
      "ADVICE r13): an id outside [0, 1e9) raises even when the " +
      "consumer prunes every projected column — the guard lives in " +
      "the explode's key computation, which any aggregate over the " +
      "census must evaluate") {
    import spark.implicits._
    // one triangle whose apex id sits exactly at the 1e9 pack boundary
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_guard")
      .toFile.getAbsolutePath
    try {
      Seq((1L, 1L), (1L, 2L), (1L, 1000000000L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val ex = intercept[Throwable] {
        // selecting only the bucket column drops share_e4 — the old
        // projection-side guard vanished under exactly this consumer
        graft.operators.Graph.embeddedness(spark, dir)
          .select(org.apache.spark.sql.functions.col("emb_capped"))
          .count()
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("packed edge key"), s"unexpected failure: $msgs")
    } finally {
      // delete the scratch fixture eagerly (ADVICE r13 temp-dir hygiene)
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("ts_cusum_control (J99): the sequential chart replays " +
      "bit-exactly in the driver, including restarts") {
    import org.apache.spark.sql.functions.{col, count => scount, expr, lit}
    val r = SparkEntry.queries("q_ts_cusum_control")(spark, sf)
      .collect()
    assert(r.length == 1)
    val row = (r.head.getLong(0), r.head.getLong(1), r.head.getLong(2),
      r.head.getLong(3), r.head.getLong(4), r.head.getLong(5),
      r.head.getLong(6))
    val xs = graft.Tables.events(spark, sf)
      .withColumn("d", expr("(ts_ns div 1000) div 86400000000"))
      .groupBy(col("d")).agg(scount(lit(1)).as("x"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    val mu = xs.sum / xs.length
    val (k, h) = (mu / 20, mu)
    var s = 0L; var alarms = 0L; var maxs = 0L; var first = 0L
    xs.zipWithIndex.foreach { case (x, idx) =>
      val s2 = math.max(0L, s + (x - mu - k))
      maxs = math.max(maxs, s2)
      if (s2 >= h) {
        alarms += 1
        if (first == 0L) first = idx + 1
        s = 0L
      } else s = s2
    }
    assert(row == (xs.length.toLong, mu, k, h, alarms, maxs, first),
      s"chart replay: got $row")
  }

  test("llm_ece_by_source (J99): the slice table partitions the " +
      "global ECE row's corpus and per-slice bounds hold") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_llm_ece_by_source")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nSrc = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    assert(rows.length.toLong == nSrc, "one row per source")
    rows.foreach { case (src, n, nb, ece, mce) =>
      assert(n >= 1 && nb >= 1 && nb <= 10, s"$src census")
      assert(mce >= ece && ece >= 0 && mce <= 10000L, s"$src bounds")
    }
    // the slices partition exactly the global calibration corpus
    val globalN = SparkEntry.queries("q_llm_ece")(spark, sf)
      .collect().head.getLong(0)
    assert(rows.map(_._2).sum == globalN,
      "slice doc census must sum to the global row's corpus")
  }

  test("llm_simhash_sweep (J100): the d=3 cumulative yield equals the " +
      "enrolled simhash row's pair count and the census is a proper " +
      "cumulative curve") {
    val rows = SparkEntry.queries("q_llm_simhash_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.map(_._1).toSeq == (0L to 4L))
    var cum = 0L
    rows.foreach { case (d, at, le, g) =>
      cum += at
      assert(le == cum, s"d=$d cumulative replay")
      assert(g == (d <= 3), s"d=$d pigeonhole verdict")
    }
    // cross-row pin: cumulative yield at d=3 IS q_llm_simhash's count
    val fixed = SparkEntry.queries("q_llm_simhash")(spark, sf).count()
    assert(rows(3)._3 == fixed,
      "sweep and fixed-gate rows disagree on the d<=3 population")
  }

  test("llm_cluster_drift (J100): halves partition the store, shares " +
      "are proper, and drift replays from the rounded shares") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_llm_cluster_drift")(spark, sf)
      .collect().map(r => (r.getAs[Number](0).longValue, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val nLabels = graft.Tables.embeddings(spark, sf)
      .select(col("label")).distinct().count()
    assert(rows.length.toLong == nLabels, "one row per label")
    val total = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(r => r._2 + r._3).sum == total,
      "halves must partition the store")
    rows.foreach { case (l, ne, nl, se, sl, dr) =>
      assert(se >= 0 && se <= 1000000L && sl >= 0 && sl <= 1000000L,
        s"label $l proper shares")
      assert(dr == sl - se, s"label $l drift replay")
    }
    // truncation bounds the share-sum defect per half
    assert(math.abs(rows.map(_._6).sum) <= 2 * rows.length,
      "net drift must cancel up to truncation")
  }

  test("graph_knn_curve (J101): buckets tile the node census and the " +
      "ratio-of-sums estimator is a proper neighbor-degree mean") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_graph_knn_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "bucket key")
    val nNodes = rows.map(_._2).sum
    // every node with at least one neighbor appears exactly once
    val expect = graft.Tables.lineitem(spark, sf).as("a")
      .join(graft.Tables.lineitem(spark, sf).as("b"),
        org.apache.spark.sql.functions.expr(
          "a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"))
      .select(org.apache.spark.sql.functions.expr("a.l_partkey")
        .as("u"), col("b.l_partkey").as("v"))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("u"), col("v")))
        .as("n")).distinct().count()
    assert(nNodes == expect, s"node census $nNodes != $expect")
    rows.foreach { case (b, n, knn) =>
      assert(b >= 0 && b <= 10 && n >= 1, s"bucket $b")
      // a neighbor's degree is at least 1, so knn_e2 >= 100
      assert(knn >= 100L, s"bucket $b knn $knn")
    }
  }

  test("llm_ann_filtered (J101): filtered hits share the probe's " +
      "label, post-filter depth is sane, and the top filtered hit " +
      "replays against the unfiltered ranking") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_llm_ann_filtered")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    rows.groupBy(_._1).foreach { case (p, hits) =>
      assert(hits.map(_._2).sorted.toSeq == (1L to hits.length),
        s"probe $p rank sequence")
      hits.foreach { case (_, rk, cand, _, grk) =>
        assert(labels(cand) == labels(p), s"probe $p hit label")
        // the unfiltered rank can never beat the filtered rank
        assert(grk >= rk, s"probe $p depth $grk < rank $rk")
      }
      // cosines non-increasing down the filtered list
      assert(hits.sortBy(_._2).map(_._4).sliding(2)
        .forall(a => a(1) <= a(0) + 1e-9), s"probe $p cos order")
    }
  }

  test("scan_agg_pushdown (J102): the scan carries PushedAggregation " +
      "(footer stats, not rows) and the session-clone flag never " +
      "leaks into the parent session") {
    val df = SparkEntry.queries("q_scan_agg_pushdown")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      "aggregate not pushed into the parquet scan")
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown",
      "false") == "false", "flag leaked into the parent session")
    val r = df.collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) <= r.getLong(2),
      "footer answer sanity")
    // cross-check the footer-stat answer against a row-scan count
    assert(r.getLong(0) == graft.Tables.orders(spark, sf).count(),
      "footer count != row-scan count")
  }

  test("llm_int4_sweep (J102): finer groups never lose on MSE, " +
      "errors respect the half-step bound, and one vector replays") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_llm_int4_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val byG = rows.groupBy(_._1)
    assert(byG.keySet == Set(16L, 64L))
    // per label, the 16-wide groups must match or beat the 64-wide
    // ones on MSE (smaller groups adapt their scale)
    val g16 = byG(16L).map(r => r._2 -> r._4).toMap
    val g64 = byG(64L).map(r => r._2 -> r._4).toMap
    assert(g16.keySet == g64.keySet)
    g16.keys.foreach { l =>
      assert(g16(l) <= g64(l), s"label $l: finer groups lost")
    }
    // driver replay of one vector at g=16
    val emb = graft.Tables.embeddings(spark, sf)
      .orderBy(col("vec_id")).limit(1).collect().head
    val vec = emb.getSeq[Float](1).map(e =>
      math.floor(e.toDouble * 1000000 + 0.5).toLong)
    val errs = vec.grouped(16).flatMap { grp =>
      val scale = math.max(grp.map(math.abs).max, 1L)
      grp.map { e6 =>
        val q = e6 * 7 / scale
        e6 - q * scale / 7
      }
    }.toSeq
    // every reconstruction error is below one quant step
    errs.foreach(e => assert(math.abs(e) <= 1000000L / 7 + 1,
      s"error $e above the int4 step"))
  }

  test("events_peeking_audit (J103): verdicts replay from the " +
      "emitted moments, the corrected rule is never looser than the " +
      "naive one, and samples accumulate across peeks") {
    val rows = SparkEntry.queries("q_events_peeking_audit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    assert(rows.map(_._1).toSeq == Seq(7L, 14L, 21L, 28L))
    rows.foreach { case (p, na, nb, diff, se2, nv, bf) =>
      assert(na >= 1 && nb >= 1, s"peek $p arms populated")
      assert(nv == (diff * diff * 100 >= 384 * math.max(se2, 1L)),
        s"peek $p naive verdict replay")
      assert(bf == (diff * diff * 100 >= 624 * math.max(se2, 1L)),
        s"peek $p bonferroni verdict replay")
      // a stricter cut can only reject when the looser one does
      assert(!bf || nv, s"peek $p corrected rejected without naive")
    }
    assert(rows.map(r => r._2 + r._3).sliding(2)
      .forall(a => a(1) >= a(0)), "cumulative samples must grow")
  }

  test("dq_column_entropy (J103): the key column sits at the ln(n) " +
      "ceiling, enums sit far below it, and one census replays in " +
      "the driver") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_dq_column_entropy")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 6)
    val byCol = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (c, n, nd, h, hmax, norm) =>
      assert(h >= 0 && h <= hmax, s"$c entropy bounds")
      assert(norm == h * 10000 / math.max(hmax, 1L), s"$c norm replay")
    }
    // a true key has every count = 1 ⇒ H = ln(n) exactly (the sum
    // term vanishes), so normalized == 10000 with no slack
    assert(byCol("o_orderkey")._6 == 10000L, "key at the ceiling")
    assert(byCol("o_orderstatus")._6 < 5000L, "enum far below")
    // driver replay of the status census
    val census = graft.Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus")).count()
      .collect().map(_.getLong(1))
    val n = census.sum
    def lnE3(x: Long) = math.floor(math.log(x.toDouble) * 1000 + 0.5)
      .toLong
    val expect = lnE3(n) - census.map(c => c * lnE3(c)).sum / n
    assert(byCol("o_orderstatus")._4 == expect, "status entropy replay")
  }

  test("attr_window_sweep (J104): per-arm totals equal the purchase " +
      "census, attribution grows with the window, and the 7-day arm " +
      "matches the enrolled last-touch row") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_attr_window_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byL = rows.groupBy(_._1)
    assert(byL.keySet == Set(1L, 3L, 7L))
    val purchases = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    byL.values.foreach { arm =>
      assert(arm.map(_._3).sum == purchases,
        "every purchase lands in exactly one channel")
    }
    // wider windows can only move conversions OUT of 'zz_none'
    def none(l: Long) = byL(l).find(_._2 == "zz_none").map(_._3)
      .getOrElse(0L)
    assert(none(1L) >= none(3L) && none(3L) >= none(7L),
      "unattributed share must shrink with the window")
    // cross-row pin: the 7-day arm IS q_attr_last_touch's census
    val enrolled = SparkEntry.queries("q_attr_last_touch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    byL(7L).foreach { case (_, ch, n) =>
      val key = if (ch == "zz_none") "none" else ch
      assert(enrolled.getOrElse(key, 0L) == n,
        s"7-day arm diverges from last_touch on $ch")
    }
  }

  test("priv_noisy_max (J104): exactly one released and one true " +
      "argmax, the margin sits on the true winner, and noise replays") {
    val rows = SparkEntry.queries("q_priv_noisy_max")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.count(_._4) == 1, "one released argmax")
    assert(rows.count(_._5) == 1, "one true argmax")
    val winner = rows.find(_._5).get
    val runnerUp = rows.filter(!_._5).map(_._2).max
    assert(winner._6 == winner._2 - runnerUp, "margin replay")
    rows.filter(!_._5).foreach(r =>
      assert(r._6 == 0L, s"${r._1} margin must be zero off-winner"))
    // released winner must carry the max noisy score
    val rel = rows.find(_._4).get
    assert(rel._3 == rows.map(_._3).max, "released argmax consistency")
  }

  test("agg_hll_intersect: the inclusion-exclusion estimate honors the " +
      "verdict bound at test scale and the exact census is consistent") {
    val rows = SparkEntry.queries("q_agg_hll_intersect")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the REAL sketch-accuracy gate (the oracle only pins `true`)
      assert(r.getAs[Boolean]("within_5pct"), r)
      val inter = r.getAs[Long]("n_inter_exact")
      assert(inter <= math.min(r.getAs[Long]("n_even_exact"),
        r.getAs[Long]("n_odd_exact")), r)
      assert(inter >= 0L, r)
    }
  }
}
