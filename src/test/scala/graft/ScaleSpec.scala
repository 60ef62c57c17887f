package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Cluster-scale mechanisms the oracle can't grade: AQE skew-join
  * splitting and runtime bloom-filter pushdown. These are the two
  * runtime defenses a 100 TB deployment leans on beyond static plan
  * shape — this spec proves the engine's queries actually trigger them
  * (right confs, join shapes AQE can rewrite) rather than assuming.
  * All confs here are SQL-session-scoped, so each test runs in its own
  * `newSession()` without disturbing the shared context. */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local()

  override def afterAll(): Unit = spark.stop()

  test("AQE splits a skewed join partition (skew=true in final plan)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // tiny thresholds so toy data registers as skewed
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    // key 7 carries ~99% of the left side: the classic hot-key shape
    val left = s.range(0, 60000)
      .select((when(col("id") % 100 === 0, col("id") % 13)
        .otherwise(lit(7))).as("k"), col("id").as("v"))
    val right = s.range(0, 13).select(col("id").as("k"),
      (col("id") * 10).as("w"))
    val joined = left.join(right, "k")
    // execute THIS plan (count() would compile a different one) so AQE
    // re-plans with real shuffle stats and the final plan is inspectable
    assert(joined.collect().length === 60000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected AQE skew split in final plan:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val sf = "/root/testdata/sf0.01"
    val dim = Tables.part(s, sf).filter(col("p_size") <= 2)
      .select(col("p_partkey"))
    val fact = Tables.lineitem(s, sf)
      .select(col("l_partkey"), col("l_extendedprice"))
    val joined = fact.join(dim, col("l_partkey") === col("p_partkey"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") &&
      plan.contains("bloom_filter_agg"),
      s"expected a runtime bloom filter on the fact scan:\n$plan")
    assert(joined.count() > 0)
  }

  test("AQE coalesces the many small post-shuffle partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    val sf = "/root/testdata/sf0.001"
    val agg = Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
    assert(agg.count() > 0)
    val n = agg.rdd.getNumPartitions
    assert(n < 64, s"expected AQE to coalesce 64 shuffle partitions, got $n")
  }

  test("observe(): audit metrics ride the pipeline's own job — counts, " +
      "null rate, bounds collected without a second scan") {
    val sf = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
    val (audited, obs) = operators.Maintenance.withAudit(li, "li_audit",
      count(lit(1)).as("n_rows"),
      sum(when(col("l_returnflag").isNull, 1).otherwise(0))
        .as("n_null_flag"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"))
    // ONE action drives both the pipeline and the audit counters
    val pipelineRows = audited.count()
    val m = obs.get
    assert(m("n_rows") == pipelineRows, m)
    assert(m("n_null_flag") == 0L, m)
    // the observed bounds must match a directly-computed reference
    val ref = li.agg(min(col("l_quantity")), max(col("l_quantity")))
      .first()
    assert(m("min_qty") == ref.get(0) && m("max_qty") == ref.get(1), m)
  }

  test("scaling artifact: the committed SCALING.json growth exponents " +
      "stay under the gate (no enrolled cost law is superlinear-red)") {
    // graft.Scaling measures the 12 most expensive rows at three SFs
    // and records e = log10(t(sf0.1)/t(sf0.01)); the main itself exits
    // nonzero past the gate, and this test keeps the COMMITTED artifact
    // honest — a regenerated red artifact (or a stale one claiming a
    // bound the main no longer enforces) fails the suite. The gate
    // lives in graft.Scaling so the two checks can't drift.
    val p = java.nio.file.Paths.get("SCALING.json")
    assert(java.nio.file.Files.exists(p),
      "SCALING.json missing — run `sbt \"runMain graft.Scaling\"`")
    val json = java.nio.file.Files.readString(p)
    // exp (0.01->0.1 decade) AND exp1 (the round-9 sf1 replica decade,
    // present when the artifact was generated with testdata-sf1) gate
    // identically — a superlinear law in EITHER decade is red
    val expRe = """"exp1?":(-?[0-9.]+)""".r
    val exps = expRe.findAllMatchIn(json).map(_.group(1).toDouble).toSeq
    assert(exps.size >= graft.Scaling.targets.size, s"only ${exps.size} exponents")
    val worst = exps.max
    assert(worst <= graft.Scaling.gate,
      f"worst growth exponent $worst%.2f exceeds gate ${graft.Scaling.gate}")
    // and the headline fields agree with the per-query map
    val worstRe = """"worst_exp":(-?[0-9.]+)""".r
    val recorded = worstRe.findFirstMatchIn(json).get.group(1).toDouble
    assert(math.abs(recorded - worst) < 1e-9, s"$recorded vs $worst")
    // per-row gates (round 11, VERDICT r10 #8): the watch rows carry
    // TIGHTER bounds than the global gate — enforce them on the
    // committed artifact exactly as the main does
    for ((name, rowGate) <- graft.Scaling.rowGates) {
      val rowRe = ("\"" + name + """":\{[^}]*}""").r
      val block = rowRe.findFirstIn(json)
      assert(block.isDefined, s"$name missing from SCALING.json")
      val rowExps = expRe.findAllMatchIn(block.get)
        .map(_.group(1).toDouble).toSeq
      assert(rowExps.nonEmpty && rowExps.max <= rowGate,
        f"$name: worst exponent ${rowExps.max}%.3f exceeds its per-row " +
          f"gate $rowGate (global ${graft.Scaling.gate})")
    }
  }
}
