package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 fixture builder (round 9): a deterministic 10× scale-up of the
  * driver's read-only sf0.1 fixture, giving the scaling curve a FOURTH
  * decade (three points fit a line, four prove it — the r8 verdict's
  * ask). The driver's generator is not shipped, so sf1 is built by
  * KEY-SHIFTED REPLICATION of sf0.1 — the honest approximation of the
  * TPC-H scaling law, where row counts grow with SF while dimension
  * cardinalities (brands, nations, per-part order degree, per-user
  * event rate) stay constant; ten disjoint key ranges reproduce
  * exactly that. Two deliberate perturbations keep replication from
  * fabricating pathological inputs the real generator would never
  * emit:
  *
  *  - `documents.text`: replicas r>0 prefix every token with `r<r>_`
  *    (vocab shifts per replica, Zipf shape / doc lengths / shingle
  *    sizes preserved). Verbatim copies would hand the dedup family
  *    6 000 exact-duplicate groups of size 10 — ~45 candidate pairs
  *    per group, a quadratic artifact of replication, not a property
  *    of a 10×-larger corpus. n_chars is recomputed to stay
  *    consistent with the rewritten text.
  *  - `embeddings.embedding`: replicas r>0 rotate the 64 dims by r
  *    positions (norms and per-dim distributions preserved, exact
  *    vector duplication destroyed for the same reason). vec_id<20
  *    probe rows exist only in replica 0, so ANN rows keep a fixed
  *    query set against a 10× store — the scaling shape that matters.
  *
  * region/nation copy unshifted (fixed dims at every TPC-H SF).
  * Output: testdata-sf1/ under the repo root (gitignored, ~170 MB);
  * graft.Scaling picks it up automatically when present. */
object ScaleUp {
  /** Key offset per replica — above every sf0.1 key (max observed
    * ~6·10⁶ for event_id), so replica ranges can never collide. */
  val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "testdata-sf1")
    val spark = Sessions.local()

    def replicate(name: String, keys: Seq[String],
        tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val ten = (0 until 10).map { r =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(r * OFF)))
        tweak(shifted, r)
      }.reduce(_ unionAll _)
      // repartition so sf1 files parallelize like a real bigger fixture
      // (10 unioned single-file scans would serialize the read side)
      ten.repartition(Sessions.cpus)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> $out (${ten.columns.mkString(",")})")
    }

    // fixed dimension tables: one verbatim copy (same at every SF)
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> $out (verbatim dim copy)")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (d, r) =>
      if (r == 0) d
      else d
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), t -> concat('r${r}_', t)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Seq("vec_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))")))

    spark.stop()
  }
}
