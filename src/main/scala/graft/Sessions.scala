package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session every main and every test suite builds, and the
  * one definition of a timed query run they share. It is the documented
  * cluster config: `spark.sql.extensions` installs [[plans.GraftExtensions]]. */
object Sessions {
  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM can use. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      // The codegen class cache holds 100 entries by default, far under
      // the suite's 572 plans: a reading taken more than ~100 plans
      // after its warmup re-pays janino compilation (~0.3–1 s per row).
      // Static conf: it must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // AQE coalescing stays at Spark defaults (parallelismFirst=true,
      // advisory 64m): forcing data-sized coalescing read 78.5 s vs
      // 60.4 s on a 40-row subset, because this suite's reduce stages
      // are CPU-bound per-key folds over small shuffles, which
      // byte-targeted coalescing serializes (OPTIMIZATION_r14.md).
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds for one full execution of `df` through the noop sink, which
    * consumes every row of the completed plan (a `.count()` would let
    * Catalyst drop the final sort and prune projections). The cache is
    * cleared afterwards, outside the timed window: CacheManager matches
    * canonicalized plans, so a later identical build would reuse it. */
  def timeNoop(spark: SparkSession)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } finally spark.catalog.clearCache()
  }
}
