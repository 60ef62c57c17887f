package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

final case class Conf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, cores: Int)

/** What one run measured: end-to-end metrics, per-layer metrics (traced
  * runs), operation counts, failure names and per-operation records. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val records = mutable.ArrayBuffer[Map[String, Any]]()
  /** query name -> result directory, for the digest check in run.py */
  val results = mutable.LinkedHashMap[String, String]()

  def fail(what: String, e: Throwable): Unit = fail(what, 1L,
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")

  /** Records `n` failed operations under one name. */
  def fail(what: String, n: Long, why: String): Unit = synchronized {
    failures += what
    failed += n
    System.err.println(s"[perfbench] FAILED $what: $why")
  }
}

/** Benchmark entry point. One JVM runs one workload once:
  *
  *   perfbench.Main --workload <query_small|ingest_live> --seed N
  *     --seconds S --trace 0|1 --data <fixtureRoot> --work <scratchDir>
  *     --cores C
  *   perfbench.Main --dump-oracle <file>   (oracle SQL of the query set)
  *
  * The session mirrors `graft.Bench` at C cores. The last stdout line is
  * one JSON object that `run.py` turns into the benchmark's result. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    a.get("--dump-oracle") match {
      case Some(f) =>
        val sql = graft.SparkEntry.oracleSql
        val m = QueryWorkload.names.map(n => n -> sql.getOrElse(n, null))
        Files.writeString(Paths.get(f), json(mutable.LinkedHashMap(m: _*)))
      case None => run(Conf(a("--workload"), a("--seed").toLong,
        a("--seconds").toInt, a("--trace") == "1", a("--data"), a("--work"),
        a("--cores").toInt))
    }
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(c: Conf): Unit = {
    val t0 = System.nanoTime()
    val heap = new HeapWatch
    val spark = session(c.cores)
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val runSpan = tracer.map(t => t.add("run", "run", 0, t.nowMs -
      (System.nanoTime() - t0) / 1e6, Double.NaN))
    val wlSpan = tracer.map(t => t.open("workload", c.workload, runSpan.get.id))
    val out = new Outcome
    c.workload match {
      case "query_small" => QueryWorkload.run(spark, c, t0, tracer, wlSpan, out)
      case "ingest_live" => IngestWorkload.run(spark, c, tracer, wlSpan, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.layer("heap_peak_mb") = heap.peakMb
    out.layer("jvm.gc_pause_s") = heap.gcPauseS
    heap.stop()
    val spans = tracer.map { t =>
      t.stop()
      wlSpan.foreach(t.close); runSpan.foreach(t.close)
      val ss = t.spans
      Tracer.selfTimes(ss).foreach { case (k, v) => out.layer(s"self.$k") = v }
      out.layer("trace.spans") = ss.size.toDouble
      ss
    }.getOrElse(Nil)
    val artifact = s"${c.work}/${c.workload}-trace${if (c.trace) 1 else 0}.json"
    Files.writeString(Paths.get(artifact), json(mutable.LinkedHashMap(
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds,
      "cores" -> c.cores, "e2e" -> out.e2e, "layer" -> out.layer,
      "info" -> out.info, "failures" -> out.failures,
      "records" -> out.records, "spans" -> spans)))
    spark.stop()
    println(json(mutable.LinkedHashMap(
      "e2e" -> out.e2e, "layer" -> out.layer, "info" -> out.info,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures,
      "results" -> out.results, "artifact" -> artifact)))
  }

  /** Scheduler counters over the given jobs (per-layer metrics). */
  def sparkLayer(t: Tracer, jobIds: Set[Int], windowS: Double,
      cores: Int): Map[String, Double] = t.synchronized {
    val js = t.jobs.values.filter(j => jobIds(j.id)).toSeq
    val stages = js.flatMap(_.stages).distinct.filter(t.stageTimes.contains)
    val aggs = stages.flatMap(t.stageAgg.get)
    def sum(f: StageAgg => Long) = aggs.map(f).sum.toDouble
    val taskS = sum(_.runMs) / 1000
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.single_task_stage_share" -> (if (stages.isEmpty) 0.0 else
        stages.count(s => t.stageTimes(s)._3 == 1).toDouble / stages.size),
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1000,
      "spark.task_wait_s" -> sum(_.waitMs) / 1000,
      "spark.core_busy" -> (if (windowS > 0) taskS / (cores * windowS) else 0.0),
      "Tables.scan_bytes" -> sum(_.inBytes),
      "Tables.scan_rows" -> sum(_.inRows),
      "shuffle.write_bytes" -> sum(_.shWrite),
      "shuffle.read_bytes" -> sum(_.shRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000,
      "spill.bytes" -> sum(_.spill))
  }
}
