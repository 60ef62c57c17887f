package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_live`: the reference's write path under an open-loop load.
  *
  *  - A generator thread writes Docker-event JSON files and container-log
  *    files, one of each per 100 ms tick, at a fixed total rate. Every
  *    record is stamped with its tick's **due** time (`timeNano`, or the
  *    RFC3339 prefix of a log line) and carries a unique sequence number
  *    (`Actor.Attributes.name = e<seq>`, log message `seq=<seq> ...`).
  *    Files are written to a staging directory and moved into the
  *    source directory atomically.
  *  - `EventIngest.start` and `EventIngest.startLogFollower` run
  *    throughout.
  *  - One closed-loop reader alternates `EventIngest.storeTriples` over
  *    the events store and a recent-window read of the log store.
  *  - The steady phase lasts `--seconds`, and longer if the reader has
  *    not yet completed `Stats.MinSamples` reads (at most `MaxSteadyS`).
  *  - A fixed backlog burst follows the steady phase.
  *
  * Ingest lag is exact per record: the commit time of the micro-batch
  * that stored it (its `batch_id`, joined with that batch's
  * `StreamingQueryProgress` start time plus trigger duration) minus its
  * due time. After the run the stores must hold every generated record
  * exactly once. */
object IngestWorkload {
  val RatePerStream = 1000 // records/s per stream: 2 k/s in total
  val TickMs = 100
  val WarmPerStream = 500
  val BurstPerStream = 20000
  val BurstFiles = 10
  val RecentWindowMs = 5000L
  val MaxSteadyS = 60
  val Streams = Seq("events", "logs")
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  final case class Batch(queryId: String, id: Long, startMs: Double,
      commitMs: Double, rows: Long, dur: Map[String, Long], rps: Double)

  /** Writes the synthetic sources; `seed` drives record content. */
  final class Gen(seed: Long, src: Map[String, String], staging: String) {
    private val rnd = new scala.util.Random(seed)
    val seq = mutable.Map("events" -> 0L, "logs" -> 0L)
    private val actions = Array("start", "die", "health_status", "stop")
    private val paths = Array("/health", "/api/items", "/login", "/metrics")
    private val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

    private def eventLine(s: Long, dueMs: Long): String = {
      val c = rnd.nextInt(200)
      s"""{"Type":"container","Action":"${actions(rnd.nextInt(4))}",""" +
        s""""id":"c$c","Actor":{"ID":"c$c","Attributes":{""" +
        s""""image":"img${rnd.nextInt(20)}","name":"e$s",""" +
        s""""com.docker.compose.project":"bench",""" +
        s""""com.docker.compose.service":"svc${rnd.nextInt(50)}",""" +
        s""""LOG":"1"}},"time":${dueMs / 1000},"timeNano":${dueMs * 1000000L}}"""
    }

    private def logLine(s: Long, dueMs: Long): String =
      s"${fmt.format(java.time.Instant.ofEpochMilli(dueMs))}." +
        f"${(dueMs % 1000) * 1000000L}%09dZ seq=$s GET " +
        s"${paths(rnd.nextInt(4))} 200 ${rnd.nextInt(50)}ms"

    /** Stages one file of `n` records of `stream` due at `dueMs`;
      * returns the staged path and its final path. */
    def stage(stream: String, name: String, n: Int, dueMs: Long): (Path, Path) = {
      val sb = new StringBuilder
      for (_ <- 0 until n) {
        val s = seq(stream); seq(stream) = s + 1
        sb ++= (if (stream == "events") eventLine(s, dueMs) else logLine(s, dueMs))
        sb += '\n'
      }
      val tmp = Paths.get(staging, s"$stream-$name")
      Files.writeString(tmp, sb.toString)
      (tmp, Paths.get(src(stream), name))
    }

    def publish(files: Seq[(Path, Path)]): Unit = files.foreach { case (a, b) =>
      Files.move(a, b, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def run(spark: SparkSession, c: Conf, tracer: Option[Tracer],
      wl: Option[Span], out: Outcome): Unit = {
    val wlId = wl.map(_.id).getOrElse(0)
    val root = Paths.get(c.work, "ingest")
    deleteTree(root)
    def dir(s: String) = Files.createDirectories(root.resolve(s)).toString
    val src = Streams.map(s => s -> dir(s"$s-src")).toMap
    val store = Streams.map(s => s -> dir(s"$s-store")).toMap
    val gen = new Gen(c.seed, src, dir("staging"))
    val perTick = RatePerStream * TickMs / 1000

    // progress of every executed micro-batch (always on: ingest lag and
    // drain time are computed from it)
    val batches = mutable.ArrayBuffer[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (d.contains("addBatch")) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          batches.synchronized {
            batches += Batch(p.id.toString, p.batchId, start,
              start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
              p.processedRowsPerSecond)
          }
        }
      }
    }
    spark.streams.addListener(listener)

    // ---- set-up: a warm-up file per stream, then stream start until
    // each stream's first committed batch ----
    gen.publish(Streams.map(s => gen.stage(s, "warm", WarmPerStream,
      System.currentTimeMillis())))
    val startMs = System.currentTimeMillis().toDouble
    val ckpt = dir("checkpoints")
    val qs: Map[String, StreamingQuery] = Map(
      "events" -> graft.streaming.EventIngest.start(spark, src("events"),
        store("events"), s"$ckpt/events"),
      "logs" -> graft.streaming.EventIngest.startLogFollower(spark, src("logs"),
        "bench-logs", store("logs"), s"$ckpt/logs"))
    val streamOf = qs.map { case (s, q) => q.id.toString -> s }
    def committed(s: String) = batches.synchronized(
      batches.filter(b => streamOf(b.queryId) == s).toSeq)
    def rowsIn(s: String) = committed(s).map(_.rows).sum
    def await(cond: => Boolean, timeoutS: Int, what: String): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (!cond && System.nanoTime() < deadline) {
        qs.values.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(20)
      }
      if (!cond) out.fail(what, 1L, s"not reached within $timeoutS s")
      cond
    }
    if (!await(Streams.forall(s => rowsIn(s) >= WarmPerStream), 120,
        "ingest set-up (first committed batch)")) {
      qs.values.foreach(_.stop()); return
    }
    val firstCommit = Streams.map(s => committed(s).map(_.commitMs).min - startMs)
    out.e2e("setup_s") = Stats.median(firstCommit) / 1000
    out.info("setup_s_per_stream") = Streams.zip(firstCommit.map(_ / 1000)).toMap

    def read(kind: String): Unit =
      if (kind == "storeTriples")
        graft.streaming.EventIngest.storeTriples(spark, store("events"))
          .write.mode("overwrite").format("noop").save()
      else {
        val from = new java.sql.Timestamp(System.currentTimeMillis() - RecentWindowMs)
        spark.read.parquet(store("logs")).where(col("ts") >= lit(from))
          .agg(count(lit(1)), max(col("ts"))).collect()
      }
    val readKinds = Seq("storeTriples", "recentLogs")
    // one untimed read of each kind: the reader's own JIT warm-up
    readKinds.foreach { k =>
      out.attempted += 1
      try read(k) catch { case e: Throwable => out.fail(s"reader $k (warm-up)", e) }
    }

    // ---- steady phase + burst: generator, reader ----
    val minTicks = c.seconds * 1000 / TickMs
    val maxTicks = MaxSteadyS * 1000 / TickMs
    val readsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val late = mutable.ArrayBuffer[Double]()
    var backlogMax = 0L
    val genStart = System.currentTimeMillis() + 50
    @volatile var burstDue = Long.MaxValue
    var burstWrittenMs = 0.0
    val steadyLo = Streams.map(s => s -> gen.seq(s)).toMap
    var steadyHi = Map.empty[String, Long]
    val genThread = new Thread(() => {
      var k = 0
      while (k < minTicks || (readsDone.get < Stats.MinSamples && k < maxTicks)) {
        val due = genStart + k.toLong * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val t0 = System.currentTimeMillis()
        backlogMax = math.max(backlogMax, ((t0 - due) / TickMs + 1) * perTick * 2)
        val s = tracer.map(_.open("gen.tick", s"tick $k", wlId))
        gen.publish(Streams.map(st => gen.stage(st, f"t$k%06d", perTick, due)))
        for (t <- tracer; x <- s) t.close(x)
        late += (System.currentTimeMillis() - due) / 1000.0
        k += 1
      }
      steadyHi = Streams.map(s => s -> gen.seq(s)).toMap
      burstDue = math.max(genStart + k.toLong * TickMs, System.currentTimeMillis())
      val wait = burstDue - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val staged = for (st <- Streams; f <- 0 until BurstFiles)
        yield gen.stage(st, f"b$f%03d", BurstPerStream / BurstFiles, burstDue)
      gen.publish(staged)
      burstWrittenMs = System.currentTimeMillis().toDouble
    }, "perfbench-gen")

    @volatile var readerStop = false
    // (kind, start ms, seconds, ok)
    val reads = mutable.ArrayBuffer[(String, Long, Double, Boolean)]()
    val readerThread = new Thread(() => {
      var i = 0
      while (!readerStop) {
        val kind = readKinds(i % 2)
        val s = tracer.map(_.open("reader.call", kind, wlId))
        val startMs = System.currentTimeMillis()
        val a = System.nanoTime()
        val ok = try {
          (for (t <- tracer; x <- s) yield t.within(x)(read(kind))).getOrElse(read(kind))
          true
        } catch { case e: Throwable => out.fail(s"reader $kind #$i", e); false }
        val dt = (System.nanoTime() - a) / 1e9
        for (t <- tracer; x <- s) t.close(x)
        reads.synchronized { reads += ((kind, startMs, dt, ok)) }
        readsDone.incrementAndGet()
        i += 1
      }
    }, "perfbench-reader")

    val phase0 = System.nanoTime()
    def phaseS = (System.nanoTime() - phase0) / 1e9
    genThread.start(); readerThread.start()
    genThread.join()
    val genS = phaseS
    val steadySeq = Streams.map(s => s -> (steadyLo(s), steadyHi(s))).toMap
    val expected = Streams.map(s => s -> gen.seq(s)).toMap
    val drained = await(Streams.forall(s => rowsIn(s) >= expected(s)), 120,
      "ingest burst drain")
    val drainS = phaseS
    readerStop = true
    readerThread.join()
    qs.values.foreach(_.stop())
    spark.streams.removeListener(listener)
    val stopS = phaseS
    out.attempted += reads.size + expected.values.sum

    // ---- reads: the query metrics of this workload. Reads that overlap
    // the burst drain are recorded but not measured: how many fall there
    // varies from run to run ----
    def steadyRead(r: (String, Long, Double, Boolean)) =
      r._2 + r._3 * 1000 <= burstDue
    val steadyReads = reads.filter(steadyRead).toSeq
    val ok = steadyReads.filter(_._4).map(r => r._1 -> r._3)
    val readerBusyS = steadyReads.map(_._3).sum
    out.e2e("query_p50_s") = Stats.medianOfMedians(ok)
    val (tail, pct, n) = Stats.tail(ok.map(_._2))
    out.e2e("query_tail_s") = tail
    out.e2e("queries_per_s") = ok.size / readerBusyS
    out.info ++= Seq("query_tail_percentile" -> pct, "query_samples" -> n)
    reads.foreach { case r @ (k, st, dt, okk) =>
      out.records += Map("read" -> k, "start_ms" -> st, "s" -> dt, "ok" -> okk,
        "steady" -> steadyRead(r)) }

    // ---- exactly-once check and per-record lag: one scan per store ----
    val seqCol = Map(
      "events" -> expr("cast(substring(name, 2) as bigint)"),
      "logs" -> expr("cast(regexp_extract(line, '^seq=([0-9]+)', 1) as bigint)"))
    val lags = mutable.ArrayBuffer[Double]()
    val batchSeq = mutable.Map[(String, Long), (Long, Long)]()
    for (s <- Streams) {
      val commitMs = committed(s).map(b => b.id -> b.commitMs).toMap
      val exp = expected(s)
      val (lo, hi) = steadySeq(s)
      val seen = new java.util.BitSet(exp.toInt)
      var stored = 0L; var dups = 0L; var stray = 0L
      spark.read.parquet(store(s)).select(seqCol(s), col("batch_id").cast("long"),
          expr("unix_millis(ts)")).collect().foreach { r =>
        stored += 1
        val (q, b, due) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (q < 0 || q >= exp) stray += 1
        else if (seen.get(q.toInt)) dups += 1
        else seen.set(q.toInt)
        val (mn, mx) = batchSeq.getOrElse((s, b), (Long.MaxValue, Long.MinValue))
        batchSeq((s, b)) = (math.min(mn, q), math.max(mx, q))
        if (q >= lo && q < hi) commitMs.get(b).foreach(c => lags += (c - due) / 1000)
      }
      val lost = exp - seen.cardinality
      if (lost > 0)
        out.fail(s"$s: $lost records lost", lost, s"store holds ${seen.cardinality} of $exp")
      if (dups + stray > 0)
        out.fail(s"$s: ${dups + stray} records duplicated or unknown", dups + stray,
          "store holds records the generator wrote once or never")
      out.info(s"$s.records") = Map("expected" -> exp, "stored" -> stored)
    }
    out.info("phase_end_s") = Map("generator" -> genS, "drained" -> drainS,
      "stopped" -> stopS, "verified" -> phaseS)
    out.layer("EventIngest.lag_p50_s") = Stats.quantile(lags.toSeq, 0.5)
    out.layer("EventIngest.lag_p99_s") = Stats.quantile(lags.toSeq, 0.99)
    val burstRows = (BurstPerStream * Streams.size).toDouble
    val lastCommit = Streams.flatMap(committed).map(_.commitMs).max
    out.layer("EventIngest.drain_eps") =
      if (drained) burstRows / ((lastCommit - burstWrittenMs) / 1000) else 0.0

    // ---- micro-batch phases: steady batches vs burst batches ----
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val steadyAll = mutable.ArrayBuffer[Batch]()
    val burstAll = mutable.ArrayBuffer[Batch]()
    for (s <- Streams) {
      val (lo, hi) = steadySeq(s)
      val bs = committed(s)
      def seqs(b: Batch) = batchSeq.getOrElse((s, b.id), (-1L, -1L))
      val steady = bs.filter(b => seqs(b)._1 >= lo && seqs(b)._2 < hi)
      val burst = bs.filter(b => seqs(b)._2 >= hi)
      steadyAll ++= steady; burstAll ++= burst
      for (p <- Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
          "commitOffsets"))
        out.layer(s"EventIngest.$s.${p}_ms") = mean(steady.map(_.dur.getOrElse(p, 0L).toDouble))
      out.layer(s"EventIngest.$s.trigger_ms") =
        mean(steady.map(_.dur.getOrElse("triggerExecution", 0L).toDouble))
      out.layer(s"EventIngest.$s.batches") = steady.size.toDouble
      out.layer(s"EventIngest.$s.addBatch_ms") =
        mean(burst.map(_.dur.getOrElse("addBatch", 0L).toDouble))
      out.layer(s"EventIngest.$s.rows_per_batch") = mean(burst.map(_.rows.toDouble))
      val burstTrigS = burst.map(_.dur.getOrElse("triggerExecution", 0L)).sum / 1000.0
      out.layer(s"EventIngest.$s.processed_rps") =
        if (burstTrigS > 0) burst.map(_.rows).sum / burstTrigS else 0.0
      bs.foreach { b =>
        out.records += Map("stream" -> s, "batch" -> b.id, "rows" -> b.rows,
          "start_ms" -> b.startMs, "commit_ms" -> b.commitMs, "phases_ms" -> b.dur,
          "processed_rps" -> b.rps)
      }
    }

    out.layer("EventIngest.trigger_ms") =
      mean(steadyAll.map(_.dur.getOrElse("triggerExecution", 0L).toDouble).toSeq)
    out.layer("EventIngest.addBatch_ms") =
      mean(burstAll.map(_.dur.getOrElse("addBatch", 0L).toDouble).toSeq)

    // ---- store layout: the small-file cost readers pay ----
    val files = Streams.flatMap(s => parquetFiles(Paths.get(store(s))))
    val nBatches = Streams.map(s => committed(s).size).sum
    out.layer("EventIngest.files_per_batch") = files.size.toDouble / nBatches
    out.layer("EventIngest.store_files") = files.size.toDouble
    out.layer("EventIngest.store_bytes_per_event") =
      files.map(Files.size(_)).sum.toDouble / expected.values.sum
    out.layer("gen.late_p99_s") = Stats.quantile(late.toSeq, 0.99)
    out.layer("gen.backlog_max") = backlogMax.toDouble
    out.info ++= Seq("rate_per_s" -> RatePerStream * Streams.size,
      "burst_records" -> burstRows, "steady_s" -> (burstDue - genStart) / 1000.0,
      "reads" -> reads.size)

    tracer.foreach { t =>
      t.drain()
      val batchSpan = mutable.Map[(String, String), Int]()
      for (s <- Streams; b <- committed(s)) {
        val bs = t.add("EventIngest.batch", s"$s #${b.id}", wlId, b.startMs, b.commitMs)
        bs.attrs ++= Seq("rows" -> b.rows, "stream" -> s)
        batchSpan((b.queryId, b.id.toString)) = bs.id
        var at = b.startMs
        for (p <- Phases; d <- b.dur.get(p)) {
          t.add("EventIngest.phase", p, bs.id, at, at + d); at += d
        }
      }
      val js = t.synchronized(t.jobs.values.toSeq)
      val readerSpans = t.spans.filter(_.kind == "reader.call").map(_.id).toSet
      val readerJobs = js.filter(j => j.owner != null && readerSpans(j.owner.toInt))
        .map(_.id).toSet
      val rl = Main.sparkLayer(t, readerJobs, readerBusyS, c.cores)
      out.layer("reader.tasks") = rl("spark.tasks")
      out.layer("reader.scan_bytes") = rl("Tables.scan_bytes")
      out.layer ++= Main.sparkLayer(t, js.map(_.id).toSet,
        (burstWrittenMs - genStart) / 1000, c.cores)
      t.materializeJobs(j => batchSpan.getOrElse((j.stream, j.batch), wlId))
    }
  }

  private def parquetFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(f =>
      f.getFileName.toString.endsWith(".parquet") &&
        !f.toString.contains("/.") && !f.toString.contains("/_")).toSeq
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
