package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval of the run. Times are epoch milliseconds so that
  * benchmark-side spans and Spark listener events share one clock. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, var endMs: Double,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()) {
  def durMs: Double = math.max(0.0, endMs - startMs)
}

/** A Spark job and the span that owns it (`owner`: the `perfbench.span`
  * property; `stream`/`batch`: a micro-batch's query id and batch id). */
final case class JobRec(id: Int, startMs: Double, var endMs: Double,
    owner: String, stream: String, batch: String, stages: Seq[Int],
    frameMemo: Boolean)

/** Catalyst phase times and executed-plan node counts of one query
  * execution, charged to span `target`. */
final case class QeRec(target: Int, phases: Map[String, Double],
    exchanges: Int, bhj: Int, smj: Int, shj: Int)

/** Per-stage task totals, summed from `onTaskEnd`. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var waitMs = 0L; var inBytes = 0L; var inRows = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
}

/** In-memory span recorder plus the benchmark-owned listeners that feed
  * it: a `SparkListener` (jobs, stages, tasks), a
  * `QueryExecutionListener` (Catalyst phase times and executed-plan
  * node counts). Jobs are attributed to the benchmark span that started
  * them through the `perfbench.span` local property set on the calling
  * thread; streaming jobs carry the micro-batch's query id and batch id
  * local properties instead. Nothing is written until [[spans]] is read
  * at the end of the run. Only constructed with `--trace 1`. */
final class Tracer(spark: SparkSession) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val buf = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  def open(kind: String, name: String, parent: Int): Span =
    add(kind, name, parent, nowMs, Double.NaN)

  def add(kind: String, name: String, parent: Int, startMs: Double,
      endMs: Double): Span = synchronized {
    nextId += 1
    val s = Span(nextId, parent, kind, name, startMs, endMs)
    buf += s
    s
  }

  def close(s: Span): Unit = s.endMs = nowMs

  /** Runs `body` with `span` as the attribution target of every Spark
    * job the calling thread starts. */
  def within[T](span: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, span.id.toString)
    try body finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def spans: Seq[Span] = synchronized(buf.toSeq)

  // ---- Spark scheduler events ---------------------------------------
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stageAgg = mutable.HashMap[Int, StageAgg]()
  val stageTimes = mutable.HashMap[Int, (Double, Double, Int)]()
  private val stageSubmit = mutable.HashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      // the job's call site: the first user frame outside Spark, e.g.
      // "count at FrameMemo.scala:72"
      val memo = e.stageInfos.exists(s =>
        s.name.contains("FrameMemo.scala") ||
          s.details.linesIterator.take(3).exists(_.contains("FrameMemo.scala")))
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN,
        prop(Tracer.SpanKey), prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId"), e.stageIds, memo)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        stageTimes(i.stageId) = (i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      val m = e.taskMetrics
      a.tasks += 1
      a.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
      }
    }
  }

  // ---- Catalyst phases and executed plans ----------------------------
  /** Span id that query-execution events are charged to; set by the
    * workload thread, read on the listener bus after a drain. */
  @volatile var qeTarget: Int = 0
  val qes = mutable.ArrayBuffer[QeRec]()

  private object PlanWalk extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs.toDouble }
      val plan = qe.executedPlan
      def count(f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]) =
        PlanWalk.collectWithSubqueries(plan)(f).sum
      val rec = QeRec(qeTarget, phases,
        count { case _: ShuffleExchangeExec => 1 },
        count { case _: BroadcastHashJoinExec => 1 },
        count { case _: SortMergeJoinExec => 1 },
        count { case _: ShuffledHashJoinExec => 1 })
      Tracer.this.synchronized { qes += rec }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Adds job and stage spans under their owners. `owner` maps a job to
    * its parent span id when the job carries no `perfbench.span`
    * property (streaming jobs). */
  def materializeJobs(owner: JobRec => Int): Unit = Tracer.this.synchronized {
    jobs.values.foreach { j =>
      val parent =
        Option(j.owner).map(_.toInt).getOrElse(owner(j))
      val js = add("spark.job", s"job ${j.id}", parent, j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs)
      js.attrs("job") = j.id
      if (j.frameMemo) js.attrs("frameMemo") = true
      j.stages.foreach { sid =>
        stageTimes.get(sid).foreach { case (st, en, n) =>
          val ss = add("spark.stage", s"stage $sid", js.id, st, en)
          ss.attrs("tasks") = n
        }
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Sum of each span kind's self time: its duration minus the part of
    * that interval its direct children cover (children may overlap, as
    * concurrent stages or the ingest threads do). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      val (sum, last) = iv.foldLeft((0.0, Option.empty[(Double, Double)])) {
        case ((acc, Some((cs, ce))), (a, b)) if a <= ce =>
          (acc, Some((cs, math.max(ce, b))))
        case ((acc, cur), (a, b)) =>
          (acc + cur.map { case (cs, ce) => ce - cs }.getOrElse(0.0), Some((a, b)))
      }
      sum + last.map { case (a, b) => b - a }.getOrElse(0.0)
    }
    spans.groupBy(_.kind).view.mapValues(_.map(s =>
      math.max(0.0, s.durMs - covered(s))).sum / 1000.0).toMap
  }
}
