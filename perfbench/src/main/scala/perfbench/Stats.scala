package perfbench

/** Order statistics used by every workload. */
object Stats {
  /** Timed samples a run collects at least, beyond `--seconds`: with 40
    * the tail (below) sits at p75 or higher. */
  val MinSamples = 40

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * convention); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Median across groups of each group's median. With a handful of
    * distinct operations (query rows, read kinds) the pooled median sits
    * on the boundary between two of them and jumps from run to run; the
    * median of per-operation medians weights every operation equally and
    * does not. */
  def medianOfMedians(xs: Seq[(String, Double)]): Double =
    median(xs.groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq)

  /** The tail: the highest percentile with at least 10 samples beyond it,
    * i.e. the 11th-largest sample. Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) =
    if (xs.isEmpty) (Double.NaN, Double.NaN, 0)
    else {
      val s = xs.sorted
      val i = math.max(0, s.size - 11)
      (s(i), 100.0 * (s.size - 10).max(0) / s.size, s.size)
    }
}

/** Peak old-generation occupancy right after a collection, from the JVM's
  * GC notifications, plus total GC pause time from the collector beans. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{NotificationEmitter, NotificationListener, Notification}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var peakOldBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs = beans.map(_.getCollectionTime.max(0L)).sum
  private val gc0 = gcMs

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old") || pool.contains("Tenured"))
            peakOldBytes = math.max(peakOldBytes, u.getUsed)
        }
      }
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def peakMb: Double = peakOldBytes / 1048576.0
  def gcPauseS: Double = (gcMs - gc0) / 1000.0
  def stop(): Unit = beans.foreach {
    case e: NotificationEmitter =>
      try e.removeNotificationListener(listener) catch { case _: Exception => () }
    case _ => ()
  }
}
