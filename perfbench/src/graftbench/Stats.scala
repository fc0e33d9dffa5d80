package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * slowest of n samples, at percentile (n-11)/(n-1). With 11 or fewer
    * samples no percentile has ten beyond it, and the nearest, the fastest
    * sample (percentile 0), is reported. */
  def tail(xs: Seq[Double]): Double = xs.sorted.apply(math.max(0, xs.length - 11))
  def tailPercentile(n: Int): Double = 100.0 * math.max(0, n - 11) / math.max(1, n - 1)

  /** Process CPU time of every JVM thread, in nanoseconds. */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Peak heap in use right after a collection, over the windows in which
  * it is armed. Listens to the collectors' notifications. */
object HeapWatch {
  @volatile var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak after-GC heap in MB; when no collection fell in the window, the
    * heap in use at its end (an upper bound on the after-GC figure). */
  def peakMb(): Double = synchronized {
    val p = if (peak > 0) peak else {
      val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed
    }
    p / (1024.0 * 1024.0)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}
