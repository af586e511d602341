package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Contention and memory probes recorded with every run. */
object Host {

  /** Pure-compute probe: an xxhash64 burn over `spark.range` with no I/O,
    * no shuffle and no engine code (the calibration leg of the scaling
    * bench). A slow probe flags a contended run. Median of three. */
  def calibrationS(spark: SparkSession, cores: Int, rows: Long): Double = {
    val df = spark.range(0, rows, 1, cores * 4)
    def once(): Double = {
      val t0 = System.nanoTime()
      df.select(sum(pmod(xxhash64(col("id"), col("id") * 3, col("id") * 7),
        lit(1000000007L)))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    Stats.median(Seq.fill(3)(once()))
  }

  /** Aggregate `cpu` line of /proc/stat: (steal, total) jiffies; zeros
    * where the file is absent. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).get.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def stealFrac(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else (to._1 - from._1).toDouble / total
  }
}

/** Peak live heap over a region: the largest heap occupancy left after any
  * garbage collection inside the region, including one forced collection
  * at its end. Occupancy after a collection is what the program retains;
  * occupancy between collections mostly measures how large the young
  * generation happened to be sized. */
final class HeapPeak extends NotificationListener {
  @volatile private var active = false
  @volatile private var peakB = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { peakB = math.max(peakB, used) }
    }

  def start(): Unit = { peakB = 0L; active = true }

  /** Ends the region; returns the peak in MB. */
  def stop(): Double = {
    System.gc()
    Thread.sleep(50) // notifications are delivered asynchronously
    active = false
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val peak = synchronized(math.max(peakB, live))
    peak / 1048576.0
  }

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, or the maximum below eleven samples. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size <= 10) s.last else s(s.size - 11)
  }
}
