package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark counters, fed by a listener the benchmark registers
  * itself. Callbacks run on the listener-bus thread; readers call
  * [[Probe.snap]], which drains the bus first, so every event of the
  * work that returned before the call is counted. */
final class Counters extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var cpuNs = 0L
  private var shuffleBytes = 0L
  private var maxTaskMs = 0L
  private val started = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    started(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snap(): Snap = synchronized {
    Snap(jobs, tasks, cpuNs, shuffleBytes, maxTaskMs, intervals.length)
  }

  def resetMaxTask(): Unit = synchronized { maxTaskMs = 0L }

  /** Milliseconds of [t0, t1] during which at least one job ran. */
  def busyMs(fromInterval: Int, t0: Long, t1: Long): Long = synchronized {
    val clipped = intervals.iterator.drop(fromInterval)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}

final case class Snap(jobs: Long, tasks: Long, cpuNs: Long,
                      shuffleBytes: Long, maxTaskMs: Long, nIntervals: Int)

/** What one measured region did: wall and driver-only seconds, and the
  * Spark work it launched. Regions of the same name add up. */
final case class Usage(wallS: Double, driverS: Double, jobs: Long,
                       tasks: Long, taskCpuS: Double, shuffleMb: Double,
                       maxTaskS: Double) {
  def +(o: Usage): Usage = Usage(wallS + o.wallS, driverS + o.driverS,
    jobs + o.jobs, tasks + o.tasks, taskCpuS + o.taskCpuS,
    shuffleMb + o.shuffleMb, math.max(maxTaskS, o.maxTaskS))
}

object Usage {
  val zero: Usage = Usage(0, 0, 0, 0, 0, 0, 0)
}

final class Probe {
  private val counters = new Counters
  private var spark: SparkSession = _

  /** Count the work of `session` from now on. */
  def attach(session: SparkSession): Unit = {
    spark = session
    spark.sparkContext.addSparkListener(counters)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcPeak = 0L

  // Heap in use right after each collection: raw heap use mostly shows
  // how far the young generation filled before the collector ran.
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > heapAfterGcPeak) heapAfterGcPeak = used
          }
      }, null, null)
    case _ =>
  }

  /** Spans recorded by [[span]], by name, in first-recorded order. */
  val spans: mutable.LinkedHashMap[String, Usage] = mutable.LinkedHashMap.empty
  /** When false, [[span]] only runs its body. */
  var tracing = false
  /** Seconds spans spent on their own bookkeeping: draining the listener
    * bus and reading the counters at each boundary. */
  var overheadS = 0.0

  def snap(): Snap = {
    PerfbenchBus.drain(spark.sparkContext)
    counters.snap()
  }

  /** Run `body` and measure it as one region. */
  def measure[T](body: => T): (T, Usage) = {
    val s0 = snap()
    counters.resetMaxTask()
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val n1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val s1 = snap()
    val wall = (n1 - n0) / 1e9
    val busy = counters.busyMs(s0.nIntervals, w0, w1) / 1e3
    (out, Usage(wall, math.max(0.0, wall - busy), s1.jobs - s0.jobs,
      s1.tasks - s0.tasks, (s1.cpuNs - s0.cpuNs) / 1e9,
      (s1.shuffleBytes - s0.shuffleBytes) / 1e6, s1.maxTaskMs / 1e3))
  }

  /** A named layer span: measured and added to [[spans]] when tracing. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      val (out, u) = measure(body)
      spans(name) = spans.getOrElse(name, Usage.zero) + u
      overheadS += (System.nanoTime() - t0) / 1e9 - u.wallS
      out
    }

  /** A full collection, and its notification handled (it arrives on its
    * own thread). */
  private def collect(): Unit = {
    System.gc()
    Thread.sleep(50)
  }

  /** Start a region: heap from before it is collected, then forgotten. */
  def resetHeapPeak(): Unit = {
    collect()
    heapAfterGcPeak = 0L
  }

  /** Peak heap in use after a collection since [[resetHeapPeak]], in MB.
    * A final collection makes sure the end of the region is counted. */
  def heapPeakMb(): Double = {
    collect()
    heapAfterGcPeak / 1e6
  }
}
