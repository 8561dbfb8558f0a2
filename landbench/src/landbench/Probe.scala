package landbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** In-memory spans: name, start, end, op id and parent span. Spans opened
  * on the harness thread nest by call; a span opened on another thread
  * (the stream's `onDdl` callback) takes the harness thread's innermost
  * open span as its parent. Disabled, `span` only runs its body. */
final class Tracer(var enabled: Boolean) {
  final case class Span(name: String, op: Int, parent: Int, start: Long, var end: Long)

  private val owner = Thread.currentThread()
  private val spans = ArrayBuffer.empty[Span]
  @volatile private var open: List[Int] = Nil
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val mine = Thread.currentThread() eq owner
      val id = synchronized {
        spans += Span(name, op, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
        spans.length - 1
      }
      if (mine) open = id :: open
      try body
      finally {
        val end = System.nanoTime()
        synchronized(spans(id).end = end)
        if (mine) open = open.tail
      }
    }

  /** Every closed span with its self time: its duration minus the union
    * of its children's intervals. */
  def closed: Seq[Map[String, Any]] = synchronized {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.filter(i => spans(i).end > 0).map { i =>
      val s = spans(i)
      val covered = Intervals.covered(kids.getOrElse(i, Nil).map(spans).filter(_.end > 0)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      Map("id" -> i, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> (s.end - s.start - covered) / 1e9)
    }.toSeq
  }

}

object Intervals {
  /** Length of the union of `[start, end)` intervals. */
  def covered(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark's work proxies, summed over listener events: jobs, stages, tasks,
  * executor run / CPU / GC time, input bytes, shuffle writes, and the job
  * intervals from which driver-only time is derived. */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, inBytes, shufBytes, shufRecs =
    new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val spans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    synchronized(spans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime); inBytes.addAndGet(m.inputMetrics.bytesRead)
      shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def snapshot: Array[Long] = Array(jobs, stages, tasks, runMs, cpuNs, gcMs, inBytes,
    shufBytes, shufRecs).map(_.get)

  /** Counters accrued between two snapshots; `driver_s` is the op wall
    * (epoch ms `t0`..`t1`) not covered by any job span. */
  def delta(a: Array[Long], b: Array[Long], t0: Long, t1: Long): Map[String, Double] = {
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    val jobMs = synchronized {
      val total = Intervals.covered(spans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) })
      spans.clear()
      total
    }
    Map("spark.jobs" -> d(0), "spark.stages" -> d(1), "spark.tasks" -> d(2),
      "spark.executor_run_s" -> d(3) / 1e3, "spark.executor_cpu_s" -> d(4) / 1e9,
      "spark.jvm_gc_s" -> d(5) / 1e3, "spark.input_bytes" -> d(6),
      "spark.shuffle_write_bytes" -> d(7), "spark.shuffle_records" -> d(8),
      "spark.driver_s" -> math.max(0L, (t1 - t0) - jobMs) / 1e3)
  }
}

/** JVM-wide counters from the MXBeans: bytes allocated by all live
  * threads, GC time, process CPU, and the peak heap left after any GC
  * (the heap pools only: G1's Eden, Survivor and Old Gen, not Metaspace
  * or the code cache). */
object JvmCounters {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLive = 0L
  @volatile var tracking = false

  gcs.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (tracking && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, use) if heapPools(pool) => use.getUsed }.sum
            if (live > peakLive) peakLive = live
          }
      }, null, null)
    case _ =>
  }

  def peakLiveMb: Double = peakLive / 1048576.0

  def snapshot: Array[Long] = {
    val ids = threads.getAllThreadIds
    val alloc = threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
    Array(alloc, gcs.map(_.getCollectionTime).sum, os.getProcessCpuTime)
  }

  def delta(a: Array[Long], b: Array[Long]): Map[String, Double] = Map(
    "jvm.alloc_mb" -> (b(0) - a(0)) / 1048576.0,
    "jvm.gc_s" -> (b(1) - a(1)) / 1e3,
    "jvm.cpu_s" -> (b(2) - a(2)) / 1e9)
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => quote(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Number                  => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(apply).mkString("[", ",", "]")
    case a: Array[_]                => apply(a.toSeq)
    case other                      => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }
}

/** Host speed probe: a fixed unit of single-threaded JVM work that does
  * not depend on the program (string building, hashing, map inserts). Its
  * wall time, taken before every timed op, shows how fast the host ran
  * while the run ran. */
object HostRef {
  @volatile private var sink = 0L

  /** Wall seconds of one probe. */
  def run(): Double = {
    val t0 = System.nanoTime()
    val m = new java.util.HashMap[String, Integer]()
    var h = 0L
    var i = 0
    while (i < 400000) {
      val k = "k" + (i % 4096)
      m.merge(k, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      h += k.hashCode
      i += 1
    }
    sink += h + m.size
    (System.nanoTime() - t0) / 1e9
  }
}
