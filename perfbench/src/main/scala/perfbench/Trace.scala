package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and SparkListener timestamps (epoch ms) share one time line. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed operation of the closed loop. `kind` is the latency class
  * the end-to-end metrics pool it into; `work` is what throughput counts. */
final case class Op(kind: String, name: String, start: Double, end: Double,
    work: Long, ok: Boolean) {
  def ms: Double = end - start
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, end: Double)

/** Spans recorded by the harness around each call into a layer. Kept in
  * memory and written out when the run ends; a no-op unless enabled. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the span closes
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = Clock.now
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, parent, op, s, Clock.now)
      }
    }
}

final case class TaskRec(launch: Long, finish: Long, runMs: Long,
    shuffleWrite: Long, spill: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long)

/** SparkListener that keeps raw job, stage and task records; they are
  * attributed to operations afterwards by time window (the loop is
  * closed, so at most one operation is in flight at any time). */
final class Collector extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]()      // id, start
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()   // id, end
  val stages = new ConcurrentLinkedQueue[java.lang.Long]() // submitted
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile var markerSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty(Collector.Marker) != null))
      markerSeen = true
    else jobs.add((e.jobId, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(0L)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten))
  }

  /** Block until every event posted before now has been delivered: the
    * listener bus is FIFO, so seeing a marker job means all earlier
    * events arrived. */
  def drain(sc: SparkContext): Unit = {
    markerSeen = false
    sc.setLocalProperty(Collector.Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Collector.Marker, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def jobIntervals: Seq[(Long, Long)] = {
    val ends = jobEnds.asScala.toMap
    jobs.asScala.toSeq.flatMap { case (id, s) => ends.get(id).map(e => (s, e)) }
  }
}

object Collector { val Marker = "perfbench.marker" }

/** JVM management beans, read at operation boundaries. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  /** Heap in use right after the last collection of each pool. */
  def liveHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Fixed single-thread loop: a box-speed sentinel, not a workload. */
  @volatile private var sink = 0L
  def calibMs(): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    (System.nanoTime() - t) / 1e6
  }
}
