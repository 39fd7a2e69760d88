package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the timed-operation
  * log and, in traced mode, the span recorder and the listener. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val collector: Option[Collector], val args: Map[String, String]) {
  val ops = ArrayBuffer.empty[Op]
  /** Timed phases inside an operation (not operations themselves). */
  val subOps = ArrayBuffer.empty[Op]
  val heapSamples = ArrayBuffer.empty[Double]
  var timing = false

  def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = arg(k).toInt
  def traced: Boolean = tracer.enabled

  /** Run one closed-loop operation. While timing, its wall time is logged
    * and a failure is counted rather than raised; during warm-up a
    * failure aborts the run. */
  def op(kind: String, name: String, work: Long)(f: => Unit): Boolean = {
    if (timing) tracer.op = ops.size
    val s = Clock.now
    val ok =
      try { tracer.span(s"op.$kind")(f); true }
      catch {
        case NonFatal(e) if timing =>
          System.err.println(s"operation $kind/$name failed: $e")
          e.printStackTrace()
          false
      }
    if (timing) {
      ops += Op(kind, name, s, Clock.now, work, ok)
      if (traced) heapSamples += Jvm.liveHeapMb
    }
    ok
  }
}

/** One workload: `prepare` and `warm` run before the timed phase and are
  * charged to set-up; `run` is the timed phase; `finish` runs after it,
  * returning the data the output checks need and any layer metrics only
  * the workload can compute. */
trait Workload {
  def prepare(ctx: Ctx): Unit = ()
  def warm(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def finish(ctx: Ctx): (Map[String, Any], Map[String, Double])
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(args("work")).getAbsolutePath
    val cpus = args.getOrElse("cpus", "4")
    val trace = args.getOrElse("trace", "0") == "1"
    val workload: Workload = args("workload") match {
      case "medallion_stream" => new MedallionStream
      case "lake_dml" => new LakeDml
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // the sentinel runs before the session exists, so no engine thread
    // (task, JIT backlog, GC) competes with it; its time is not set-up
    val calibStart = Clock.now
    val calibBefore = median((1 to 3).map(_ => Jvm.calibMs()))
    val calibSpent = Clock.now - calibStart

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val collector = if (trace) Some(new Collector) else None
    collector.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new Tracer(trace), collector, args)
    val sessionReady = Clock.now

    workload.prepare(ctx)
    workload.warm(ctx)
    val setupEnd = Clock.now

    val (cpu0, gc0, jit0) = (Jvm.cpuMs, Jvm.gcMs, Jvm.jitMs)
    ctx.timing = true
    workload.run(ctx)
    ctx.timing = false
    val (cpu1, gc1, jit1) = (Jvm.cpuMs, Jvm.gcMs, Jvm.jitMs)
    val calibAfter = median((1 to 3).map(_ => Jvm.calibMs()))
    collector.foreach(_.drain(spark.sparkContext))

    val (check, wlLayers) = workload.finish(ctx)
    val nOps = ctx.ops.size.max(1).toDouble
    val layers = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      layers ++= wlLayers
      layers ++= sparkLayers(ctx, collector.get)
      layers("jvm.cpu_ms") = (cpu1 - cpu0) / nOps
      layers("jvm.gc_ms") = (gc1 - gc0) / nOps
      layers("jvm.jit_ms") = jit1 - jit0
      layers("jvm.live_heap_peak_mb") =
        if (ctx.heapSamples.isEmpty) 0.0 else ctx.heapSamples.max
    }
    val result = Map(
      "session_s" -> (sessionReady - Jvm.startMs - calibSpent) / 1000.0,
      "warmup_s" -> (setupEnd - sessionReady) / 1000.0,
      "calib_ms" -> Seq(calibBefore, calibAfter),
      "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "work" -> o.work, "ok" -> o.ok)),
      "sub_ops" -> ctx.subOps.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok)),
      "check" -> check,
      "layers" -> layers,
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end)))
    Files.write(new File(args("out")).toPath,
      Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    reach = lo
    iv.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(t => t._2 > t._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - s.max(reach); reach = e }
      }
    total
  }

  /** Per-operation Spark counters: every job, stage and task whose start
    * falls inside a timed operation is charged to it. */
  private def sparkLayers(ctx: Ctx, c: Collector): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val ops = ctx.ops.toSeq
    val n = ops.size.max(1).toDouble
    def inOp(t: Double) = ops.exists(o => t >= o.start && t <= o.end)
    val tasks = c.tasks.asScala.toSeq.filter(t => inOp(t.launch.toDouble))
    val taskIv = tasks.map(t => (t.launch.toDouble, t.finish.toDouble))
    val idle = ops.map(o => o.ms - covered(taskIv, o.start, o.end)).sum
    Map(
      "spark.jobs" -> c.jobs.asScala.count(j => inOp(j._2.toDouble)) / n,
      "spark.stages" -> c.stages.asScala.count(s => inOp(s.toDouble)) / n,
      "spark.tasks" -> tasks.size / n,
      "spark.task_ms" -> tasks.map(_.runMs).sum / n,
      "spark.no_task_ms" -> idle / n,
      "spark.shuffle_mb" -> tasks.map(_.shuffleWrite).sum / 1e6 / n,
      "spark.spill_mb" -> tasks.map(_.spill).sum / 1e6 / n,
      "spark.input_mb" -> tasks.map(_.inputBytes).sum / 1e6 / n,
      "spark.output_mb" -> tasks.map(_.outputBytes).sum / 1e6 / n)
  }

  /** Bytes of the regular files under `dir` whose name passes `keep`. */
  def dirBytes(dir: File, keep: String => Boolean = _ => true): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) (if (keep(dir.getName)) dir.length() else 0L)
    else Option(dir.listFiles()).toSeq.flatten.map(dirBytes(_, keep)).sum
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => quote(d.toString)
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
