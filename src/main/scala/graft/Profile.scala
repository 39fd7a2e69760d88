package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement harness (optimization guide §1): runs named queries under
  * the exact Bench session/config and breaks each wall second into
  * scheduler-visible parts — jobs, stages, tasks, summed task run time,
  * shuffle bytes, spill — via a SparkListener. wall·cores vs Σ task time
  * separates "the computation is expensive" from "the plan has too many
  * serialized stages / tiny tasks" (the two need different fixes).
  * `cg` counts the generated classes Janino compiled during the reported
  * (second, warm) pass: a warm pass that still compiles generates code
  * that differs per run, or lost its classes from Spark's class cache.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.Profile [query ...]
  * (no args = the full catalog). Prints one aligned row per query.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })
    def reset(): Unit = {
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskMs, gcMs, shufR, shufW, spill, input).foreach(_.set(0))
    }

    Harness.warmTables(spark, sfDir)

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.catalog.map(_.name)
    val fns = SparkEntry.queries
    println(f"${"query"}%-30s ${"wall_s"}%8s ${"jobs"}%5s ${"stgs"}%5s " +
      f"${"tasks"}%6s ${"task_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%7s " +
      f"${"shW_MB"}%7s ${"spill_MB"}%8s ${"in_MB"}%7s ${"cg"}%4s")
    // two passes per query, SECOND reported (codegen/JIT warm — matches
    // the bench's min-of-two discipline closely enough for attribution)
    names.foreach { n =>
      val fn = fns(n)
      spark.catalog.clearCache()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] $n warm failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      Thread.sleep(200) // let straggler listener events drain
      reset()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] $n failed: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      Thread.sleep(200)
      println(f"$n%-30s $wall%8.3f ${jobs.get}%5d ${stages.get}%5d " +
        f"${tasks.get}%6d ${taskMs.get / 1e3}%8.2f ${gcMs.get / 1e3}%6.2f " +
        f"${shufR.get / 1e6}%7.1f ${shufW.get / 1e6}%7.1f " +
        f"${spill.get / 1e6}%8.1f ${input.get / 1e6}%7.1f $cg%4d")
    }
    spark.stop()
  }
}
