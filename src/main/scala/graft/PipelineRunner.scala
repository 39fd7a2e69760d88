package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Medallion
import graft.plans.ModelGraph
import graft.plans.ModelGraph.Node
import graft.streaming.Streams

/** End-to-end medallion pipeline run (the reference's generate→process→
  * build lifecycle, SURVEY §3.2, in one command): file-stream Bronze
  * ingest (checkpointed, AvailableNow) → continuously-maintained
  * aggregate MV → batch Silver → Gold model graph. Prints one JSON line
  * of stage row counts and per-stage wall milliseconds (`*_ms`).
  *
  * Usage: runMain graft.PipelineRunner [sfDir] [workDir]
  */
object PipelineRunner {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-pipeline").toString)
    val spark = Harness.session()
    def timed[T](f: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1000000)
    }

    // Stage 0: land raw events as the incoming file stream — only once.
    // A re-land under a new file name would look like a producer replay
    // to the checkpointed sources (bronze, being raw append-only, would
    // keep both copies; Silver's natural-key dedup absorbs the replay —
    // reference ST9 semantics, observable by deleting `incoming` and
    // re-running).
    val src = s"$work/incoming"
    if (!new java.io.File(src).exists()) {
      Tables.t(spark, sfDir, "events").repartition(8)
        .write.parquet(src)
    }

    // Stage 1: streaming Bronze ingest (bounded, checkpointed).
    val (_, bronzeMs) = timed(Streams.bronzeIngest(
      Streams.fileSource(spark, src), s"$work/bronze", s"$work/ck-bronze")
      .awaitTermination())
    val bronze = spark.read.parquet(s"$work/bronze")

    // Stage 1b: continuously-maintained aggregate MV over the stream.
    val (_, mvMs) = timed(Streams.aggregateMv(
      Streams.fileSource(spark, src), s"$work/mv_daily", s"$work/ck-mv")
      .awaitTermination())
    val mv = spark.read.parquet(s"$work/mv_daily")

    // Stage 1c: stream-stream attribution — purchases joined to the same
    // user's clicks within the preceding hour (watermark-bounded state).
    def typed(t: String) = Streams.fileSource(spark, src)
      .filter(org.apache.spark.sql.functions.col("event_type") === t)
    val (_, attributionMs) = timed(Streams.runToMemory(
      Streams.intervalJoin(typed("purchase"), typed("click"), "user_id", 3600),
      "attribution"))
    val attributed = spark.table("attribution")

    // Stage 2+3: batch Silver + Gold marts through the model graph.
    val (out, modelGraphMs) = timed(ModelGraph.run(spark, Seq(
      Node("silver", Seq("bronze"), f => Medallion.silver(f("bronze")),
        ModelGraph.Table(s"$work/silver", Seq("event_date"))),
      Node("mart_daily", Seq("silver"), f => Medallion.goldDailySummary(f("silver"))),
      Node("mart_users", Seq("silver"), f => Medallion.goldUserStats(f("silver")))),
      Map("bronze" -> bronze)))

    val silverN = out("silver").count()
    val mvTotal = mv.agg(sum("n")).head().getLong(0)
    println(s"""{"bronze":${bronze.count()},"silver":$silverN,""" +
      s""""mart_daily":${out("mart_daily").count()},"mart_users":${out("mart_users").count()},""" +
      s""""mv_groups":${mv.count()},"mv_total_events":$mvTotal,""" +
      s""""attributed_pairs":${attributed.count()},"bronze_ms":$bronzeMs,"mv_ms":$mvMs,""" +
      s""""attribution_ms":$attributionMs,"model_graph_ms":$modelGraphMs,"work":"$work"}""")
    spark.stop()
  }
}
