package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.streaming.Streams

/** One operation lands one staged micro-batch and runs it to completion
  * through Bronze, Silver and the Gold aggregate MV, each an AvailableNow
  * query with its own checkpoint; its latency is landing → MV commit.
  *
  * Each operation is followed by one analytics read: a catalog query from
  * `SparkEntry.queries`, in round-robin over the entries that read only
  * `events`, run over every event landed so far. The landing directory is
  * that `events` table (`sf/events.parquet`), so the queries see exactly
  * what the stream has ingested. */
final class MedallionStream extends Workload {
  private var root: String = _
  private def dir(p: String) = s"$root/$p"
  private def landing = dir("sf/events.parquet")
  private lazy val fns = graft.SparkEntry.queries
  private val perEntry = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val bronzeSchema = Streams.eventSchema
    .add("ingestion_ts", TimestampType).add("ingest_date", DateType)
  private var nextBatch = 0
  private var batchEvents = 0
  private val dropped = ArrayBuffer.empty[Long]
  // per timed operation: query name -> its progress reports, and wall ms
  private val progress = ArrayBuffer.empty[Map[String, (Seq[StreamingQueryProgress], Double)]]

  override def prepare(ctx: Ctx): Unit = {
    root = ctx.arg("inputs")
    batchEvents = ctx.int("batch_events")
    new File(landing).mkdirs()
  }

  private def await(name: String, q: => StreamingQuery)
      : (String, (Seq[StreamingQueryProgress], Double)) = {
    val s = Clock.now
    val started = q
    started.awaitTermination()
    name -> (started.recentProgress.toSeq, Clock.now - s)
  }

  private def step(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val i = nextBatch
    nextBatch += 1
    val name = f"batch-$i%05d.parquet"
    var runs: Map[String, (Seq[StreamingQueryProgress], Double)] = Map.empty
    var silverAt = 0.0
    ctx.op("fresh", s"batch:$i", batchEvents) {
      Files.move(new File(dir(s"staged/$name")).toPath,
        new File(s"$landing/$name").toPath, StandardCopyOption.ATOMIC_MOVE)
      runs += ctx.tracer.span("streaming.bronze")(await("bronze",
        Streams.bronzeIngest(Streams.fileSource(spark, landing),
          dir("bronze"), dir("ckpt/bronze"))))
      runs += ctx.tracer.span("streaming.silver")(await("silver",
        Streams.silverStream(spark.readStream.schema(bronzeSchema)
            .parquet(dir("bronze")))
          .writeStream.format("parquet")
          .option("path", dir("silver"))
          .option("checkpointLocation", dir("ckpt/silver"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()))
      silverAt = Clock.now
      runs += ctx.tracer.span("streaming.gold_mv")(await("gold_mv",
        Streams.aggregateMv(spark.readStream.schema(bronzeSchema)
            .parquet(dir("bronze")), dir("mv"), dir("ckpt/gold"))))
    }
    if (ctx.timing) {
      // the write phase of the same operation: landing → Silver commit
      val f = ctx.ops.last
      ctx.subOps += Op("write", f.name, f.start, silverAt, 0, f.ok)
      progress += runs
    }
    dropped += runs.get("silver").toSeq.flatMap(_._1)
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    read(ctx, MedallionStream.Entries(i % MedallionStream.Entries.size))
  }

  /** One catalog query through the `noop` sink, cache cleared first, as
    * the engine's own Bench runs them. */
  private def read(ctx: Ctx, name: String): Unit = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    ctx.op("read", name, 1) {
      val df = ctx.tracer.span("queries.build")(fns(name)(spark, dir("sf")))
      ctx.tracer.span("queries.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("queries.exec")(
        df.write.format("noop").mode("overwrite").save())
    }
    if (ctx.timing) perEntry.getOrElseUpdate(name, ArrayBuffer()) += ctx.ops.last.ms
  }

  /** Warm-up operations, then a read of each entry they did not reach, so
    * every entry has run before the timed phase. */
  def warm(ctx: Ctx): Unit = {
    val n = ctx.int("warmup")
    (1 to n).foreach(_ => step(ctx))
    MedallionStream.Entries.drop(n).foreach(read(ctx, _))
  }
  def run(ctx: Ctx): Unit = (1 to ctx.int("ops")).foreach(_ => step(ctx))

  def finish(ctx: Ctx): (Map[String, Any], Map[String, Double]) = {
    def parquetBytes(d: String) = Main.dirBytes(new File(dir(d)),
      n => n.endsWith(".parquet"))
    val stored = parquetBytes("bronze") + parquetBytes("silver") + parquetBytes("mv")
    // the queries' answers over everything landed, for the oracle check
    val out = dir("results")
    MedallionStream.Entries.foreach(n =>
      fns(n)(ctx.spark, dir("sf")).write.mode("overwrite").parquet(s"$out/$n"))
    val oracle = graft.SparkEntry.oracleSql
    val check = Map(
      "landed_batches" -> nextBatch,
      "dropped_by_watermark" -> dropped.sum,
      "stored_mb" -> stored / 1e6,
      "oracle" -> MedallionStream.Entries.map(n => n -> oracle.get(n)).toMap)
    (check, if (ctx.traced) layers(ctx) else Map.empty)
  }

  private def layers(ctx: Ctx): Map[String, Double] = {
    def med(xs: Seq[Double]) = Main.median(xs)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def perOp(f: Seq[StreamingQueryProgress] => Double) =
      med(progress.toSeq.map(r => f(r.values.flatMap(_._1).toSeq)))
    def wall(q: String) = med(progress.toSeq.map(_(q)._2))
    val trigger = perOp(_.map(dur(_, "triggerExecution")).sum)
    val total = med(progress.toSeq.map(_.values.map(_._2).sum))
    val state = progress.toSeq.map(_("silver")._1.lastOption
      .flatMap(_.stateOperators.headOption))
    val m = mutable.LinkedHashMap[String, Double](
      "streaming.bronze_ms" -> wall("bronze"),
      "streaming.silver_ms" -> wall("silver"),
      "streaming.gold_mv_ms" -> wall("gold_mv"),
      "streaming.trigger_ms" -> trigger,
      "streaming.start_stop_ms" -> (total - trigger),
      "streaming.add_batch_ms" -> perOp(_.map(dur(_, "addBatch")).sum),
      "streaming.planning_ms" -> perOp(_.map(dur(_, "queryPlanning")).sum),
      "streaming.offsets_ms" -> perOp(_.map(p =>
        dur(p, "latestOffset") + dur(p, "getBatch")).sum),
      "streaming.log_commit_ms" -> perOp(_.map(p =>
        dur(p, "walCommit") + dur(p, "commitOffsets")).sum),
      "streaming.micro_batches" -> perOp(_.size.toDouble),
      "streaming.state_rows" -> med(state.map(_.map(_.numRowsTotal.toDouble).getOrElse(0.0))),
      "streaming.state_mb" -> med(state.map(_.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))))
    MedallionStream.Entries.foreach(n =>
      m(s"queries.${n}_ms") = med(perEntry.getOrElse(n, Nil).toSeq))
    def phase(p: String) = med(ctx.tracer.spans.toSeq
      .filter(s => s.name == s"queries.$p" && s.op >= 0).map(s => s.end - s.start))
    Seq("build", "plan", "exec").foreach(p => m(s"queries.${p}_ms") = phase(p))
    m.toMap
  }
}

object MedallionStream {
  /** Catalog entries that read only `events`: the reference's q13
    * analogue and the two that run through the `plans` layer, the batch
    * medallion `p02` (`ModelGraph`) and the as-of join `x10`
    * (`AsOfJoinExec`). */
  val Entries: Seq[String] = Seq("q13_datetime_agg", "p02_gold_daily",
    "x10_asof_exec")
}
