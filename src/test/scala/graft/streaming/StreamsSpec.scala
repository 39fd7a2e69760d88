package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.{Medallion, Versioned}

/** Streaming semantics driven by the sf0.001 events as a bounded file
  * stream (Trigger.AvailableNow ⇒ deterministic, ST2). */
class StreamsSpec extends SparkSpec {

  /** Events parquet re-written with µs timestamps (the raw file's ns
    * type isn't readable by Spark's streaming parquet source either). */
  private lazy val srcDir: String = {
    val dir = Files.createTempDirectory("graft-stream-src").toString
    Tables.t(spark, sfDir, "events").coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("bronze file-stream ingests every event exactly once") {
    val out = Files.createTempDirectory("graft-bronze").toString
    val ck = Files.createTempDirectory("graft-ck1").toString
    val q = Streams.bronzeIngest(Streams.fileSource(spark, srcDir), out, ck)
    q.awaitTermination()
    val bronze = spark.read.parquet(out)
    assert(bronze.count() === Tables.t(spark, sfDir, "events").count())
    assert(bronze.columns.contains("ingestion_ts"))
    // Restart from the same checkpoint: no new data ⇒ no duplicates (ST4).
    val q2 = Streams.bronzeIngest(Streams.fileSource(spark, srcDir), out, ck)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === bronze.count())
  }

  test("dropDuplicatesWithinWatermark collapses redelivered business keys") {
    // Double every event (at-least-once redelivery) — dedup on the
    // business key (event_id), with no event-time column in the key.
    val src = java.nio.file.Files.createTempDirectory("graft-ddw-src").toString
    val base = Tables.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
    base.union(base).coalesce(2).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    Streams.runToMemory(
      Streams.dedupByKeyWithinWatermark(stream, Seq("event_id"), "1 hour"),
      "ddw_dedup")
    val got = spark.table("ddw_dedup")
    assert(got.count() === base.count(), "redelivered duplicates survived")
    assert(got.groupBy("event_id").count().filter(col("count") > 1).count() === 0)
  }

  test("stream-static dimension join matches the batch join (x01 analog)") {
    // The static side (seed lookup) broadcasts into every micro-batch —
    // no state store involved; the streaming result must equal x01's
    // batch aggregate exactly.
    val stream = Streams.fileSource(spark, srcDir)
      .join(org.apache.spark.sql.functions.broadcast(
        graft.sources.Seeds.eventTypeLookup(spark)), "event_type")
      .groupBy("type_name", "is_billable")
      .agg(count(lit(1)).as("n"),
        graft.functions.ColFns.moneySum(col("value")).as("total_value"))
    Streams.runToMemory(stream, "stream_static", outputMode = "complete")
    val got = spark.table("stream_static")
    val want = graft.queries.ExtraQueries.x01SeedJoin.fn(spark, sfDir)
    assert(got.count() === want.count())
    assert(got.join(want, Seq("type_name", "is_billable", "n", "total_value"))
      .count() === want.count(), "streamed join diverges from batch")
  }

  test("streaming hourly rollup matches the batch q21 aggregation") {
    Streams.runToMemory(
      Streams.hourlyRollup(Streams.fileSource(spark, srcDir)), "rollup")
    val streamed = spark.table("rollup")
      .groupBy("hour_ts", "event_type").agg(sum("n").as("n"))
    val batch = Tables.t(spark, sfDir, "events")
      .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.join(batch, Seq("hour_ts", "event_type"))
      .filter(streamed("n") =!= batch("n")).count() === 0)
    // Append mode holds back the final window — its end is never passed
    // by the watermark on a bounded stream (ST9 semantics, not a bug).
    assert(batch.count() - streamed.count() <= 1)
    assert(streamed.count() > 800)
  }

  test("streaming topk_pairs leaderboard equals the batch top-k after draining") {
    import spark.implicits._
    Streams.runToMemory(
      Streams.topKStream(Streams.fileSource(spark, srcDir), 5),
      "topk_stream", outputMode = "complete")
    val got = spark.table("topk_stream")
      .select(col("event_type"), explode(col("tk")).as("p"))
      .select(col("event_type"), col("p.id").as("event_id"), col("p.score").as("value"))
      .as[(String, Long, Double)].collect().toSet
    // batch ground truth: top-5 per type by (value DESC, event_id ASC)
    val want = Tables.t(spark, sfDir, "events")
      .select("event_type", "event_id", "value")
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5)
      }.toSet
    assert(got === want, "streamed leaderboard diverges from batch top-k")
  }

  /** Crash after the last micro-batch's sink write, before its
    * commit-log entry: the next run replays that batch. */
  private def dropLastCommit(ck: String): Long = {
    val last = new File(ck, "commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new File(ck, s"commits/$last").delete())
    new File(ck, s"commits/.$last.crc").delete()
    last
  }

  test("streaming PQ encode against a frozen codebook equals batch encode") {
    import spark.implicits._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val codebook = graft.operators.Similarity.pqCodebook(emb)
      .persist() // frozen — both paths consume the same instance
    val srcDir = Files.createTempDirectory("pq-src").toString
    emb.coalesce(3).write.mode("overwrite").parquet(srcDir)
    val out = Files.createTempDirectory("pq-out").toString + "/codes"
    val ck = Files.createTempDirectory("pq-ck").toString
    def run() = {
      val stream = spark.readStream
        .schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = Streams.pqEncodeStream(stream, codebook, out, ck)
      q.awaitTermination()
      q
    }
    run()
    def codes() = Versioned.read(spark, out).as[(Long, Int, Int)].collect()
    val batch = graft.operators.Similarity.pqEncode(emb, codebook)
      .as[(Long, Int, Int)].collect().toSet
    assert(codes().toSet === batch, "incremental PQ codes diverge from batch")
    // a replayed append is recognized by its batchId: no duplicate codes
    val replayed = dropLastCommit(ck)
    assert(run().recentProgress.map(_.batchId).toSeq === Seq(replayed))
    val after = codes()
    assert(after.length === after.distinct.length, "a replay duplicated code rows")
    assert(after.toSet === batch)
    codebook.unpersist()
  }

  test("PQ encode refuses a target left by the plain-parquet sink") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val out = Files.createTempDirectory("pq-out").toString + "/codes"
    val ck = Files.createTempDirectory("pq-ck").toString
    spark.range(1).write.parquet(out)
    // refused before the stream starts, so no codebook is trained
    val e = intercept[IllegalStateException](Streams.pqEncodeStream(
      spark.readStream.schema(emb.schema).parquet(out), codebook = emb, out, ck))
    Seq(out, ck).foreach(p => assert(e.getMessage.contains(p), p))
    assert(Versioned.latestVersion(out).isEmpty)
  }

  test("streaming silver MV equals batch silver on a dup-free stream") {
    val bronzeStream = Medallion.bronze(
      Streams.fileSource(spark, srcDir), lit("2024-02-01 00:00:00").cast("timestamp"))
    Streams.runToMemory(Streams.silverStream(bronzeStream), "silver_mv")
    val streamed = spark.table("silver_mv")
    val batch = Medallion.silver(Medallion.bronze(
      Tables.t(spark, sfDir, "events"), lit("2024-02-01 00:00:00").cast("timestamp")))
    assert(streamed.count() === batch.count())
    assert(streamed.select("event_sk").except(batch.select("event_sk")).count() === 0)
  }

  /** One valid and one invalid event; the source, valid, DLQ and
    * checkpoint dirs. */
  private def dlqDirs(): (String, String, String, String) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dlq-src").resolve("data").toString
    val good = Files.createTempDirectory("graft-dlq-good").toString
    val bad = Files.createTempDirectory("graft-dlq-bad").toString
    val ck = Files.createTempDirectory("graft-ck2").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-05 10:01:00"), 8L, "view", -5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)
    (dir, good, bad, ck)
  }

  test("DLQ split routes invalid rows to the dead-letter sink") {
    val (dir, good, bad, ck) = dlqDirs()
    Streams.withDlq(Streams.fileSource(spark, dir), good, bad, ck).awaitTermination()
    assert(Versioned.read(spark, good).count() === 1)
    assert(Versioned.read(spark, bad).count() === 1)
    assert(Versioned.read(spark, bad).head().getAs[Long]("event_id") === 2L)
  }

  test("a replayed DLQ batch lands its valid and dead-letter rows once") {
    val (dir, good, bad, ck) = dlqDirs()
    Streams.withDlq(Streams.fileSource(spark, dir), good, bad, ck).awaitTermination()
    assert(dropLastCommit(ck) === 0L)
    val q = Streams.withDlq(Streams.fileSource(spark, dir), good, bad, ck)
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).toSeq === Seq(0L))
    assert(Versioned.read(spark, good).count() === 1)
    assert(Versioned.read(spark, bad).count() === 1)
  }

  test("DLQ split refuses sinks left by the plain-parquet sink") {
    val (dir, good, bad, ck) = dlqDirs()
    spark.read.parquet(dir).write.mode("overwrite").parquet(bad)
    val marker = bad + ".lastbatch"
    Files.writeString(Paths.get(marker), "0")
    val e = intercept[IllegalStateException](
      Streams.withDlq(Streams.fileSource(spark, dir), good, bad, ck))
    Seq(bad, ck, marker).foreach(p => assert(e.getMessage.contains(p), p))
    assert(Versioned.latestVersion(good).isEmpty)
  }
}
