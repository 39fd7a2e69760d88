package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The DSv2 topic-log connector must give the semantics a Kafka source
  * gives: keyed partition routing, per-partition dense offsets, batch
  * + micro-batch reads, checkpointed exactly-once restart, and
  * admission control — the contract that makes `format("kafka")` a
  * drop-in swap at deploy. */
class TopicLogSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def batch(rows: (String, String, String)*) =
    rows.toDF("key", "value", "t")
      .select($"key", $"value", to_timestamp($"t").as("ts"))

  test("append + batch read round-trips records with keyed routing and dense offsets") {
    val dir = Files.createTempDirectory("graft-topic").toString + "/t1"
    val rows = (0 until 40).map(i =>
      (s"k${i % 7}", s"v$i", f"2024-01-01 10:00:${i % 60}%02d"))
    TopicLog.append(spark, batch(rows: _*), dir, nPartitions = 4)

    val got = spark.read.format(TopicLogSource.Name).option("path", dir).load()
    assert(got.count() === 40)
    // same key → same partition, always
    val keyParts = got.groupBy("key")
      .agg(countDistinct("partition").as("np"))
      .filter($"np" > 1).count()
    assert(keyParts === 0L, "a key appeared in more than one partition")
    // offsets are dense per partition: 0..n-1
    got.select("partition", "offset").as[(Int, Long)].collect()
      .groupBy(_._1).foreach { case (p, offs) =>
        val sorted = offs.map(_._2).sorted.toSeq
        assert(sorted === (0L until sorted.length).toSeq,
          s"partition $p offsets not dense: $sorted")
      }
    // values round-trip
    assert(got.filter($"value" === "v17").count() === 1L)
  }

  test("wire format round-trips hostile keys/values (tabs, newlines, percents)") {
    val dir = Files.createTempDirectory("graft-topic").toString + "/t2"
    val hostile = Seq(
      ("a\tb", "v\nwith\nnewlines", "2024-01-01 00:00:00"),
      ("100%", "%25 literal\ttab", "2024-01-01 00:00:01"))
    TopicLog.append(spark, batch(hostile: _*), dir, 2)
    val got = spark.read.format(TopicLogSource.Name).option("path", dir).load()
      .select("key", "value").as[(String, String)].collect().toSet
    assert(got === hostile.map(h => (h._1, h._2)).toSet)
  }

  test("micro-batch stream drains exactly once and resumes from the checkpoint") {
    val root = Files.createTempDirectory("graft-topic").toString
    val dir = root + "/t3"
    val ck = root + "/ck"
    val out = root + "/out"
    TopicLog.append(spark, batch(
      (0 until 20).map(i => (s"k$i", s"v$i", "2024-01-01 00:00:00")): _*), dir, 3)

    def drain(): Unit = {
      val q = spark.readStream.format(TopicLogSource.Name)
        .option("path", dir).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 20)
    // restart with NO new data: nothing re-emitted (exactly-once)
    drain()
    assert(spark.read.parquet(out).count() === 20)
    // append more; restart resumes from committed offsets — only the
    // delta arrives
    TopicLog.append(spark, batch(
      (20 until 32).map(i => (s"k$i", s"v$i", "2024-01-01 00:01:00")): _*), dir, 3)
    drain()
    val after = spark.read.parquet(out)
    assert(after.count() === 32)
    assert(after.select("value").distinct().count() === 32,
      "restart re-emitted rows the checkpoint already covered")
  }

  test("admission control: maxOffsetsPerTrigger splits the drain into rate-limited batches") {
    val root = Files.createTempDirectory("graft-topic").toString
    val dir = root + "/t4"
    TopicLog.append(spark, batch(
      (0 until 30).map(i => (s"k$i", s"v$i", "2024-01-01 00:00:00")): _*), dir, 2)
    val q = spark.readStream.format(TopicLogSource.Name)
      .option("path", dir).option("maxOffsetsPerTrigger", "6").load()
      .writeStream.format("memory").queryName("topic_rate")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("topic_rate").count() === 30)
    // ≥5 micro-batches: 30 rows / 6 per trigger (progress history may
    // truncate, so assert via the recent progress floor)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      q.recentProgress.map(_.numInputRows).mkString(","))
    assert(q.recentProgress.forall(_.numInputRows <= 6),
      "a batch exceeded the admission limit: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("topic-to-topic pipeline: read topic A, transform, sink to topic B") {
    val root = Files.createTempDirectory("graft-topic").toString
    val a = root + "/topicA"
    val b = root + "/topicB"
    val ck = root + "/ck"
    TopicLog.append(spark, batch(
      (0 until 15).map(i => (s"k$i", s"v$i", "2024-01-01 00:00:00")): _*), a, 2)

    def pump(): Unit = {
      val q = TopicLog.sink(
        spark.readStream.format(TopicLogSource.Name).option("path", a).load()
          .select($"key", upper($"value").as("value"), $"ts"),
        b, nPartitions = 3, checkpointDir = ck)
      q.awaitTermination()
    }
    pump()
    val got = spark.read.format(TopicLogSource.Name).option("path", b).load()
    assert(got.count() === 15)
    assert(got.filter($"value" === "V7").count() === 1, "transform must apply")
    // replayed drain: destination stays exactly-once
    pump()
    assert(spark.read.format(TopicLogSource.Name).option("path", b).load()
      .count() === 15)
    // late arrivals flow through end-to-end
    TopicLog.append(spark, batch(("late", "tail", "2024-01-01 00:01:00")), a, 2)
    pump()
    val fin = spark.read.format(TopicLogSource.Name).option("path", b).load()
    assert(fin.count() === 16)
    assert(fin.filter($"value" === "TAIL").count() === 1)
  }

  test("a replayed sink batch leaves the destination count unchanged") {
    val root = Files.createTempDirectory("graft-topic").toString
    val a = root + "/topicA"
    val b = root + "/topicB"
    val ck = root + "/ck"
    TopicLog.append(spark, batch(
      (0 until 15).map(i => (s"k$i", s"v$i", "2024-01-01 00:00:00")): _*), a, 2)
    def pump() = {
      val q = TopicLog.sink(
        spark.readStream.format(TopicLogSource.Name).option("path", a).load(),
        b, nPartitions = 3, checkpointDir = ck)
      q.awaitTermination()
      q
    }
    pump()
    def count() = spark.read.format(TopicLogSource.Name).option("path", b).load().count()
    assert(count() === 15)
    // Crash after batch 0's segments published, before its commit-log
    // entry: the restart replays batch 0, whose tagged append skips
    // every partition that already has its segment.
    assert(new java.io.File(ck, "commits/0").delete())
    new java.io.File(ck, "commits/.0.crc").delete()
    assert(pump().recentProgress.map(_.batchId).toSeq === Seq(0L))
    assert(count() === 15)
  }

  test("null keys route deterministically instead of NPEing") {
    val dir = Files.createTempDirectory("graft-topic").toString + "/tnull"
    val withNull = Seq((Option.empty[String], "orphan", "2024-01-01 00:00:00"),
      (Some("k1"), "keyed", "2024-01-01 00:00:01"))
      .toDF("key", "value", "t")
      .select($"key", $"value", to_timestamp($"t").as("ts"))
    TopicLog.append(spark, withNull, dir, 2)
    val got = spark.read.format(TopicLogSource.Name).option("path", dir).load()
    assert(got.count() === 2)
    assert(got.filter($"key".isNull).select("value").as[String].head() === "orphan")
  }

  test("tagged append is idempotent per tag (crash-replay safety)") {
    val dir = Files.createTempDirectory("graft-topic").toString + "/ttag"
    val b = batch((0 until 12).map(i => (s"k$i", s"v$i", "2024-01-01 00:00:00")): _*)
    TopicLog.append(spark, b, dir, 3, tag = Some("7"))
    // replay of the same batch tag: every partition already has its
    // segment → nothing written, no duplicates, offsets unchanged
    TopicLog.append(spark, b, dir, 3, tag = Some("7"))
    val got = spark.read.format(TopicLogSource.Name).option("path", dir).load()
    assert(got.count() === 12)
    // a NEW tag appends normally at the advanced offsets
    TopicLog.append(spark, b, dir, 3, tag = Some("8"))
    assert(spark.read.format(TopicLogSource.Name).option("path", dir).load()
      .count() === 24)
  }

  test("per-partition order is preserved through the reader") {
    val dir = Files.createTempDirectory("graft-topic").toString + "/t5"
    // two appends → two segments per partition; reader must walk them
    // in offset order
    TopicLog.append(spark, batch(
      (0 until 10).map(i => ("hot", s"a$i", f"2024-01-01 00:00:${i}%02d")): _*), dir, 2)
    TopicLog.append(spark, batch(
      (0 until 10).map(i => ("hot", s"b$i", f"2024-01-01 00:01:${i}%02d")): _*), dir, 2)
    val got = spark.read.format(TopicLogSource.Name).option("path", dir).load()
      .filter($"key" === "hot").orderBy("offset")
      .select("offset", "value").as[(Long, String)].collect()
    assert(got.length === 20)
    assert(got.map(_._1).toSeq === (0L until 20L).toSeq)
    // first segment's values all precede the second's (per-key order)
    assert(got.take(10).forall(_._2.startsWith("a")) &&
      got.drop(10).forall(_._2.startsWith("b")))
  }
}
