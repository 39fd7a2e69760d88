package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.Tables
import graft.operators.Versioned
import graft.streaming.Streams

/** The reference's ingestion spine — generator → topic → bronze —
  * end-to-end through the DSv2 connector: events are produced into the
  * topic log as JSON envelopes (key = user id, Kafka-style), consumed
  * with `readStream.format("graft-topic")`, parsed against the declared
  * schema, and landed as checkpointed bronze. The exactly-once restart
  * property must hold across the WHOLE pipeline, not just the source. */
class TopicMedallionSpec extends SparkSpec {
  import spark.implicits._

  test("events flow producer → topic → JSON decode → bronze exactly once") {
    val root = Files.createTempDirectory("graft-spine").toString
    val topic = root + "/events_topic"
    val bronze = root + "/bronze"
    val ck = root + "/ck"

    // produce: each event as (key = user_id, value = JSON envelope)
    val events = Tables.t(spark, sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val n = events.count()
    TopicLog.append(spark,
      events.select(
        $"user_id".cast("string").as("key"),
        to_json(struct(events.columns.map(col): _*)).as("value"),
        $"ts"),
      topic, nPartitions = 4)

    // consume through the connector, decode, land bronze
    def drain(): Unit = {
      val parsed = spark.readStream.format(TopicLogSource.Name)
        .option("path", topic).load()
        .select(from_json($"value", Streams.eventSchema).as("e"))
        .select("e.*")
      val q = graft.operators.Medallion.bronze(parsed)
        .writeStream.format("parquet")
        .option("path", bronze).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val landed = spark.read.parquet(bronze)
    assert(landed.count() === n)
    assert(landed.columns.contains("ingestion_ts"))
    // decode really round-tripped typed columns
    val orig = events.select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    val got = landed.select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(got === orig)
    // restart: committed offsets ⇒ no duplicates through the full spine
    drain()
    assert(spark.read.parquet(bronze).count() === n)
  }

  test("CDC envelopes through the connector fold into SCD2 ≡ snapshot path") {
    // The reference's P12 pipeline shape end-to-end: Debezium envelopes
    // produced into a topic, streamed through the DSv2 connector,
    // folded into an SCD2 dimension — history byte-identical to
    // independently maintained FULL snapshots through Scd2.scd2Apply
    // (the x07 oracle path). Same fixture as CdcScd2Spec so the two
    // specs pin the same semantics over different transports.
    import org.apache.spark.sql.types._
    val rowSchema = new StructType()
      .add("id", LongType).add("name", StringType).add("val", LongType)
    def env(op: String, tsMs: Long, before: String, after: String) =
      s"""{"payload": {"op": "$op", "ts_ms": $tsMs, "before": $before, "after": $after}}"""
    def row(id: Long, name: String, v: Long) =
      s"""{"id": $id, "name": "$name", "val": $v}"""

    val batches = Seq(
      Seq( // b1: two creates
        env("c", 1000, "null", row(1, "a", 10)),
        env("c", 2000, "null", row(2, "b", 20))),
      Seq( // b2: k1 changes, k2 updated twice (last wins), k3+k4 created
        env("u", 3000, row(1, "a", 10), row(1, "a2", 11)),
        env("u", 3500, row(2, "b", 20), row(2, "b2", 21)),
        env("u", 3600, row(2, "b2", 21), row(2, "b3", 22)),
        env("c", 3800, "null", row(4, "d", 40)),
        env("c", 4000, "null", row(3, "c", 30))),
      Seq( // b3: k2 deleted, k3 same-value no-op, k4 update+delete tie
        env("d", 5000, row(2, "b3", 22), "null"),
        env("u", 4500, row(3, "c", 30), row(3, "c", 30)),
        env("u", 5000, row(4, "d", 40), row(4, "d2", 41)),
        env("d", 5000, row(4, "d2", 41), "null")))

    val root = Files.createTempDirectory("graft-cdc-spine").toString
    val topic = root + "/cdc_topic"
    val target = root + "/dim"
    val ck = root + "/ck"
    // produce batch → drain through the connector → repeat: each drain
    // is one checkpointed micro-batch over only the NEW offsets, the
    // continuous-operation shape (not a file-per-trigger simulation)
    batches.foreach { lines =>
      TopicLog.append(spark,
        lines.toDF("value").select(
          lit("cdc").as("key"), $"value",
          current_timestamp().as("ts")),
        topic, nPartitions = 2)
      val envelopes = graft.streaming.Cdc.parseEnvelope(
        spark.readStream.format(TopicLogSource.Name)
          .option("path", topic).load(),
        "value", rowSchema)
      Streams.cdcScd2Stream(envelopes, Seq("id"), Seq("name", "val"),
        target, ck).awaitTermination()
    }

    // ground truth: the same history via full snapshots (x07 oracle path)
    val snapTarget = root + "/dim_snap"
    val snapshots = Seq(
      (2000L, Seq((1L, "a", 10L), (2L, "b", 20L))),
      (4000L, Seq((1L, "a2", 11L), (2L, "b3", 22L), (3L, "c", 30L), (4L, "d", 40L))),
      (5000L, Seq((1L, "a2", 11L), (3L, "c", 30L))))
    snapshots.foreach { case (tsMs, rows) =>
      val existing = Versioned.latestVersion(snapTarget)
        .map(_ => Versioned.read(spark, snapTarget))
      Versioned.commit(spark, snapTarget,
        graft.operators.Scd2.scd2Apply(existing, rows.toDF("id", "name", "val"),
          Seq("id"), Seq("name", "val"), new java.sql.Timestamp(tsMs)),
        mode = "overwrite")
    }

    def history(root: String) = Versioned.read(spark, root)
      .select("id", "name", "val", "scd_hash", "scd_id", "valid_from", "valid_to")
      .as[(Long, String, Long, String, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSet
    assert(history(target) === history(snapTarget),
      "connector-fed SCD2 diverged from the snapshot path")
    // replay safety through the connector too: re-running the stream
    // with committed offsets must not re-fold anything
    Streams.cdcScd2Stream(
      graft.streaming.Cdc.parseEnvelope(
        spark.readStream.format(TopicLogSource.Name)
          .option("path", topic).load(), "value", rowSchema),
      Seq("id"), Seq("name", "val"), target, ck).awaitTermination()
    assert(history(target) === history(snapTarget))
  }
}
