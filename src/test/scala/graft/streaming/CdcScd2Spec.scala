package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.{Scd2, Versioned}

/** The CDC-fed incremental SCD2 must produce a history byte-identical to
  * feeding the same batches' FULL snapshots through the snapshot path
  * (Scd2.scd2Apply) — deletes close, same-hash updates are no-ops,
  * multiple updates to one key inside a batch collapse to the last —
  * also when a micro-batch is replayed.
  */
class CdcScd2Spec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = new StructType()
    .add("id", LongType).add("name", StringType).add("val", LongType)

  private def env(op: String, tsMs: Long, before: String, after: String) =
    s"""{"payload": {"op": "$op", "ts_ms": $tsMs, "before": $before, "after": $after}}"""
  private def row(id: Long, name: String, v: Long) =
    s"""{"id": $id, "name": "$name", "val": $v}"""

  /** Three CDC batches, one file each, ordered by explicit mtimes. */
  private def cdcSource(): String = {
    val srcDir = Files.createTempDirectory("cdc-src").toString
    // one file per micro-batch, ordered by explicit mtimes
    val batches = Seq(
      Seq( // b1: two creates (max ts 2000)
        env("c", 1000, "null", row(1, "a", 10)),
        env("c", 2000, "null", row(2, "b", 20))),
      Seq( // b2: k1 changes, k2 updated twice (last wins), k3+k4 created (max 4000)
        env("u", 3000, row(1, "a", 10), row(1, "a2", 11)),
        env("u", 3500, row(2, "b", 20), row(2, "b2", 21)),
        env("u", 3600, row(2, "b2", 21), row(2, "b3", 22)),
        env("c", 3800, "null", row(4, "d", 40)),
        env("c", 4000, "null", row(3, "c", 30))),
      Seq( // b3: k2 deleted, k3 same-value no-op, k4 updated AND deleted
        // at the SAME ts_ms (one transaction) — the delete must win
        env("d", 5000, row(2, "b3", 22), "null"),
        env("u", 4500, row(3, "c", 30), row(3, "c", 30)),
        env("u", 5000, row(4, "d", 40), row(4, "d2", 41)),
        env("d", 5000, row(4, "d2", 41), "null")))
    batches.zipWithIndex.foreach { case (lines, i) =>
      val f = new java.io.File(srcDir, s"batch-$i.json")
      val w = new java.io.PrintWriter(f)
      try lines.foreach(w.println) finally w.close()
      f.setLastModified(10000L * (i + 1))
    }
    srcDir
  }

  /** One file per trigger → three micro-batches in order. */
  private def stream(srcDir: String, target: String, ck: String) = {
    val raw = spark.readStream.option("maxFilesPerTrigger", 1).text(srcDir)
    val q = Streams.cdcScd2Stream(Cdc.parseEnvelope(raw, "value", rowSchema),
      Seq("id"), Seq("name", "val"), target, ck)
    q.awaitTermination()
    q
  }

  private def history(root: String) = Versioned.read(spark, root)
    .select("id", "name", "val", "scd_hash", "scd_id", "valid_from", "valid_to")
    .as[(Long, String, Long, String, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
    .collect().toSet

  /** Ground truth: independently maintained FULL snapshots through the
    * snapshot path, batchTs = each batch's max ts_ms (same as the
    * stream), each fold committed as a Versioned overwrite. */
  private def snapshotHistory() = {
    val snapTarget = Files.createTempDirectory("cdc-scd2-snap").toString + "/t"
    val snapshots = Seq(
      (2000L, Seq((1L, "a", 10L), (2L, "b", 20L))),
      (4000L, Seq((1L, "a2", 11L), (2L, "b3", 22L), (3L, "c", 30L), (4L, "d", 40L))),
      (5000L, Seq((1L, "a2", 11L), (3L, "c", 30L)))) // k2 AND k4 gone
    snapshots.foreach { case (tsMs, rows) =>
      val existing = Versioned.latestVersion(snapTarget)
        .map(_ => Versioned.read(spark, snapTarget))
      Versioned.commit(spark, snapTarget,
        Scd2.scd2Apply(existing, rows.toDF("id", "name", "val"),
          Seq("id"), Seq("name", "val"), new java.sql.Timestamp(tsMs)),
        mode = "overwrite")
    }
    history(snapTarget)
  }

  test("streamed CDC SCD2 history equals the full-snapshot path") {
    val streamTarget = Files.createTempDirectory("cdc-scd2").toString + "/t"
    val ck = Files.createTempDirectory("cdc-ck").toString
    stream(cdcSource(), streamTarget, ck)

    val streamed = history(streamTarget)
    val snap = snapshotHistory()
    assert(streamed === snap, "CDC-fed SCD2 diverged from the snapshot path")

    // shape: k1 two versions (one open); k2 two versions, BOTH closed
    // (v1 by the update, v2 by the delete); k3 exactly one open row —
    // the same-hash k3 update must NOT have minted a new version; k4
    // one CLOSED row — the same-ts update+delete resolves to deleted
    assert(streamed.count(_._1 == 1L) === 2)
    assert(streamed.count(r => r._1 == 2L) === 2)
    assert(streamed.filter(_._1 == 2L).forall(_._7.isDefined))
    assert(streamed.count(_._1 == 3L) === 1)
    assert(streamed.filter(_._1 == 3L).forall(_._7.isEmpty))
    assert(streamed.count(_._1 == 4L) === 1)
    assert(streamed.filter(_._1 == 4L).forall(_._7.isDefined))
  }

  test("a replayed micro-batch folds nothing twice") {
    val target = Files.createTempDirectory("cdc-scd2").toString + "/t"
    val ck = Files.createTempDirectory("cdc-ck").toString
    val src = cdcSource()
    stream(src, target, ck)
    val before = history(target)
    val versions = Versioned.versions(target)
    // Crash after batch 2's fold committed, before its commit-log entry:
    // the restart replays batch 2, whose guard is already in the manifest.
    assert(new File(ck, "commits/2").delete())
    new File(ck, "commits/.2.crc").delete()
    val replay = stream(src, target, ck)
    assert(replay.recentProgress.map(_.batchId).toSeq === Seq(2L))
    assert(history(target) === before)
    assert(Versioned.versions(target) === versions, "a replay must commit no version")
    assert(before === snapshotHistory())
  }

  test("a target left by the plain-parquet sink is refused, naming what to delete") {
    val target = Files.createTempDirectory("cdc-scd2").toString + "/t"
    val ck = Files.createTempDirectory("cdc-ck").toString
    Seq((1L, "a", 10L)).toDF("id", "name", "val").write.parquet(target)
    val marker = target + ".lastbatch"
    Files.writeString(Paths.get(marker), "0")
    val e = intercept[IllegalStateException](stream(cdcSource(), target, ck))
    Seq(target, ck, marker).foreach(p => assert(e.getMessage.contains(p), p))
    assert(Versioned.latestVersion(target).isEmpty)
  }
}
