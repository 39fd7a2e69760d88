package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row-level change feed on the versioned table: envelopes must be
  * exact per version (insert / update_preimage / update_postimage /
  * delete), compactions must skip losslessly, merges committed without
  * cdf must fail the feed loudly, vacuum must collect change files with
  * their versions — and driving Scd2.scd2ApplyChanges from the feed
  * must produce a history BYTE-IDENTICAL to snapshot-driven scd2Apply
  * over the same versions (the full Delta-CDF → dimension story). */
class VersionedChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-cf").toString + "/t"

  test("append + merge + delete emit exact envelopes") {
    val root = freshRoot()
    Versioned.commit(spark, root,
      (1 to 4).map(i => (i.toLong, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.mergeUpsert(spark, root,
      Seq((3L, "B"), (9L, "new")).toDF("id", "tag"), "id",
      statsCols = Seq("id"), cdf = true)
    Versioned.delete(spark, root, col("id") === 1L,
      statsCols = Seq("id"), cdf = true)
    val feed = Versioned.changeFeed(spark, root, 0L)
      .select(col("_commit_version"), col("_change_type"), col("id"),
        col("tag"))
      .as[(Long, String, Long, String)].collect().toSet
    val inserts = (1 to 4).map(i => (1L, "insert", i.toLong, "a")).toSet
    assert(feed === inserts ++ Set(
      (2L, "update_preimage", 3L, "a"),
      (2L, "update_postimage", 3L, "B"),
      (2L, "insert", 9L, "new"),
      (3L, "delete", 1L, "a")))
    // windowed: only the delete version
    val tail = Versioned.changeFeed(spark, root, 2L)
      .select(col("_change_type"), col("id"))
      .as[(String, Long)].collect().toSeq
    assert(tail === Seq(("delete", 1L)))
  }

  test("compaction skips losslessly; merge without cdf fails the feed") {
    val root = freshRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.compact(spark, root, targetFiles = 1, statsCols = Seq("id"))
    val upToCompact = Versioned.changeFeed(spark, root, 0L, Some(2L))
    assert(upToCompact.select("_change_type").as[String].collect().toSeq ===
      Seq("insert"))
    Versioned.mergeUpsert(spark, root, Seq((1L, "b")).toDF("id", "tag"),
      "id", statsCols = Seq("id")) // cdf left off
    val e = intercept[IllegalArgumentException] {
      Versioned.changeFeed(spark, root, 0L)
    }
    assert(e.getMessage.contains("cdf=true"))
  }

  test("vacuum collects change files with their dropped versions") {
    val root = freshRoot()
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.delete(spark, root, col("id") === 1L,
      statsCols = Seq("id"), cdf = true)
    Versioned.commit(spark, root, Seq((3L, "c")).toDF("id", "tag"),
      statsCols = Seq("id"))
    def cdfCount = {
      val d = new java.io.File(root, "cdf")
      if (!d.isDirectory) 0
      else d.listFiles().flatMap(_.listFiles())
        .count(_.getName.endsWith(".parquet"))
    }
    assert(cdfCount > 0)
    // keep only the last version: the delete's manifest drops, its
    // change files become unreferenced and are swept
    Versioned.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(cdfCount === 0)
    assert(Versioned.read(spark, root).count() === 2)
  }

  test("a feed or time-travel read positioned on a vacuumed version " +
      "fails naming VACUUM retention and the recovery path") {
    val root = freshRoot()
    (1 to 5).foreach { i =>
      Versioned.commit(spark, root, Seq((i.toLong, "v")).toDF("id", "tag"),
        statsCols = Seq("id"))
    }
    Versioned.vacuum(root, keepVersions = 2, minAgeMs = 0L)
    assert(Versioned.versions(root) === Seq(4L, 5L))
    // a feed resuming from a pre-retention position: (1, head] needs
    // manifest 2, which retention dropped
    val e = intercept[IllegalArgumentException] {
      Versioned.changesSince(spark, root, afterVersion = 1L).count()
    }
    assert(e.getMessage.contains("VACUUM retention"), e.getMessage)
    assert(e.getMessage.contains("restart"), e.getMessage)
    assert(e.getMessage.contains("5"), "must name the latest snapshot")
    // time travel to a dropped version: same rail
    val e2 = intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, root, 2L)
    }
    assert(e2.getMessage.contains("VACUUM retention"), e2.getMessage)
    // a version beyond head is diagnosed as not-yet-existing, not
    // blamed on vacuum
    val e3 = intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, root, 99L)
    }
    assert(e3.getMessage.contains("does not exist yet"), e3.getMessage)
  }

  test("feed-driven SCD2 is byte-identical to snapshot-driven SCD2") {
    val root = freshRoot()
    val tmp = Files.createTempDirectory("graft-cf-scd2")
    val bySnapshot = tmp.toString + "/snap"
    val byFeed = tmp.toString + "/feed"
    val ts = (1 to 3).map(i => java.sql.Timestamp.valueOf(s"2024-01-0$i 00:00:00"))

    // v1: initial load; v2: update + insert; v3: delete
    Versioned.commit(spark, root,
      Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.mergeUpsert(spark, root,
      Seq((2L, "B"), (9L, "new")).toDF("id", "tag"), "id",
      statsCols = Seq("id"), cdf = true)
    Versioned.delete(spark, root, col("id") === 1L,
      statsCols = Seq("id"), cdf = true)

    // each fold reads its history table and commits the result back
    def fold(hist: String)(f: Option[org.apache.spark.sql.DataFrame] =>
        org.apache.spark.sql.DataFrame): Unit =
      Versioned.commit(spark, hist,
        f(Versioned.latestVersion(hist).map(_ => Versioned.read(spark, hist))),
        mode = "overwrite")
    (1 to 3).foreach { v =>
      // snapshot path: the full table at version v
      fold(bySnapshot)(Scd2.scd2Apply(_,
        Versioned.readVersion(spark, root, v),
        Seq("id"), Seq("tag"), ts(v - 1)))
      // feed path: only version v's envelopes
      val changes = Versioned.changeFeed(spark, root, v - 1L, Some(v))
      val upserts = changes
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select("id", "tag")
      val deletes = changes.filter(col("_change_type") === "delete")
        .select("id")
      fold(byFeed)(Scd2.scd2ApplyChanges(_, upserts, deletes,
        Seq("id"), Seq("tag"), ts(v - 1)))
    }
    val a = Versioned.read(spark, bySnapshot).orderBy("scd_id", "valid_from")
      .collect().toSeq
    val b = Versioned.read(spark, byFeed).orderBy("scd_id", "valid_from")
      .collect().toSeq
    assert(a === b, "feed-driven history diverged from snapshot-driven")
    // and the history is what it should be: 1 closed (deleted id 1),
    // 1 closed + 1 open for updated id 2, opens for 3 and 9
    val open = Versioned.read(spark, byFeed).filter(col("valid_to").isNull)
      .select("id", "tag").as[(Long, String)].collect().toSet
    assert(open === Set((2L, "B"), (3L, "a"), (9L, "new")))
  }
}
