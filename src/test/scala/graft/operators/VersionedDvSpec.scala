package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Positional deletion vectors must remove exactly the rows matching
  * the condition AT DELETE TIME (frozen set — later appends that would
  * match are untouched), write zero data files, merge across repeated
  * deletes, materialize on compact, refuse copy-on-write verbs while
  * pending, replay as row-level delete envelopes in the change feed
  * (envelope-identical to the copy-on-write feed), and hold through
  * pruned reads, restore, and the registered data source. A manifest
  * in the retired predicate-delete form is refused, never read past. */
class VersionedDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-vdv").toString + "/t"

  private def pendingDeletes(root: String, v: Long): Long =
    Versioned.history(spark, root).filter(col("version") === v)
      .select("num_pending_deletes").as[Long].head()

  private def dataFiles(root: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(root, "data"))
  }

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, i * 1.0)).toDF("id", "tag", "v")

  test("exact rows vanish, zero files written, nulls kept, time travel intact") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 100, "a").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root,
      Seq((200L, null.asInstanceOf[String], 1.0), (201L, "b", 2.0))
        .toDF("id", "tag", "v").coalesce(1), statsCols = Seq("id"))
    val before = dataFiles(root)
    val v = Versioned.deleteRows(spark, root,
      col("id") % 10 === 0 && col("tag") === "a")
    assert(dataFiles(root) === before, "DV delete must write no data file")
    val got = Versioned.read(spark, root)
    assert(got.count() === 92, "10 matched rows removed of 102")
    assert(got.filter(col("id") % 10 === 0 && col("id") <= 100).count() === 0)
    // cond = NULL (null tag) keeps the row — SQL DELETE semantics
    assert(got.filter(col("id") === 200).count() === 1)
    assert(Versioned.readVersion(spark, root, v - 1).count() === 102,
      "pre-delete snapshot unchanged")
  }

  test("the deleted set is FROZEN: later matching appends are untouched") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 50, "a").coalesce(1),
      statsCols = Seq("id"))
    Versioned.deleteRows(spark, root, col("v") < 10.0)
    assert(Versioned.read(spark, root).count() === 41)
    // rows that WOULD match the predicate arrive later — a positional
    // delete must not touch them
    val v = Versioned.commit(spark, root, rows(51 to 60, "late")
      .withColumn("v", lit(1.0)).coalesce(1))
    assert(Versioned.read(spark, root)
      .filter(col("tag") === "late").count() === 10,
      "late matching rows must survive a frozen positional delete")
    // the append carried the pending vector on the first file
    assert(pendingDeletes(root, v) === 1L)
  }

  test("repeated deletes merge vectors; no-op match publishes nothing") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 30, "a").coalesce(1),
      statsCols = Seq("id"))
    val v1 = Versioned.deleteRows(spark, root, col("id") <= 5)
    val v2 = Versioned.deleteRows(spark, root, col("id") > 25)
    assert(v2 === v1 + 1)
    assert(Versioned.read(spark, root).as[(Long, String, Double)]
      .collect().map(_._1).sorted.toSeq === (6L to 25L))
    // provably out-of-range: stats prune every candidate, nothing publishes
    assert(Versioned.deleteRows(spark, root, col("id") > 1000) === v2)
    // already-deleted rows: candidates survive stats but no row matches
    assert(Versioned.deleteRows(spark, root, col("id") <= 5) === v2)
  }

  test("compact materializes vectors; CoW verbs refuse while pending") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 40, "a").coalesce(1),
      statsCols = Seq("id"))
    Versioned.deleteRows(spark, root, col("id") <= 10)
    val eM = intercept[IllegalArgumentException] {
      Versioned.mergeUpsert(spark, root,
        Seq((20L, "x", 0.0)).toDF("id", "tag", "v"), "id")
    }
    assert(eM.getMessage.contains("deletion vector"))
    val eD = intercept[IllegalArgumentException] {
      Versioned.delete(spark, root, col("id") === 20L)
    }
    assert(eD.getMessage.contains("deletion vector"))
    assert(pendingDeletes(root, 2) === 1L)
    val vc = Versioned.compact(spark, root)
    assert(Versioned.read(spark, root).count() === 30)
    assert(pendingDeletes(root, vc) === 0L)
    // cleared: CoW works again and rows stay gone
    Versioned.delete(spark, root, col("id") === 20L)
    assert(Versioned.read(spark, root).count() === 29)
  }

  test("optimize carries vectors on carried files, materializes packed ones") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 2000, "big").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root, rows(2001 to 2010, "small1").coalesce(1))
    Versioned.commit(spark, root, rows(2011 to 2020, "small2").coalesce(1))
    Versioned.deleteRows(spark, root,
      col("id").isin(5L, 2005L, 2015L))
    // pack only the small files; the big file (with a vector) carries
    val bigBytes = new java.io.File(root, Versioned.files(root, 1).head)
      .length()
    val v = Versioned.optimize(spark, root, targetBytes = bigBytes)
    val got = Versioned.read(spark, root)
    assert(got.count() === 2017)
    assert(got.filter(col("id").isin(5L, 2005L, 2015L)).count() === 0,
      "deletes must hold through carried AND packed files")
    // the packed files' vectors materialized; the big file's stays
    assert(pendingDeletes(root, v) === 1L)
  }

  test("readPruned, the path source, and restore honour pending vectors") {
    val root = freshRoot()
    Seq(1 to 10, 11 to 20).foreach { r =>
      Versioned.commit(spark, root, rows(r, "a").coalesce(1),
        statsCols = Seq("id"))
    }
    val vDel = Versioned.deleteRows(spark, root, col("id") === 15L)
    // only the second file carries the vector
    assert(Versioned.readPruned(spark, root, "id", 11L, 20L).count() === 9)
    assert(Versioned.readPruned(spark, root, "id", 1L, 10L).count() === 10)
    val viaSource = spark.read.format(graft.sources.VersionedSource.Name)
      .option("path", root).load()
    assert(viaSource.count() === 19)
    assert(viaSource.filter(col("id") === 15L).count() === 0)
    // restore to the DV-pending version keeps its vectors
    Versioned.commit(spark, root, rows(100 to 100, "x"),
      statsCols = Seq("id"))
    val vRestored = Versioned.restore(root, vDel)
    assert(Versioned.read(spark, root).count() === 19)
    assert(pendingDeletes(root, vRestored) === 1L)
  }

  test("the DV change feed is envelope-identical to copy-on-write") {
    def build(root: String, dv: Boolean): Unit = {
      Versioned.commit(spark, root,
        (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "tag"),
        statsCols = Seq("id"))
      if (dv) Versioned.deleteRows(spark, root, col("id") % 3 === 0)
      else Versioned.delete(spark, root, col("id") % 3 === 0,
        statsCols = Seq("id"), cdf = true)
    }
    val a = freshRoot(); build(a, dv = true)
    val b = freshRoot(); build(b, dv = false)
    def feed(root: String) = Versioned.changeFeed(spark, root, 0L)
      .select("_commit_version", "_change_type", "id", "tag")
      .as[(Long, String, Long, String)].collect().toSet
    assert(feed(a) === feed(b), "DV envelopes diverge from copy-on-write")
    assert(feed(a).count(_._2 == "delete") === 3)
  }

  test("a manifest carrying predicate deletes is refused, naming compact") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 10, "a").coalesce(1),
      statsCols = Seq("id"))
    VersionedDvSpec.writePredicateDeleteManifest(root)
    val e = intercept[IllegalArgumentException] {
      Versioned.read(spark, root)
    }
    assert(e.getMessage.contains("predicate merge-on-read"), e.getMessage)
    assert(e.getMessage.contains("compact the table first"), e.getMessage)
    // the version before it still reads
    assert(Versioned.readVersion(spark, root, 1).count() === 10)
  }

  test("REORG APPLY (PURGE): only the heavily-deleted file rewrites; " +
      "lightly-deleted files carry by identity WITH their vectors; " +
      "time travel and the change feed stay consistent") {
    val root = freshRoot()
    // three one-file commits: a → 50% deleted, b → 1% deleted, c → clean
    Versioned.commit(spark, root, rows(1 to 100, "a").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root, rows(101 to 200, "b").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root, rows(201 to 300, "c").coalesce(1),
      statsCols = Seq("id"))
    Versioned.deleteRows(spark, root,
      col("tag") === "a" && col("id") % 2 === 0)
    Versioned.deleteRows(spark, root, col("id") === 101L)
    val vBefore = Versioned.latestVersion(root).get
    val before = Versioned.files(root, vBefore)
    val v = Versioned.reorg(spark, root, minDeletedFraction = 0.1)
    assert(v > vBefore, "a crossing file must publish a new version")
    val after = Versioned.files(root, v)
    assert(before.toSet.intersect(after.toSet).size === 2,
      "exactly the lightly-deleted and clean files carry by identity")
    // live rows identical before and after the reorg
    val got = Versioned.read(spark, root)
    assert(got.count() === 249)
    assert(got.filter(col("tag") === "a" && col("id") % 2 === 0)
      .count() === 0)
    // the CARRIED light vector still applies after the reorg
    assert(got.filter(col("id") === 101).count() === 0)
    // time travel: the pre-reorg snapshot is untouched
    assert(Versioned.readVersion(spark, root, vBefore).count() === 249)
    // the change feed skips the row-identical reorg losslessly
    assert(Versioned.changeFeed(spark, root, vBefore, Some(v))
      .count() === 0)
    // nothing above threshold now → publishes nothing
    assert(Versioned.reorg(spark, root, minDeletedFraction = 0.1) === v)
    // the SQL dispatcher verb: delete half of c, purge it by statement
    Versioned.deleteRows(spark, root,
      col("tag") === "c" && col("id") % 2 === 1)
    val out = VersionedSql(spark, s"REORG TABLE `$root` APPLY (PURGE)")
    assert(out.select("verb").as[String].head() === "reorg")
    val vAfterSql = Versioned.latestVersion(root).get
    assert(vAfterSql > v + 1, "the statement must have published")
    assert(Versioned.read(spark, root).count() === 199)
  }

  test("change feed replays dv deletes as row-level envelopes, per window") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 20, "a").coalesce(1),
      statsCols = Seq("id"))
    val v2 = Versioned.deleteRows(spark, root, col("id") <= 3)
    val v3 = Versioned.deleteRows(spark, root, col("id") === 10L)
    val w1 = Versioned.changeFeed(spark, root, 1, Some(v2))
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(w1 === Seq(1L, 2L, 3L), "window 1 emits exactly its delta")
    val w2 = Versioned.changeFeed(spark, root, v2, Some(v3))
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq
    assert(w2 === Seq(10L), "window 2 emits only the new positions")
  }

  test("wide deletes write executor sidecars — positions never inline " +
      "in the manifest, rows exact, feed and source unaffected") {
    val root = freshRoot()
    // 30k rows across several files; delete 15k of them — far past the
    // inline threshold, so the positions MUST land in dv/ parquet
    // sidecars written by executors, and the manifest must carry only
    // their paths (the driver sees per-file entries, never positions)
    Versioned.commit(spark, root,
      rows(1 to 30000, "a").repartition(4), statsCols = Seq("id"))
    val before = dataFiles(root)
    val v = Versioned.deleteRows(spark, root, col("id") % 2 === 0)
    assert(dataFiles(root) === before, "DV delete writes no DATA file")
    val dvDir = new java.io.File(root, "dv")
    assert(dvDir.isDirectory && dvDir.listFiles().nonEmpty,
      "wide delete must write position sidecars under dv/")
    val manifest = Files.readString(
      new java.io.File(root, f"_graft_log/v$v%012d.json").toPath)
    assert(manifest.contains("\"sidecars\""),
      "manifest must reference sidecar paths")
    assert(!manifest.contains("\"positions\" : [ 1,"),
      "wide positions must not inline")
    // the manifest JSON itself stays O(files), not O(deleted rows)
    assert(manifest.length < 100 * 1024,
      s"manifest must stay small (got ${manifest.length} bytes)")
    val got = Versioned.read(spark, root)
    assert(got.count() === 15000)
    assert(got.filter(col("id") % 2 === 0).count() === 0)
    // a later INLINE point delete merges with the sidecar vectors
    val v2 = Versioned.deleteRows(spark, root, col("id") === 7L)
    assert(Versioned.read(spark, root).count() === 14999)
    // change feed windows: wide sidecar window then point window
    val w1 = Versioned.changeFeed(spark, root, 1, Some(v))
      .filter(col("_change_type") === "delete").count()
    assert(w1 === 15000L, "wide window replays every sidecar position")
    val w2 = Versioned.changeFeed(spark, root, v, Some(v2))
      .select("id").as[Long].collect().toSeq
    assert(w2 === Seq(7L), "point window replays only the new position")
    // registered source sees the same live set
    val src = spark.read.format(graft.sources.VersionedSource.Name)
      .option("path", root).load()
    assert(src.count() === 14999)
    // compact materializes; vacuum then sweeps the unreferenced sidecars
    Versioned.compact(spark, root)
    assert(Versioned.read(spark, root).count() === 14999)
    Versioned.vacuum(root, keepVersions = 1, minAgeMs = 0)
    def walkCount(f: java.io.File): Int =
      if (!f.exists()) 0
      else if (f.isDirectory) f.listFiles().map(walkCount).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    assert(walkCount(dvDir) === 0,
      "vacuum must sweep sidecars no retained manifest references")
  }

  test("the registered data source honors deletion vectors") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(1 to 50, "a").coalesce(1),
      statsCols = Seq("id"))
    Versioned.deleteRows(spark, root, col("id").between(10, 19))
    val df = spark.read.format(graft.sources.VersionedSource.Name)
      .option("path", root).load()
    assert(df.count() === 40)
    assert(df.filter(col("id") === 15).count() === 0)
    // pushed point lookup on a surviving row still works
    assert(df.filter(col("id") === 25).count() === 1)
  }
}

object VersionedDvSpec {
  /** Publish, by hand, the next version of `root` in the retired
    * predicate merge-on-read form: the latest manifest plus a `mor`
    * array naming one predicate over its first file. */
  def writePredicateDeleteManifest(root: String): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val v = Versioned.latestVersion(root).get
    val log = new java.io.File(root, "_graft_log")
    val mapper = new ObjectMapper()
    val node = mapper.readTree(new java.io.File(log, f"v$v%012d.json"))
      .asInstanceOf[ObjectNode]
    node.put("version", v + 1)
    node.put("action", "mor-delete")
    val pending = node.putArray("mor").addObject()
    pending.put("pred", "(id = 2)")
    pending.putArray("files").add(Versioned.files(root, v).head)
    mapper.writeValue(new java.io.File(log, f"v${v + 1}%012d.json"), node)
  }
}
