package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Maintenance rewrites must not drop the table's data-skipping index:
  * a bare compact / incremental OPTIMIZE / ZORDER inherits the stats
  * and bloom columns the live manifest tracks (translated through the
  * column mapping, partition columns excluded) — explicit arguments
  * still override. */
class VersionedSkipInheritSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-skipinh").toString + "/t"

  /** (statsKeys, bloomKeys) of every live file at latest. */
  private def skipKeys(root: String): (Set[String], Set[String]) = {
    val (entries, _) =
      Versioned.aggMeta(root, Versioned.latestVersion(root).get)
    (entries.flatMap(_.stats.keys).toSet,
      entries.flatMap(_.blooms.keys).toSet)
  }

  private def seed(root: String): Unit =
    (0 until 3).foreach { k =>
      Versioned.commit(spark, root,
        (k * 100 until (k + 1) * 100)
          .map(i => (i.toLong, s"u$i", s"d${i % 2}"))
          .toDF("id", "user", "day").coalesce(1),
        statsCols = Seq("id", "user"), bloomCols = Seq("user"),
        partitionBy = Seq("day"))
    }

  test("bare compact keeps stats AND blooms; pruning still works on " +
      "the compacted layout") {
    val root = freshRoot()
    seed(root)
    Versioned.compact(spark, root, targetFiles = 2)
    val (stats, blooms) = skipKeys(root)
    assert(stats.contains("id") && stats.contains("user") &&
      stats.contains("day"))
    assert(blooms === Set("user"))
    // the inherited index PRUNES: a bloom point-lookup on a missing
    // user hits zero files
    val v = Versioned.latestVersion(root).get
    assert(Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("user", Some("nope"), Some("nope"))))
      .isEmpty)
    // explicit narrowing still wins, per argument: stats narrow to
    // the given set while the bloom index (not overridden) inherits
    Versioned.compact(spark, root, statsCols = Seq("id"))
    val (stats2, blooms2) = skipKeys(root)
    assert(!stats2.contains("user") && stats2.contains("id"))
    assert(blooms2 === Set("user"))
  }

  test("bare zorder unions the inherited index with the clustering " +
      "columns; bare incremental OPTIMIZE re-records it on packed files") {
    val root = freshRoot()
    seed(root)
    Versioned.zorder(spark, root, Seq("user"), nOut = 2)
    val (zs, zb) = skipKeys(root)
    assert(zs.contains("id") && zs.contains("user") && zb === Set("user"))
    // three more tiny commits → small-file debt for optimize to pack
    (3 until 5).foreach { k =>
      Versioned.commit(spark, root,
        (k * 100 until (k + 1) * 100)
          .map(i => (i.toLong, s"u$i", s"d${i % 2}"))
          .toDF("id", "user", "day").coalesce(1),
        statsCols = Seq("id"), bloomCols = Seq("user"),
        partitionBy = Seq("day"))
    }
    Versioned.optimize(spark, root, targetBytes = 1L << 30)
    val (os, ob) = skipKeys(root)
    assert(os.contains("id") && ob === Set("user"))
    // contents identical through all three rewrites
    assert(Versioned.read(spark, root).count() === 500L)
  }

  test("inheritance translates through the column mapping: stats " +
      "recorded under an old physical name survive a rename + compact " +
      "under the NEW logical name") {
    val root = freshRoot()
    Versioned.commit(spark, root,
      (0 until 50).map(i => (i.toLong, i * 2L)).toDF("id", "metric")
        .coalesce(1), statsCols = Seq("metric"))
    Versioned.renameColumn(spark, root, "metric", "score")
    Versioned.compact(spark, root)
    val (stats, _) = skipKeys(root)
    // canonicalized: the key is now the logical (new) name
    assert(stats.contains("score") && !stats.contains("metric"))
    val v = Versioned.latestVersion(root).get
    assert(Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("score", Some(2000L), Some(3000L))))
      .isEmpty)
  }
}
