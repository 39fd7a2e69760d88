package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** OPTIMIZE ZORDER on the versioned table must keep contents identical
  * while making manifest-stats pruning effective on EVERY clustered
  * column, and must materialize pending merge-on-read deletes like any
  * full rewrite. */
class VersionedZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-vzorder").toString + "/t"

  // id ascending, y decorrelated: committed in id-sliced batches, so
  // pre-zorder every file spans nearly the FULL y range
  private def rows(ids: Range) =
    ids.map(i => (i.toLong, ((i * 2654435761L) % 1000L), s"p-$i"))
      .toDF("id", "y", "payload")

  test("zorder keeps rows identical and makes y-range pruning effective") {
    val root = freshRoot()
    (0 until 4).foreach { s =>
      Versioned.commit(spark, root,
        rows(s * 1000 until (s + 1) * 1000).coalesce(1),
        statsCols = Seq("id", "y"))
    }
    val before = Versioned.latestVersion(root).get
    assert(Versioned.candidateFilesForBounds(root, before,
      Seq(Versioned.ColumnBound("y", Some(100L), Some(150L)))).size === 4,
      "id-sliced files all span the y range — no y pruning before zorder")
    val want = Versioned.read(spark, root)
      .as[(Long, Long, String)].collect().toSet

    val v = Versioned.zorder(spark, root, Seq("id", "y"), nOut = 8)
    assert(Versioned.files(root, v).size > 1, "zorder kept a multi-file layout")
    val got = Versioned.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    assert(got === want, "zorder must be row-identical")

    val prunedY = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("y", Some(100L), Some(150L)))).size
    val prunedId = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("id", Some(0L), Some(400L)))).size
    val total = Versioned.files(root, v).size
    assert(prunedY < total,
      s"y-range pruning must skip files after zorder ($prunedY of $total)")
    assert(prunedId < total,
      s"id-range pruning must survive zorder ($prunedId of $total)")
    // time travel to the pre-zorder layout still works
    assert(Versioned.readVersion(spark, root, before).count() === 4000)
  }

  test("zorder materializes pending merge-on-read deletes") {
    val root = freshRoot()
    Versioned.commit(spark, root, rows(0 until 2000).coalesce(2),
      statsCols = Seq("id", "y"))
    Versioned.deleteRows(spark, root, col("id") < 100)
    val v = Versioned.zorder(spark, root, Seq("id", "y"), nOut = 4)
    assert(Versioned.read(spark, root).count() === 1900)
    assert(Versioned.read(spark, root).agg(min("id")).as[Long].head() === 100L)
    // the rewrite cleared the pending vectors: a copy-on-write verb
    // that refuses under pending vectors must now succeed
    Versioned.delete(spark, root, col("id") === 100L)
    assert(Versioned.read(spark, root).count() === 1899)
    assert(Versioned.latestVersion(root).get === v + 1)
  }
}
