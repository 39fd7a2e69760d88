package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch mutation semantics (SURVEY §2.10) on the Versioned table
  * format: M1 MERGE upsert, M2 SCD2 folds, M3 full refresh vs
  * incremental — and the reference's idempotency invariant
  * (validate.py: 3 consecutive runs ⇒ identical counts). */
class MutationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-mut").resolve("t").toString

  /** Commits the fold of the table's current history (None before the
    * first version) as an overwrite. */
  private def fold(root: String)(f: Option[DataFrame] => DataFrame): Unit =
    Versioned.commit(spark, root,
      f(Versioned.latestVersion(root).map(_ => Versioned.read(spark, root))),
      mode = "overwrite")

  test("mergeUpsert inserts, updates on key collision, and is idempotent") {
    val path = tmp()
    Versioned.commit(spark, path,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v"))
    Versioned.mergeUpsert(spark, path,
      Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("id", "name", "v"), "id")
    assert(Versioned.read(spark, path).count() === 3)
    val row2 = Versioned.read(spark, path).filter($"id" === 2).head()
    assert(row2.getAs[String]("name") === "b2")
    // Idempotency: replay the same batch 3 times, count stays 3 (M1).
    (1 to 3).foreach { _ =>
      Versioned.mergeUpsert(spark, path,
        Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("id", "name", "v"), "id")
    }
    assert(Versioned.read(spark, path).count() === 3)
  }

  test("scd2Apply opens/closes versions on change and keeps history") {
    val path = tmp()
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    fold(path)(Scd2.scd2Apply(_,
      Seq((1L, "NYC"), (2L, "LA")).toDF("loc_id", "zone"),
      Seq("loc_id"), Seq("zone"), t1))
    // Change zone of loc 1; loc 2 unchanged.
    fold(path)(Scd2.scd2Apply(_,
      Seq((1L, "Brooklyn"), (2L, "LA")).toDF("loc_id", "zone"),
      Seq("loc_id"), Seq("zone"), t2))
    val all = Versioned.read(spark, path)
    assert(all.count() === 3) // closed NYC + open Brooklyn + open LA
    val open = all.filter($"valid_to".isNull)
    assert(open.count() === 2)
    assert(open.filter($"loc_id" === 1).head().getAs[String]("zone") === "Brooklyn")
    val closed = all.filter($"valid_to".isNotNull)
    assert(closed.head().getAs[String]("zone") === "NYC")
    assert(closed.head().getAs[java.sql.Timestamp]("valid_to") === t2)
    // Idempotency: re-applying the same snapshot changes nothing.
    fold(path)(Scd2.scd2Apply(_,
      Seq((1L, "Brooklyn"), (2L, "LA")).toDF("loc_id", "zone"),
      Seq("loc_id"), Seq("zone"), t2))
    assert(Versioned.read(spark, path).count() === 3)
  }

  test("scd2ApplyChanges: delete wins when a key is in both upserts and deleteKeys") {
    val path = tmp()
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    fold(path)(Scd2.scd2ApplyChanges(_,
      Seq((1L, "NYC"), (2L, "LA")).toDF("loc_id", "zone"),
      Seq.empty[Long].toDF("loc_id"), Seq("loc_id"), Seq("zone"), t1))
    // Key 1 arrives in BOTH inputs: the delete must close its open row
    // and the overlapping upsert must NOT mint a fresh open version.
    fold(path)(Scd2.scd2ApplyChanges(_,
      Seq((1L, "Brooklyn")).toDF("loc_id", "zone"),
      Seq(1L).toDF("loc_id"), Seq("loc_id"), Seq("zone"), t2))
    val all = Versioned.read(spark, path)
    val k1 = all.filter($"loc_id" === 1).collect()
    assert(k1.length === 1, "overlapping upsert resurrected a deleted key")
    assert(k1.head.getAs[java.sql.Timestamp]("valid_to") === t2)
    assert(k1.head.getAs[String]("zone") === "NYC")
    // untouched key stays open
    assert(all.filter($"loc_id" === 2 && $"valid_to".isNull).count() === 1)
  }

  test("build: full refresh replaces, incremental merges (M3)") {
    val path = tmp()
    Versioned.commit(spark, path, Seq((1L, "x")).toDF("id", "v"))
    Versioned.mergeUpsert(spark, path, Seq((2L, "y")).toDF("id", "v"), "id")
    assert(Versioned.read(spark, path).count() === 2)
    Versioned.commit(spark, path, Seq((9L, "z")).toDF("id", "v"), mode = "overwrite")
    assert(Versioned.read(spark, path).count() === 1)
  }
}
