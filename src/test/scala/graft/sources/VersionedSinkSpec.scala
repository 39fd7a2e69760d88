package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Versioned

/** `writeStream.format("graft-versioned")`: micro-batches land as
  * atomic manifest commits with the in-manifest replay guard
  * (exactly-once across checkpoint restarts), Complete mode maps to
  * overwrite commits (the aggregate-MV shape), and source + sink
  * compose into table-to-table CDC replication through nothing but the
  * standard reader/writer API. */
class VersionedSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("append sink is exactly-once across checkpoint restarts") {
    val src = tmp("graft-vsink-src")
    val table = tmp("graft-vsink") + "/t"
    val ck = tmp("graft-vsink-ck")
    (1 to 6).map(i => (i.toLong, s"r$i")).toDF("id", "tag")
      .coalesce(2).write.mode("overwrite").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.format(VersionedSource.Name)
        .option("path", table).option("checkpointLocation", ck)
        .option("statsCols", "id")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(Versioned.read(spark, table).as[(Long, String)].collect().toSet ===
      (1 to 6).map(i => (i.toLong, s"r$i")).toSet)
    val versionsAfterFirst = Versioned.versions(table).size
    drain() // same checkpoint, no new files ⇒ no new commits, no dupes
    assert(Versioned.versions(table).size === versionsAfterFirst)
    assert(Versioned.read(spark, table).count() === 6)
  }

  test("Complete mode overwrites the snapshot per trigger") {
    val src = tmp("graft-vsink-src2")
    val table = tmp("graft-vsink2") + "/t"
    val ck = tmp("graft-vsink-ck2")
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy("k").agg(sum("v").as("total"))
      .writeStream.format(VersionedSource.Name)
      .outputMode("complete")
      .option("path", table).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(Versioned.read(spark, table).as[(String, Long)].collect().toSet ===
      Set(("a", 4L), ("b", 2L)))
  }

  test("source + sink = table-to-table CDC replication, exactly-once") {
    val a = tmp("graft-repl-a") + "/t"
    val b = tmp("graft-repl-b") + "/t"
    val ck = tmp("graft-repl-ck")
    Versioned.commit(spark, a,
      (1 to 3).map(i => (i.toLong, "x")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.mergeUpsert(spark, a, Seq((2L, "y"), (9L, "n")).toDF("id", "tag"),
      "id", statsCols = Seq("id"), cdf = true)
    def replicate(): Unit = {
      val q = spark.readStream.format(VersionedSource.Name)
        .option("path", a).load()
        // the change feed: the envelope metadata columns projected
        .select(col("*"), col("_change_type"), col("_commit_version"))
        // replicate the post-state rows: inserts + update postimages
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select("id", "tag", "_commit_version")
        .writeStream.format(VersionedSource.Name)
        .option("path", b).option("checkpointLocation", ck)
        .option("statsCols", "id")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    replicate()
    val expected = Set((1L, "x", 1L), (2L, "x", 1L), (3L, "x", 1L),
      (2L, "y", 2L), (9L, "n", 2L))
    assert(Versioned.read(spark, b).as[(Long, String, Long)]
      .collect().toSet === expected)
    replicate() // nothing new ⇒ byte-stable
    assert(Versioned.read(spark, b).count() === 5)
    // one more commit upstream flows through, once
    Versioned.commit(spark, a, Seq((20L, "z")).toDF("id", "tag"),
      statsCols = Seq("id"))
    replicate(); replicate()
    assert(Versioned.read(spark, b).as[(Long, String, Long)]
      .collect().toSet === expected + ((20L, "z", 3L)))
  }
}
