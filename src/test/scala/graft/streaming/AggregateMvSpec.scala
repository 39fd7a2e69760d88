package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.SparkSpec
import graft.Tables

/** The streamed aggregate MV must converge to the batch aggregate over
  * the same data — across multiple micro-batches, a checkpointed
  * restart, and a replayed batch. */
class AggregateMvSpec extends SparkSpec {

  /** Source, target and checkpoint dirs; the source is the events table
    * in 8 files, so maxFilesPerTrigger=4 makes 2 micro-batches. */
  private def dirs(): (String, String, String) = {
    val src = Files.createTempDirectory("graft-mv-src").toString
    val target = Files.createTempDirectory("graft-mv").resolve("mv").toString
    val ck = Files.createTempDirectory("graft-mv-ck").toString
    Tables.t(spark, sfDir, "events").repartition(8)
      .write.mode("overwrite").parquet(src)
    (src, target, ck)
  }

  private def run(src: String, target: String, ck: String) = {
    val q = Streams.aggregateMv(Streams.fileSource(spark, src), target, ck)
    q.awaitTermination()
    q
  }

  /** The oracle's formula: CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE). */
  private def batchTotals =
    Tables.t(spark, sfDir, "events")
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("expect_n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("expect_total"))

  /** Every group present on both sides with the exact count and total. */
  private def assertEqualsBatch(target: String): Unit = {
    val mv = spark.read.parquet(target)
    assert(mv.schema("n").dataType === LongType)
    assert(mv.schema("total_value").dataType === DoubleType)
    val expect = batchTotals
    val joined = mv.join(expect, Seq("event_date", "event_type"))
    assert(mv.count() === expect.count())
    assert(joined.count() === expect.count())
    assert(joined.filter(col("n") =!= col("expect_n") ||
      col("total_value") =!= col("expect_total")).count() === 0)
  }

  test("streaming aggregate MV equals the batch aggregate") {
    val (src, target, ck) = dirs()

    val first = run(src, target, ck)
    assert(first.recentProgress.map(_.batchId).toSeq === Seq(0L, 1L))

    val mv = spark.read.parquet(target)
    val batch = Tables.t(spark, sfDir, "events")
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(mv.count() === batch.count())
    val joined = mv.join(batch.withColumnRenamed("n", "expect_n"),
      Seq("event_date", "event_type"))
    assert(joined.filter(col("n") =!= col("expect_n")).count() === 0)
    assert(joined.count() === batch.count())
    assertEqualsBatch(target)

    // Restart with no new data: checkpoint prevents double-counting.
    Streams.aggregateMv(Streams.fileSource(spark, src), target, ck).awaitTermination()
    val mv2 = spark.read.parquet(target)
    assert(mv2.join(batch.withColumnRenamed("n", "expect_n"),
      Seq("event_date", "event_type"))
      .filter(col("n") =!= col("expect_n")).count() === 0)
    assertEqualsBatch(target)
  }

  test("a replayed batch neither folds twice nor loses history, also with the MV swapped out") {
    for (midSwap <- Seq(false, true)) {
      val (src, target, ck) = dirs()
      run(src, target, ck)
      // Crash after batch 1's sink write, before its commit-log entry:
      // the restart replays batch 1.
      assert(new File(ck, "commits/1").delete())
      new File(ck, "commits/.1.crc").delete()
      // Crash between the swap's two renames: target already moved to
      // .old, staging not yet in place.
      if (midSwap)
        Files.move(Paths.get(target), Paths.get(target + ".old"))
      val replay = run(src, target, ck)
      assert(replay.recentProgress.map(_.batchId).toSeq === Seq(1L), s"midSwap=$midSwap")
      assertEqualsBatch(target)
      assert(!new File(target + ".old").exists())
    }
  }

  test("an MV left by the batch-folding sink is refused, naming what to delete") {
    val (src, target, ck) = dirs()
    val marker = target + ".lastbatch"
    Files.writeString(Paths.get(marker), "1")
    val e = intercept[IllegalStateException](
      Streams.aggregateMv(Streams.fileSource(spark, src), target, ck))
    Seq(ck, target, marker).foreach(p => assert(e.getMessage.contains(p), p))
    assert(!new File(target).exists())
    assert(!new File(ck, "commits").exists())
  }
}
