package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, Or, StringStartsWith}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Versioned

/** The `graft-versioned` data source: a DSv2 `TableProvider` over the
  * catalog's `GraftTable`. Batch: reads ≡ the Versioned API, time
  * travel via versionAsOf/timestampAsOf, a filtered read plans the
  * native `BatchScan` whose pushed filters prune FILES from manifest
  * stats (asserted on the translation AND the candidate set) while
  * results stay exact, scan statistics come from the manifest so a
  * small table broadcasts. Streaming: table rows by default; with the
  * `_change_type`/`_commit_version` metadata columns projected,
  * micro-batches are the exact change feed, offsets are versions,
  * checkpoint restart is exactly-once, maxVersionsPerTrigger splits
  * versions across triggers. */
class VersionedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-vsrc").toString + "/t"

  /** Three appends with disjoint id ranges (one file each, id stats),
    * so pruning decisions are exactly predictable. */
  private def threeRangeTable(): String = {
    val root = freshRoot()
    Seq(0L until 10L, 10L until 20L, 20L until 30L).foreach { r =>
      Versioned.commit(spark, root,
        r.map(i => (i, s"row$i")).toDF("id", "tag").coalesce(1),
        statsCols = Seq("id"))
    }
    root
  }

  test("batch read equals the Versioned API, including versionAsOf") {
    val root = threeRangeTable()
    val viaSource = spark.read.format(VersionedSource.Name)
      .option("path", root).load()
    assert(viaSource.as[(Long, String)].collect().toSet ===
      Versioned.read(spark, root).as[(Long, String)].collect().toSet)
    val v1 = spark.read.format(VersionedSource.Name)
      .option("path", root).option("versionAsOf", 1).load()
    assert(v1.as[(Long, String)].collect().toSet ===
      (0L until 10L).map(i => (i, s"row$i")).toSet)
  }

  test("time travel by timestampAsOf accepts an ISO instant; " +
      "versionAsOf with timestampAsOf is refused") {
    val root = threeRangeTable()
    def at(k: String, v: String) = spark.read.format(VersionedSource.Name)
      .option("path", root).option(k, v).load()
    val now = java.time.Instant.now()
    assert(at("timestampAsOf", now.toString).count() === 30L)
    assert(at("timestampAsOf", now.toEpochMilli.toString).count() === 30L)
    // before the first commit there is no snapshot
    val early = intercept[IllegalArgumentException] {
      at("timestampAsOf", "2001-01-01T00:00:00Z").count()
    }
    assert(early.getMessage.contains("predates"), early.getMessage)
    val both = intercept[IllegalArgumentException] {
      spark.read.format(VersionedSource.Name).option("path", root)
        .option("versionAsOf", 1).option("timestampAsOf", now.toString)
        .load()
    }
    assert(both.getMessage.contains(
      "set versionAsOf OR timestampAsOf, not both"), both.getMessage)
  }

  test("a filtered read plans the native DSv2 BatchScan, no V1 relation") {
    val root = threeRangeTable()
    val df = spark.read.format(VersionedSource.Name).option("path", root)
      .load().filter(col("id") >= 10L && col("id") <= 12L)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size === 1, plan.toString)
    assert(scans.head.scan.isInstanceOf[GraftRowLevelScan], plan.toString)
    val desc = scans.head.scan.description()
    // the pushed range is visible, and it pruned two of three files
    assert(desc.contains("1 files") && desc.contains("GreaterThanOrEqual(id,10)") &&
      desc.contains("LessThanOrEqual(id,12)"), desc)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isEmpty, df.queryExecution.optimizedPlan.toString)
    assert(!plan.toString.contains("Relation"), plan.toString)
    assert(df.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      Seq(10L, 11L, 12L))
  }

  test("pushed filters translate to stats bounds and prune files") {
    val root = threeRangeTable()
    // the translation itself
    val b = VersionedSource.bounds(Seq(
      And(GreaterThanOrEqual("id", 10L), LessThanOrEqual("id", 12L)),
      IsNotNull("id"),
      Or(EqualTo("id", 1L), EqualTo("id", 2L)), // Or implies no bound
      StringStartsWith("tag", "row")))          // no bound either
    assert(b === Seq(
      Versioned.ColumnBound("id", Some(10L), None),
      Versioned.ColumnBound("id", None, Some(12L)),
      Versioned.nullBound("id", isNull = false)))
    // the candidate set those bounds select: only the middle file
    val v = Versioned.latestVersion(root).get
    val all = Versioned.candidateFilesForBounds(root, v, Nil)
    assert(all.size === 3)
    val pruned = Versioned.candidateFilesForBounds(root, v, b)
    assert(pruned.size === 1, s"expected 1 candidate file, got $pruned")
    // end-to-end through the reader: exact rows despite the pruning
    val got = spark.read.format(VersionedSource.Name).option("path", root)
      .load().filter(col("id") >= 10L && col("id") <= 12L)
    assert(got.as[(Long, String)].collect().toSet ===
      (10L to 12L).map(i => (i, s"row$i")).toSet)
    // a filter on a stats-less column prunes nothing but stays correct
    val byTag = spark.read.format(VersionedSource.Name).option("path", root)
      .load().filter(col("tag") === "row25")
    assert(byTag.as[(Long, String)].collect().toSeq === Seq((25L, "row25")))
    // a filter excluding every file yields empty, not an error
    assert(spark.read.format(VersionedSource.Name).option("path", root)
      .load().filter(col("id") > 1000L).count() === 0L)
  }

  test("df.write.format(...) batch writes: append, overwrite, " +
      "ErrorIfExists default, Ignore, and option-carried stats") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-vsrc-w").toString + "/t"
    def w(df: org.apache.spark.sql.DataFrame) =
      df.write.format(VersionedSource.Name).option("path", root)
        .option("statsCols", "id")
    w((1 to 50).map(i => (i.toLong, s"t$i")).toDF("id", "tag").coalesce(1))
      .mode("append").save()
    w((51 to 60).map(i => (i.toLong, s"t$i")).toDF("id", "tag").coalesce(1))
      .mode("append").save()
    val back = spark.read.format(VersionedSource.Name)
      .option("path", root).load()
    assert(back.count() === 60)
    // save()'s DEFAULT mode refuses an existing table loudly
    val e = intercept[Throwable] {
      ((1 to 5).map(i => (i.toLong, "x")).toDF("id", "tag").write
        .format(VersionedSource.Name).option("path", root).save())
    }
    assert(e.getMessage.contains("already exists"))
    // Ignore is a no-op on an existing table
    ((1 to 5).map(i => (i.toLong, "x")).toDF("id", "tag").write
      .format(VersionedSource.Name).option("path", root)
      .mode("ignore").save())
    assert(spark.read.format(VersionedSource.Name).option("path", root)
      .load().count() === 60)
    // stats carried through the option prune reads
    val v = Versioned.latestVersion(root).get
    assert(Versioned.candidateFiles(root, v, "id", 55L, 58L).size === 1)
    // overwrite replaces the snapshot; history stays travelable
    ((100 to 109).map(i => (i.toLong, "ow")).toDF("id", "tag").write
      .format(VersionedSource.Name).option("path", root)
      .mode("overwrite").save())
    assert(spark.read.format(VersionedSource.Name).option("path", root)
      .load().count() === 10)
    assert(spark.read.format(VersionedSource.Name).option("path", root)
      .option("versionAsOf", v.toString).load().count() === 60)
    // option-carried hive partitioning
    val proot = Files.createTempDirectory("graft-vsrc-wp").toString + "/t"
    ((1 to 20).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "part").write
      .format(VersionedSource.Name).option("path", proot)
      .option("partitionBy", "part").mode("append").save())
    val pv = Versioned.latestVersion(proot).get
    assert(Versioned.candidateFiles(proot, pv, "part", "p1", "p1")
      .size < Versioned.files(proot, pv).size,
      "partition tuples must prune like stats")
  }

  test("IS NULL pushes down to null-count stats and prunes null-free files") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-vsrc-null").toString + "/t"
    Versioned.commit(spark, root,
      (1 to 50).map(i => (i.toLong, s"t$i")).toDF("id", "tag").coalesce(1),
      statsCols = Seq("id", "tag"))
    Versioned.commit(spark, root,
      (51 to 60).map(i => (i.toLong,
        if (i % 2 == 0) null else s"t$i")).toDF("id", "tag").coalesce(1),
      statsCols = Seq("id", "tag"))
    val v = Versioned.latestVersion(root).get
    val pruned = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.nullBound("tag", isNull = true)))
    assert(pruned.size === 1,
      s"IS NULL must prune the null-free file, got $pruned")
    // end-to-end: exact rows through the reader
    val got = spark.read.format(VersionedSource.Name).option("path", root)
      .load().filter(col("tag").isNull)
    assert(got.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      (51 to 60).filter(_ % 2 == 0).map(_.toLong))
  }

  test("projection narrows the scan schema") {
    val root = threeRangeTable()
    val only = spark.read.format(VersionedSource.Name).option("path", root)
      .load().select("tag").filter(col("tag") === "row7")
    assert(only.as[String].collect().toSeq === Seq("row7"))
    // zero-column scan (plain count) exercises empty requiredColumns
    assert(spark.read.format(VersionedSource.Name).option("path", root)
      .load().count() === 30L)
  }

  test("sizeInBytes is manifest truth and small tables broadcast") {
    val root = threeRangeTable()
    val v = Versioned.latestVersion(root).get
    val dim = spark.read.format(VersionedSource.Name).option("path", root).load()
    val scan = dim.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.get
    val stats = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val (bytes, rows) = Versioned.tableStats(root, v)
    assert(stats.sizeInBytes().getAsLong === bytes)
    assert(stats.numRows().getAsLong === rows)
    assert(bytes > 0L && rows === 30L)
    // a few KB of dimension ⇒ Catalyst picks broadcast from metadata
    val fact = spark.range(1000).withColumnRenamed("id", "id")
    val plan = fact.join(dim, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast in:\n$plan")
  }

  test("write failure paths: save() on an unborn root creates it, " +
      "then refuses; Ignore is a no-op; a read of an unborn root names it") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      spark.read.format(VersionedSource.Name).option("path", root).load()
    }
    assert(e.getMessage.contains(s"no versions at $root"), e.getMessage)
    val df = (1 to 5).map(i => (i.toLong, "x")).toDF("id", "tag")
    df.write.format(VersionedSource.Name).option("path", root).save()
    assert(Versioned.versions(root) === Seq(1L))
    val again = intercept[Throwable] {
      df.write.format(VersionedSource.Name).option("path", root).save()
    }
    assert(again.getMessage.contains("already exists"), again.getMessage)
    df.write.format(VersionedSource.Name).option("path", root)
      .mode("ignore").save()
    assert(Versioned.versions(root) === Seq(1L))
  }

  test("a first Complete-mode writeStream to an unborn root commits, " +
      "and a restart that re-runs the epoch commits nothing") {
    val src = Files.createTempDirectory("graft-vsrc-csrc").toString
    val root = freshRoot()
    val ck = Files.createTempDirectory("graft-vsrc-cck").toString
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .groupBy("k").agg(sum("v").as("total"))
        .writeStream.format(VersionedSource.Name).outputMode("complete")
        .option("path", root).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(Versioned.versions(root) === Seq(1L))
    assert(Versioned.read(spark, root).as[(String, Long)].collect().toSet ===
      Set(("a", 4L), ("b", 2L)))
    // a crash between the sink's commit and the checkpoint's: the
    // restart re-runs epoch 0 under the query id the checkpoint keeps,
    // and the (queryId, epochId) guard in the manifest skips it
    Seq("commits/0", "commits/.0.crc").foreach(f => new java.io.File(ck, f).delete())
    run()
    assert(Versioned.versions(root) === Seq(1L),
      "a replayed epoch must not commit again")
    assert(Versioned.read(spark, root).as[(String, Long)].collect().toSet ===
      Set(("a", 4L), ("b", 2L)))
  }

  // -------------------------------------------------------- streaming

  /** The change feed of a path stream: the table's columns plus the
    * projected envelope metadata columns. */
  private def feed(root: String, opts: (String, String)*) =
    spark.readStream.format(VersionedSource.Name).option("path", root)
      .options(opts.toMap).load()
      .select(col("*"), col("_change_type"), col("_commit_version"))

  /** commit → merge(cdf) → delete(cdf): versions 1..3. */
  private def cdcTable(): String = {
    val root = freshRoot()
    Versioned.commit(spark, root,
      (1 to 4).map(i => (i.toLong, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.mergeUpsert(spark, root,
      Seq((3L, "B"), (9L, "new")).toDF("id", "tag"), "id",
      statsCols = Seq("id"), cdf = true)
    Versioned.delete(spark, root, col("id") === 1L,
      statsCols = Seq("id"), cdf = true)
    root
  }

  test("a path stream serves rows by default, on the native DSv2 stream") {
    val root = cdcTable()
    var sourceDesc: Seq[String] = Nil
    def rows(opts: (String, String)*): Set[(Long, String)] = {
      val name = s"vrows_${System.nanoTime()}"
      val q = spark.readStream.format(VersionedSource.Name)
        .option("path", root).options(opts.toMap).load()
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable()
      finally {
        sourceDesc = q.recentProgress.toSeq.flatMap(_.sources.map(_.description))
        q.stop()
      }
      spark.table(name).as[(Long, String)].collect().toSet
    }
    // v2 is a merge: a row stream cannot represent its removals
    val e = intercept[Exception](rows())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("skipChangeCommits"), msgs)
    assert(rows("skipChangeCommits" -> "true") ===
      (1 to 4).map(i => (i.toLong, "a")).toSet)
    assert(sourceDesc.nonEmpty &&
      sourceDesc.forall(_.contains("GraftMicroBatchStream")), sourceDesc)
    // row provenance has no meaning on a stream
    val prov = intercept[Exception] {
      spark.readStream.format(VersionedSource.Name).option("path", root)
        .load().select(col("id"), col("_file"))
    }
    assert(Iterator.iterate(prov: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(
        _.contains("row provenance columns are not served"))), prov)
    // the row stream of the appends after v3 only
    Versioned.commit(spark, root, Seq((20L, "z")).toDF("id", "tag"))
    assert(rows("startingVersion" -> "3") === Set((20L, "z")))
  }

  test("streamed feed equals the batch change feed") {
    val root = cdcTable()
    val q = feed(root)
      .writeStream.format("memory").queryName("vfeed")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("vfeed")
      .select("_commit_version", "_change_type", "id", "tag")
      .as[(Long, String, Long, String)].collect().toSet
    val batch = Versioned.changeFeed(spark, root, 0L)
      .select("_commit_version", "_change_type", "id", "tag")
      .as[(Long, String, Long, String)].collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 8) // 4 inserts + pre/post/insert + delete
  }

  test("checkpoint restart is exactly-once across new commits") {
    val root = cdcTable()
    val out = Files.createTempDirectory("graft-vsrc-out").toString
    val ck = Files.createTempDirectory("graft-vsrc-ck").toString
    def drain(): Unit = {
      val q = feed(root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    val first = spark.read.parquet(out).count()
    assert(first === 8L)
    drain() // no new versions ⇒ nothing re-emitted
    assert(spark.read.parquet(out).count() === 8L)
    Versioned.commit(spark, root, Seq((20L, "z")).toDF("id", "tag"),
      statsCols = Seq("id"))
    drain() // only version 4's insert arrives
    val rows = spark.read.parquet(out)
      .select("_commit_version", "_change_type", "id", "tag")
      .as[(Long, String, Long, String)].collect().toSeq
    assert(rows.size === 9)
    assert(rows.count(_ == (4L, "insert", 20L, "z")) === 1)
  }

  test("mid-stream schema evolution fails the run; a restart recovers") {
    val root = freshRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    val q = feed(root)
      .writeStream.format("memory").queryName("vfeed_evo").start()
    try {
      q.processAllAvailable() // drains v1 under the pinned schema
      Versioned.commit(spark, root,
        Seq((2L, "b", 1.5)).toDF("id", "tag", "w"), mergeSchema = true)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("restart the streaming query"),
        s"unexpected failure: ${e.getMessage}")
    } finally q.stop()
    // a fresh start sees the evolved schema and replays the history
    // aligned to it (v1's insert null-fills the new column)
    val q2 = feed(root)
      .writeStream.format("memory").queryName("vfeed_evo2")
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.table("vfeed_evo2")
      .select("_commit_version", "id", "tag", "w")
      .as[(Long, Long, String, Option[Double])].collect().toSet
    assert(got === Set((1L, 1L, "a", None), (2L, 2L, "b", Some(1.5))))
  }

  test("pre-pin history null-fills into the pinned schema, one version at a time") {
    // the table evolved BEFORE the stream started; a rate-limited
    // stream must still drain the old-schema versions (null-filled),
    // exactly like time travel under the latest schema
    val root = freshRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "tag"),
      statsCols = Seq("id"))
    Versioned.commit(spark, root,
      Seq((2L, "b", 1.5)).toDF("id", "tag", "w"), mergeSchema = true)
    val q = feed(root, "maxVersionsPerTrigger" -> "1")
      .writeStream.format("memory").queryName("vfeed_prepin").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vfeed_prepin")
        .select("_commit_version", "id", "tag", "w")
        .as[(Long, Long, String, Option[Double])].collect().toSet
      assert(got === Set((1L, 1L, "a", None), (2L, 2L, "b", Some(1.5))))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger admits one version per micro-batch") {
    val root = cdcTable()
    val q = feed(root, "maxVersionsPerTrigger" -> "1")
      .writeStream.format("memory").queryName("vfeed_rate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vfeed_rate")
      assert(got.count() === 8L)
      // every micro-batch carried exactly one commit version
      val perBatch = q.recentProgress.toSeq
        .filter(_.numInputRows > 0).map(_.numInputRows)
      assert(perBatch.size === 3, s"expected 3 data batches, got $perBatch")
      assert(perBatch.sorted === Seq(1L, 3L, 4L),
        s"per-batch rows off: $perBatch")
    } finally q.stop()
  }
}
