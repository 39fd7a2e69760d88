package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Versioned

/** Streaming through the DSv2 catalog (the reference's bronze shape —
  * a streaming write addressed by TABLE NAME, `bronze_ingest.py:
  * 173-183`): `writeStream…toTable("cat.ns.t")` lands exactly-once
  * native micro-batch commits, `readStream.table("cat.ns.t")` is the
  * NATIVE row stream of appends, and
  * `readStream.table("cat.ns.t.changes")` the native CDC envelope
  * feed — no V1 fallback in execution, no path addressing anywhere. */
class CatalogStreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-catstream-wh").toString
    spark.conf.set("spark.sql.catalog.grafts",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafts.warehouse", w)
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("writeStream.toTable is exactly-once across checkpoint restarts " +
      "and equals the batch result") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.bronze (id BIGINT, tag STRING)")
    val root = s"$warehouse/st/bronze"
    val src = tmp("graft-cats-src")
    val ck = tmp("graft-cats-ck")
    val rows = (1 to 8).map(i => (i.toLong, s"r$i"))
    rows.toDF("id", "tag").coalesce(2)
      .write.mode("overwrite").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.format(VersionedSource.Name)
        .option("checkpointLocation", ck)
        .option("statsCols", "id")
        .trigger(Trigger.AvailableNow())
        .toTable("grafts.st.bronze")
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(sql("SELECT id, tag FROM grafts.st.bronze").as[(Long, String)]
      .collect().toSet === rows.toSet)
    val versionsAfterFirst = Versioned.versions(root).size
    // restart on the same checkpoint: the in-manifest replay guard must
    // recognize the batch — no new commits, no duplicate rows
    drain()
    assert(Versioned.versions(root).size === versionsAfterFirst)
    assert(sql("SELECT count(*) AS n FROM grafts.st.bronze")
      .as[Long].head() === 8L)
    // streamed ≡ batch: the same input committed directly agrees
    val batchRoot = tmp("graft-cats-batch") + "/t"
    Versioned.commit(spark, batchRoot, rows.toDF("id", "tag"))
    assert(sql("SELECT id, tag FROM grafts.st.bronze").as[(Long, String)]
      .collect().toSet ===
      Versioned.read(spark, batchRoot).as[(Long, String)].collect().toSet)
  }

  test("BARE writeStream.toTable (no format) is the native streaming " +
      "write: exactly-once epochs, partition splitting, stats pruning") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.part (id BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    val root = s"$warehouse/nat/part"
    val src = tmp("graft-nat-src")
    val ck = tmp("graft-nat-ck")
    val rows = (1 to 20).map(i =>
      (i.toLong, if (i <= 10) "d1" else "d2", i * 1.0))
    rows.toDF("id", "day", "v").coalesce(2)
      .write.mode("overwrite").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream // NO .format(...) — the native DSv2 path
        .option("checkpointLocation", ck)
        .option("statsCols", "id")
        .trigger(Trigger.AvailableNow())
        .toTable("grafts.nat.part")
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(sql("SELECT id, day, v FROM grafts.nat.part")
      .as[(Long, String, Double)].collect().toSet === rows.toSet)
    val nVersions = Versioned.versions(root).size
    drain() // replayed epoch: the in-manifest guard must skip it
    assert(Versioned.versions(root).size === nVersions)
    assert(sql("SELECT count(*) AS n FROM grafts.nat.part")
      .as[Long].head() === 20L)
    // every staged file holds ONE partition tuple (min==max stats),
    // so partition-scoped maintenance verbs work on the streamed table
    val v = Versioned.latestVersion(root).get
    Versioned.overwritePartitions(spark, root,
      Seq((99L, "d2", 0.0)).toDF("id", "day", "v"))
    val got = sql("SELECT id FROM grafts.nat.part WHERE day = 'd2'")
      .as[Long].collect().toSet
    assert(got === Set(99L), s"d2 must be replaced, got $got")
    assert(sql("SELECT count(*) AS n FROM grafts.nat.part " +
      "WHERE day = 'd1'").as[Long].head() === 10L)
    // id-stats from the executor write prune like driver-written files
    val pr = Versioned.readPruned(spark, root, "id", 3L, 3L)
    assert(pr.filter($"id" === 3L).as[(Long, String, Double)]
      .collect().toSet === Set((3L, "d1", 3.0)))
  }

  test("native streaming write enforces CHECK constraints per row " +
      "and Complete mode overwrites per epoch") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.chk (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/nat/chk"
    Versioned.addConstraint(spark, root, "v_pos", "v >= 0")
    val src = tmp("graft-chk-src")
    Seq((1L, 1.0), (2L, -5.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.option("checkpointLocation", tmp("graft-chk-ck"))
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.chk")
    val e = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    assert(stackMessages(e).contains("v_pos"),
      s"the failure must name the violated constraint: ${stackMessages(e)}")
    assert(sql("SELECT count(*) AS n FROM grafts.nat.chk")
      .as[Long].head() === 0L, "no partial rows may publish")

    // Complete mode: each epoch REPLACES the snapshot (aggregate MV)
    sql("CREATE TABLE grafts.nat.agg (k STRING, total DOUBLE)")
    val src2 = tmp("graft-agg-src")
    Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(src2)
    val q2 = spark.readStream
      .schema(spark.read.parquet(src2).schema).parquet(src2)
      .groupBy($"k").agg(sum($"v").as("total"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmp("graft-agg-ck"))
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.agg")
    q2.processAllAvailable(); q2.stop()
    assert(sql("SELECT k, total FROM grafts.nat.agg")
      .as[(String, Double)].collect().toSet ===
      Set(("a", 4.0), ("b", 2.0)))
  }

  test("INSERT OVERWRITE under dynamic mode replaces only incoming " +
      "partitions, carrying the rest by file identity") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.dyn")
    sql("CREATE TABLE grafts.dyn.t (id BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    val root = s"$warehouse/dyn/t"
    sql("INSERT INTO grafts.dyn.t VALUES (1, 'd1'), (2, 'd1'), (3, 'd2')")
    val before = Versioned.latestVersion(root).get
    val d1Files = Versioned.files(root, before)
      .filter(_.nonEmpty).toSet
    val old = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT OVERWRITE grafts.dyn.t VALUES (30, 'd2'), (31, 'd2')")
    } finally old match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(sql("SELECT id, day FROM grafts.dyn.t ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2")),
      "only d2 may be replaced")
    // the d1 file is carried BY REFERENCE: same path in both manifests
    val after = Versioned.latestVersion(root).get
    val carried = Versioned.files(root, before).toSet
      .intersect(Versioned.files(root, after).toSet)
    assert(carried.nonEmpty,
      "the untouched partition's file must carry by path identity")
  }

  private def stackMessages(e: Throwable): String = {
    val sb = new StringBuilder
    var t: Throwable = e
    while (t != null) { sb.append(t.getMessage).append(" | "); t = t.getCause }
    sb.toString
  }

  test("Update output mode writes changed rows as appends (the " +
      "update-as-append contract Delta's builder declares)") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.upd (k STRING, total DOUBLE)")
    val src = tmp("graft-upd-src")
    Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy($"k").agg(sum($"v").as("total"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-upd-ck"))
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.upd")
    q.processAllAvailable(); q.stop()
    // one bounded epoch: each group's latest value appended once
    assert(sql("SELECT k, total FROM grafts.nat.upd")
      .as[(String, Double)].collect().toSet ===
      Set(("a", 4.0), ("b", 2.0)))
  }

  test("native streaming write: mergeSchema evolves the table, and a " +
      "COLUMN-MAPPED table takes streamed epochs under its mapping") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.evo (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/nat/evo"
    // rename first: streamed files must land under the PHYSICAL name
    sql("ALTER TABLE grafts.nat.evo RENAME COLUMN v TO amount")
    val src = tmp("graft-evo-src")
    Seq((1L, 1.0, "x"), (2L, 2.0, "y")).toDF("id", "amount", "tag")
      .write.mode("overwrite").parquet(src)
    // without mergeSchema the extra column must reject loudly
    val q0 = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.option("checkpointLocation", tmp("graft-evo-ck0"))
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.evo")
    val e = intercept[Exception] { q0.processAllAvailable() }
    q0.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      .contains("mergeSchema"))
    assert(sql("SELECT count(*) AS n FROM grafts.nat.evo")
      .as[Long].head() === 0L)
    // with mergeSchema the schema evolves and rows land
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.option("checkpointLocation", tmp("graft-evo-ck1"))
      .option("mergeSchema", "true")
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.evo")
    q.processAllAvailable(); q.stop()
    assert(sql("SELECT id, amount, tag FROM grafts.nat.evo ORDER BY id")
      .as[(Long, Double, String)].collect().toSeq ===
      Seq((1L, 1.0, "x"), (2L, 2.0, "y")))
    // the mapping held: the library read agrees column-for-column
    assert(Versioned.read(spark, root).columns.toSeq ===
      Seq("id", "amount", "tag"))
  }

  test("Complete-mode streaming onto a COLUMN-MAPPED table: the " +
      "overwrite canonicalizes the mapping, files land under LOGICAL " +
      "names — renamed columns never read all-null") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.cmap (k STRING, total DOUBLE)")
    val root = s"$warehouse/nat/cmap"
    // rename → the table carries a logical→physical mapping; a
    // Complete-mode epoch's publish canonicalizes it to identity, so
    // the staged files MUST store logical names (staging them under
    // the stale physical name would silently null the column)
    sql("ALTER TABLE grafts.nat.cmap RENAME COLUMN total TO rev")
    val src = tmp("graft-cmap-src")
    Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "rev")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy($"k").agg(sum($"rev").as("rev"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmp("graft-cmap-ck"))
      .trigger(Trigger.AvailableNow()).toTable("grafts.nat.cmap")
    q.processAllAvailable(); q.stop()
    assert(sql("SELECT k, rev FROM grafts.nat.cmap ORDER BY k")
      .as[(String, Double)].collect().toSeq ===
      Seq(("a", 3.0), ("b", 5.0)))
    assert(Versioned.read(spark, root).orderBy("k")
      .as[(String, Double)].collect().toSeq ===
      Seq(("a", 3.0), ("b", 5.0)))
  }

  test("dynamic overwrite of an UNPARTITIONED column-mapped table " +
      "stages under logical names (full-overwrite canonicalization)") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.nat")
    sql("CREATE TABLE grafts.nat.dmap (id BIGINT, amount DOUBLE)")
    sql("INSERT INTO grafts.nat.dmap VALUES (1, 1.0)")
    sql("ALTER TABLE grafts.nat.dmap RENAME COLUMN amount TO bal")
    withSQLConf(
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      sql("INSERT OVERWRITE grafts.nat.dmap VALUES (7, 70.0), (8, 80.0)")
    }
    assert(sql("SELECT id, bal FROM grafts.nat.dmap ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((7L, 70.0), (8L, 80.0)))
  }

  private def withSQLConf[A](kv: (String, String)*)(f: => A): A = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("NATIVE readStream.table: a row stream of appends (no V1 node); " +
      "change commits fail loudly unless skipChangeCommits") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.rows (id BIGINT, v STRING)")
    val root = s"$warehouse/st/rows"
    sql("INSERT INTO grafts.st.rows VALUES (1, 'a'), (2, 'b')")
    // the analyzed plan is the DSv2 streaming relation, and EXECUTION
    // takes the native micro-batch stream (the v1Relation option in
    // the node is Spark's fallback slot — MICRO_BATCH_READ wins)
    val df = spark.readStream.table("grafts.st.rows")
    val analyzed = df.queryExecution.analyzed.treeString
    assert(analyzed.contains("StreamingRelationV2"), analyzed)
    val ck = tmp("graft-natr-ck")
    val sink = tmp("graft-natr-out") + "/t"
    var sourceDesc: Option[String] = None
    def follow(table: String = "grafts.st.rows"): Unit = {
      val q = spark.readStream.table(table)
        .writeStream.format(VersionedSource.Name)
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      q.recentProgress.flatMap(_.sources.map(_.description))
        .lastOption.foreach(d => sourceDesc = Some(d))
      q.stop()
    }
    follow()
    assert(sourceDesc.exists(_.contains("GraftMicroBatchStream")),
      s"execution must ride the native DSv2 stream, got $sourceDesc")
    assert(Versioned.read(spark, sink).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    // a later append flows through exactly once; replays are no-ops
    sql("INSERT INTO grafts.st.rows VALUES (9, 'z')")
    follow(); follow()
    assert(Versioned.read(spark, sink).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b"), (9L, "z")))
    // a row-removing commit cannot be represented as rows: fail loudly
    Versioned.mergeUpsert(spark, root,
      Seq((2L, "b2")).toDF("id", "v"), "id", cdf = true)
    val e = intercept[Exception] { follow() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("_change_type") ||
      msgs.contains("skipChangeCommits"), msgs)
    // skipChangeCommits skips it (lossy, the Delta option)
    val q = spark.readStream.option("skipChangeCommits", "true")
      .table("grafts.st.rows")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(Versioned.read(spark, sink).count() === 3L)
  }

  test("readStream.table with the envelope metadata columns projected " +
      "is the change feed") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.envp (id BIGINT, v STRING)")
    val root = s"$warehouse/st/envp"
    sql("INSERT INTO grafts.st.envp VALUES (1, 'a'), (2, 'b')")
    Versioned.mergeUpsert(spark, root,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), "id", cdf = true)
    val q = spark.readStream.table("grafts.st.envp")
      .select("id", "v", "_change_type", "_commit_version")
      .writeStream.format("memory").queryName("envp")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val expected = Versioned.changeFeed(spark, root, 0)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(spark.table("envp").as[(Long, String, String, Long)]
      .collect().toSet === expected)
    assert(expected.exists(_._3 == "update_preimage"))
  }

  test("the .changes metadata table: native streaming AND batch reads " +
      "equal changeFeed across every commit kind") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.feed (id BIGINT, v STRING)")
    val root = s"$warehouse/st/feed"
    sql("INSERT INTO grafts.st.feed VALUES (1, 'a'), (2, 'b')")
    // CoW merge with change files
    Versioned.mergeUpsert(spark, root,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), "id",
      statsCols = Seq("id"), cdf = true)
    // positional delete (deletion vector) — replayed lazily
    Versioned.deleteRows(spark, root, col("id") === 1L)
    // merge-on-read delta commit (deletes + postimage in one version)
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try sql("UPDATE grafts.st.feed SET v = 'c2' WHERE id = 3")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    val expected = Versioned.changeFeed(spark, root, 0)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    // STREAMING: drain through a checkpoint, exactly-once on replay
    val ck = tmp("graft-chg-ck")
    val sink = tmp("graft-chg-out") + "/t"
    def follow(): Unit = {
      val q = spark.readStream.table("grafts.st.feed.changes")
        .writeStream.format(VersionedSource.Name)
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    follow(); follow()
    assert(Versioned.read(spark, sink)
      .as[(Long, String, String, Long)].collect().toSet === expected,
      "streamed .changes must equal the batch change feed")
    // BATCH: the same relation, window options
    assert(spark.read.table("grafts.st.feed.changes")
      .as[(Long, String, String, Long)].collect().toSet === expected)
    val v = Versioned.latestVersion(root).get
    assert(spark.read.option("startingVersion", v - 1)
      .table("grafts.st.feed.changes")
      .select("_commit_version").as[Long].collect().toSet === Set(v))
    // STREAMING startingVersion: only later versions admit
    val ck2 = tmp("graft-chg-ck2")
    val sink2 = tmp("graft-chg-out2") + "/t"
    val q2 = spark.readStream.option("startingVersion", v - 1)
      .table("grafts.st.feed.changes")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink2).option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    assert(Versioned.read(spark, sink2)
      .select("_commit_version").as[Long].collect().toSet === Set(v))
    // maxVersionsPerTrigger: each micro-batch admits one version —
    // the drain lands one sink commit per source version
    val ck3 = tmp("graft-chg-ck3")
    val sink3 = tmp("graft-chg-out3") + "/t"
    val q3 = spark.readStream.option("maxVersionsPerTrigger", 1)
      .table("grafts.st.feed.changes")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink3).option("checkpointLocation", ck3)
      .trigger(Trigger.AvailableNow()).start()
    q3.processAllAvailable(); q3.stop()
    assert(Versioned.read(spark, sink3)
      .as[(Long, String, String, Long)].collect().toSet === expected)
    assert(Versioned.versions(sink3).size >= 3,
      "one-version admission must land multiple micro-batches")
  }

  test("an INSERT-ONLY delta commit (mor MERGE with no matches) is a " +
      "pure append: the bare row stream serves it, never fails or skips") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.insonly (id BIGINT, v STRING)")
    val root = s"$warehouse/st/insonly"
    sql("INSERT INTO grafts.st.insonly VALUES (1, 'a')")
    Seq((2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("insonly_src")
    // the MATCHED clause forces the delta rewrite (a NOT-MATCHED-only
    // MERGE plans as a plain append upstream), but no source row
    // matches at runtime — the committed delta removes NOTHING
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try sql("""MERGE INTO grafts.st.insonly t USING insonly_src s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
      .stripMargin)
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    val lastAction = Versioned.history(spark, root)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .select("action").as[String].head()
    assert(lastAction === "write-delta",
      "the mor MERGE must have committed a write-delta version")
    // bare appends-only stream: the insert-only delta removed nothing,
    // so it must flow as an append — no loud failure, no skip
    val ck = tmp("graft-inso-ck"); val sink = tmp("graft-inso-out") + "/t"
    val q = spark.readStream.table("grafts.st.insonly")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(Versioned.read(spark, sink).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // and skipChangeCommits must NOT drop it (Delta's contract: only
    // commits that actually remove data are change commits)
    val ck2 = tmp("graft-inso-ck2"); val sink2 = tmp("graft-inso-out2") + "/t"
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table("grafts.st.insonly")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink2).option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    assert(Versioned.read(spark, sink2).count() === 3L,
      "skipChangeCommits must not drop an insert-only delta's rows")
  }

  test("maxFilesPerTrigger / maxBytesPerTrigger: a many-file commit " +
      "drains as bounded batches through sub-version offsets, " +
      "exactly-once across batch boundaries; change commits stay " +
      "indivisible") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.bulk (id BIGINT)")
    val root = s"$warehouse/st/bulk"
    // ONE backfill commit with 12 files
    Versioned.commit(spark, root,
      spark.range(0, 1200).toDF("id").repartition(12))
    val v = Versioned.latestVersion(root).get
    def mkStream(opts: Map[String, String]) = new GraftMicroBatchStream(
      spark, root, Versioned.tableSchema(spark, root),
      Versioned.tableSchema(spark, root),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava))
    val s5 = mkStream(Map("maxFilesPerTrigger" -> "5"))
    // offset round-trip: the sub-version form survives the checkpoint
    assert(s5.deserializeOffset(s"$v:5").json() === s"$v:5")
    val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit
      .allAvailable()
    val o0 = s5.initialOffset()
    val o1 = s5.latestOffset(o0, limit)
    assert(o1.json() === s"$v:5", s"first batch caps at 5 files: ${o1.json()}")
    val o2 = s5.latestOffset(o1, limit)
    assert(o2.json() === s"$v:10")
    val o3 = s5.latestOffset(o2, limit)
    assert(o3.json() === v.toString, "the last batch completes the version")
    assert(s5.latestOffset(o3, limit).json() === o3.json(), "caught up")
    // the three batches partition the commit's files EXACTLY once
    def filesOf(a: Offset, b: Offset): Seq[String] =
      s5.planInputPartitions(a, b).toSeq
        .flatMap(_.asInstanceOf[GraftFeedPartition].chunks.map(_.relPath))
    val b1 = filesOf(o0, o1); val b2 = filesOf(o1, o2); val b3 = filesOf(o2, o3)
    assert(b1.size === 5 && b2.size === 5 && b3.size === 2)
    assert((b1 ++ b2 ++ b3).distinct.size === 12,
      "no file may repeat or vanish across the bounded batches")
    assert((b1 ++ b2 ++ b3).toSet === Versioned.files(root, v).toSet)
    // byte budget: smaller than any file → one file per batch
    // (progress guarantee), never zero
    val sB = mkStream(Map("maxBytesPerTrigger" -> "1"))
    val p1 = sB.latestOffset(sB.initialOffset(), limit)
    assert(p1.json() === s"$v:1")
    // a row-removing commit is ONE indivisible unit: it ends a batch
    Versioned.mergeUpsert(spark, root,
      Seq(5L).toDF("id"), "id", cdf = true)
    val v2 = Versioned.latestVersion(root).get
    val after = s5.latestOffset(o3, limit)
    assert(after.json() === v2.toString,
      "the change commit must admit whole, alone")
    // END-TO-END: a bounded drain lands one sink commit per batch and
    // the union equals the table
    val ck = tmp("graft-bulk-ck"); val sink = tmp("graft-bulk-out") + "/t"
    val q = spark.readStream.option("maxFilesPerTrigger", "5")
      .option("skipChangeCommits", "true")
      .table("grafts.st.bulk")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(Versioned.read(spark, sink).as[Long].collect().toSet ===
      (0L until 1200L).toSet)
    assert(Versioned.versions(sink).size >= 3,
      "the backfill must drain as several bounded micro-batches")
    // MID-DRAIN RESTART: stop after ONE bounded batch (Trigger.Once),
    // then resume from the checkpointed sub-version offset — the
    // union lands exactly once
    val ck2 = tmp("graft-bulk-ck2"); val sink2 = tmp("graft-bulk-out2") + "/t"
    def one(): Unit = {
      @annotation.nowarn("cat=deprecation")
      val q1 = spark.readStream.option("maxFilesPerTrigger", "5")
        .option("skipChangeCommits", "true")
        .table("grafts.st.bulk")
        .writeStream.format(VersionedSource.Name)
        .option("path", sink2).option("checkpointLocation", ck2)
        .trigger(Trigger.Once()).start()
      q1.awaitTermination()
    }
    one()
    val partial = Versioned.read(spark, sink2).count()
    assert(partial > 0 && partial < 1200,
      s"one bounded batch must land a strict subset, got $partial")
    val q2 = spark.readStream.option("maxFilesPerTrigger", "5")
      .option("skipChangeCommits", "true")
      .table("grafts.st.bulk")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink2).option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    assert(Versioned.read(spark, sink2).as[Long].collect().toSet ===
      (0L until 1200L).toSet,
      "the resumed drain must complete exactly-once — no repeats, no gaps")
  }

  test("a row-removing DELTA commit drains BOUNDED: the DV application " +
      "rides the first slice exactly once, insert postimages slice " +
      "across batches, and a mid-drain restart stays exactly-once") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.bdrain (id BIGINT, pk INT) " +
      "PARTITIONED BY (pk)")
    val root = s"$warehouse/st/bdrain"
    spark.range(0, 60000).selectExpr("id", "CAST(id % 20 AS INT) AS pk")
      .createOrReplaceTempView("bdrain_src")
    sql("INSERT INTO grafts.st.bdrain SELECT * FROM bdrain_src")
    // a WIDE MoR UPDATE: 30k deleted positions (spilling executor
    // sidecars past the inline threshold) + postimage files across
    // all 20 partitions — the exact commit shape that used to drain
    // as one giant indivisible batch
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try sql("UPDATE grafts.st.bdrain SET id = id + 1000000 " +
      "WHERE id % 2 = 0")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    val v2 = Versioned.latestVersion(root).get
    val dvs = Versioned.pendingDvEntries(root, v2)
    assert(dvs.nonEmpty && dvs.exists(_.sidecars.nonEmpty),
      "the wide delete must spill position sidecars (inline would " +
        "not exercise the hard case)")
    assert(Versioned.dvDeletedCountsExact(root, v2)
      .exists(_.values.sum === 30000L),
      "sidecar cardinalities must ride the manifest")
    val Some((insFiles, removal)) = Versioned.feedAdmissionUnits(root, v2)
    assert(removal, "a fresh-DV delta must flag its removal slice")
    assert(insFiles.size >= 12,
      s"expected many postimage files, got ${insFiles.size}")
    // ---- direct offset walk: maxFilesPerTrigger=6 slices the commit
    val opts = Map("maxFilesPerTrigger" -> "6",
      "startingVersion" -> (v2 - 1).toString)
    val st = new GraftMicroBatchStream(spark, root,
      VersionedSource.feedSchema(spark, root, None),
      Versioned.tableSchema(spark, root),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava))
    val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit
      .allAvailable()
    def chunksOf(a: org.apache.spark.sql.connector.read.streaming.Offset,
        b: org.apache.spark.sql.connector.read.streaming.Offset) =
      st.planInputPartitions(a, b).toSeq
        .flatMap(_.asInstanceOf[GraftFeedPartition].chunks)
    var cur: org.apache.spark.sql.connector.read.streaming.Offset =
      st.initialOffset()
    assert(cur.json() === (v2 - 1).toString)
    var batches = Seq.empty[Seq[GraftFeedChunk]]
    var guard = 0
    var done = false
    while (!done && guard < 50) {
      val nxt = st.latestOffset(cur, limit)
      if (nxt.json() == cur.json()) done = true
      else { batches :+= chunksOf(cur, nxt); cur = nxt; guard += 1 }
    }
    assert(batches.size >= 3,
      s"the delta commit must drain in several bounded batches, " +
        s"got ${batches.size}")
    // the DV application (kind=3 delete envelopes) appears in the
    // FIRST batch and ONLY there
    assert(batches.head.exists(_.kind == 3),
      "the first slice must carry the DV application")
    assert(batches.tail.forall(_.forall(_.kind != 3)),
      "later slices must not replay the DV application")
    // every batch's INSERT grain is bounded; the union covers the
    // commit's postimages exactly once
    batches.foreach(b => assert(b.count(_.kind == 0) <= 6,
      "a slice exceeded the file budget"))
    val insSeen = batches.flatten.filter(_.kind == 0).map(_.relPath)
    assert(insSeen.distinct.size === insSeen.size,
      "an insert file repeated across slices")
    assert(insSeen.toSet === insFiles.map(_._1).toSet,
      "the slices must cover the commit's insert files exactly")
    // ---- end-to-end drain of .changes with a MID-DRAIN RESTART
    val expected = Versioned.changeFeed(spark, root, 0)
      .select("id", "pk", "_change_type", "_commit_version")
      .as[(Long, Int, String, Long)].collect().toSet
    val ck = tmp("graft-bdrain-ck"); val sink = tmp("graft-bdrain-out") + "/t"
    def one(): Unit = {
      @annotation.nowarn("cat=deprecation")
      val q = spark.readStream.option("maxFilesPerTrigger", "6")
        .table("grafts.st.bdrain.changes")
        .writeStream.format(VersionedSource.Name)
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    one(); one() // two bounded batches, then stop mid-drain
    val partial = Versioned.read(spark, sink).count()
    val q2 = spark.readStream.option("maxFilesPerTrigger", "6")
      .table("grafts.st.bdrain.changes")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    assert(Versioned.read(spark, sink)
      .select("id", "pk", "_change_type", "_commit_version")
      .as[(Long, Int, String, Long)].collect().toSet === expected,
      "the resumed bounded drain must land the change feed " +
        "exactly-once — no repeated delete envelopes, no lost rows")
    assert(partial < Versioned.read(spark, sink).count(),
      "the first two bounded batches must land a strict subset")
    assert(Versioned.versions(sink).size >= 3,
      "the commit must land across several sink commits")
  }

  test(".changes honors VERSION AS OF: the pin bounds the batch window " +
      "and a streaming read of a pinned feed refuses loudly") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.feedpin (id BIGINT, v STRING)")
    val root = s"$warehouse/st/feedpin"
    sql("INSERT INTO grafts.st.feedpin VALUES (1, 'a')")
    sql("INSERT INTO grafts.st.feedpin VALUES (2, 'b')")
    sql("INSERT INTO grafts.st.feedpin VALUES (3, 'c')")
    val v = Versioned.latestVersion(root).get
    val expectedAtPin = Versioned.changeFeed(spark, root, 0, Some(v - 1))
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    val pinned = sql(
      s"SELECT * FROM grafts.st.feedpin.changes VERSION AS OF ${v - 1}")
      .as[(Long, String, String, Long)].collect().toSet
    assert(pinned === expectedAtPin,
      "a pinned .changes read must stop at the pinned version")
    assert(pinned.forall(_._4 <= v - 1))
    // an explicit endingVersion may narrow the pin but not read past it
    val e = intercept[Exception] {
      sql(s"SELECT * FROM grafts.st.feedpin.changes VERSION AS OF ${v - 1}")
      spark.read.option("versionAsOf", v - 1).option("endingVersion", v)
        .table("grafts.st.feedpin.changes").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      .contains("reads past"), e.getMessage)
    // a STREAMING read of a pinned feed refuses loudly (a stream
    // follows the table forward; a past pin contradicts that)
    val scan = new GraftFeedScan(spark, root,
      VersionedSource.feedSchema(spark, root, Some(v - 1)),
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      Some(v - 1))
    val e2 = intercept[IllegalArgumentException] {
      scan.toMicroBatchStream("unused")
    }
    assert(e2.getMessage.contains("STREAMING"), e2.getMessage)
  }

  test("startingTimestamp streams commits at-or-after the instant " +
      "(inclusive, the Delta option)") {
    sql("CREATE NAMESPACE IF NOT EXISTS grafts.st")
    sql("CREATE TABLE grafts.st.ts (id BIGINT)")
    val root = s"$warehouse/st/ts"
    sql("INSERT INTO grafts.st.ts VALUES (1)")
    // a wall-clock gap, then capture an instant BEFORE the commits
    // that must stream
    Thread.sleep(20)
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    sql("INSERT INTO grafts.st.ts VALUES (2)")
    sql("INSERT INTO grafts.st.ts VALUES (3)")
    val ck = tmp("graft-ts-ck")
    val sink = tmp("graft-ts-out") + "/t"
    val q = spark.readStream.option("startingTimestamp", cut.toString)
      .table("grafts.st.ts")
      .writeStream.format(VersionedSource.Name)
      .option("path", sink).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(Versioned.read(spark, sink).as[Long].collect().toSet ===
      Set(2L, 3L),
      "only commits published at-or-after the instant stream")
    // both start options together refuse loudly
    val both = intercept[Exception] {
      val qb = spark.readStream
        .option("startingTimestamp", cut.toString)
        .option("startingVersion", "1")
        .table("grafts.st.ts")
        .writeStream.format(VersionedSource.Name)
        .option("path", tmp("graft-ts-out2") + "/t")
        .option("checkpointLocation", tmp("graft-ts-ck2"))
        .trigger(Trigger.AvailableNow()).start()
      try { qb.processAllAvailable() } finally qb.stop()
    }
    assert(both.getMessage != null)
  }
}
