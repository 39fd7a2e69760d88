package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.{GraftExtensions, SparkSpec, Tables}
import graft.streaming.Streams

/** The medallion's streaming queries on the engine's `file:` filesystem:
  * no `chmod` or `readlink` child process, and checkpoints that Hadoop's
  * `LocalFs` and the engine's `NioLocalFs` continue from each other. */
class NioLocalFsStreamingSpec extends SparkSpec {

  private val CheckpointFs = "fs.AbstractFileSystem.file.impl"
  private val bronzeSchema = Streams.eventSchema
    .add("ingestion_ts", TimestampType).add("ingest_date", DateType)

  /** The sf0.001 events in three parquet files, one per micro-batch. */
  private lazy val staged: Seq[File] = {
    val dir = Files.createTempDirectory("graft-niofs-staged").toFile
    val events = Tables.t(spark, sfDir, "events")
    (0 until 3).map { i =>
      val out = new File(dir, s"b$i")
      events.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.parquet(out.toString)
      out.listFiles().find(_.getName.endsWith(".parquet")).get
    }
  }

  /** Lands staged file `i` under `root` and runs Bronze, Silver (when
    * `silver`) and the Gold MV over it, each an AvailableNow query with
    * its own checkpoint, as perfbench's medallion operation does.
    * Returns each query's micro-batch ids. */
  private def step(session: SparkSession, root: File, i: Int,
      silver: Boolean = false): Seq[Seq[Long]] = {
    def d(p: String) = new File(root, p).toString
    new File(d("landing")).mkdirs()
    Files.copy(staged(i).toPath, Paths.get(d("landing"), s"batch-$i.parquet"))
    def bronze = session.readStream.schema(bronzeSchema).parquet(d("bronze"))
    val queries = Seq(() => Streams.bronzeIngest(
        Streams.fileSource(session, d("landing")), d("bronze"), d("ckpt/bronze"))) ++
      (if (!silver) Nil else Seq(() => Streams.silverStream(bronze)
        .writeStream.format("parquet")
        .option("path", d("silver"))
        .option("checkpointLocation", d("ckpt/silver"))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())) :+
      (() => Streams.aggregateMv(bronze, d("mv"), d("ckpt/gold")))
    queries.map { start =>
      val q = start()
      q.awaitTermination()
      q.recentProgress.map(_.batchId).toSeq
    }
  }

  private def tmp(): File = Files.createTempDirectory("graft-niofs-medallion").toFile
  private def rows(root: File, dir: String, drop: String*): Seq[String] =
    spark.read.parquet(new File(root, dir).toString).drop(drop: _*)
      .collect().map(_.toString).toSeq.sorted

  /** Runs `body` with checkpoints (and state) written through `cls`. */
  private def onCheckpointFs[T](cls: Class[_])(body: => T): T = {
    spark.conf.set(CheckpointFs, cls.getName)
    try body finally spark.conf.unset(CheckpointFs)
  }

  test("an AvailableNow Bronze, Silver and Gold batch on an extensions session starts no chmod or readlink") {
    staged
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val session = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // An earlier suite in this JVM may have cached Hadoop's FileSystem
    // for file: before the install; evict it, as a fresh JVM has none.
    val file = new URI("file:///")
    val cached = FileSystem.get(file, session.sparkContext.hadoopConfiguration)
    if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
    assert(FileSystem.get(file, session.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])

    val root = tmp()
    val (ids, procs) = ProcessCensus.during(step(session, root, 0, silver = true))
    assert(ProcessCensus.forks(procs) === 0, procs.groupBy(identity).view.mapValues(_.size).toMap)
    assert(ids.forall(_.nonEmpty), ids)
    Seq("bronze", "silver", "mv").foreach(d =>
      assert(session.read.parquet(new File(root, d).toString).count() > 0, d))

    // The census sees Hadoop's processes: the next batch with Hadoop's
    // LocalFs for the checkpoints starts readlink for their renames.
    session.conf.set(CheckpointFs, classOf[LocalFs].getName)
    try {
      val (_, stock) = ProcessCensus.during(step(session, root, 1, silver = true))
      assert(stock.count(_ == "readlink") > 0)
    } finally session.conf.unset(CheckpointFs)
  }

  test("checkpoints written through Hadoop's LocalFs restart on the engine's, and back") {
    val reference = tmp()
    val refIds = onCheckpointFs(classOf[NioLocalFs])((0 until 3).map(step(spark, reference, _)))
    assert(refIds === (0 until 3).map(i => Seq(Seq(i.toLong), Seq(i.toLong))))
    val bronze = rows(reference, "bronze", "ingestion_ts", "ingest_date")
    val mv = rows(reference, "mv")
    val events = Tables.t(spark, sfDir, "events").count()
    assert(bronze.size === events)
    assert(spark.read.parquet(new File(reference, "mv").toString)
      .agg(sum("n")).head().getLong(0) === events)

    for ((first, second) <- Seq(classOf[LocalFs] -> classOf[NioLocalFs],
        classOf[NioLocalFs] -> classOf[LocalFs])) {
      val root = tmp()
      val (ids, before) = ProcessCensus.during(
        onCheckpointFs(first)((0 until 2).map(step(spark, root, _))))
      val (restart, after) = ProcessCensus.during(onCheckpointFs(second)(step(spark, root, 2)))
      val order = s"${first.getSimpleName} then ${second.getSimpleName}"
      // each batch ran once per query: none replayed, none folded twice
      assert(ids :+ restart === refIds, order)
      assert(rows(root, "bronze", "ingestion_ts", "ingest_date") === bronze, order)
      assert(rows(root, "mv") === mv, order)
      // the switch took effect: only Hadoop's renames start readlink
      val readlinks = Map(first.getSimpleName -> before, second.getSimpleName -> after)
        .map { case (fs, procs) => fs -> procs.count(_ == "readlink") }
      assert(readlinks("LocalFs") > 0 && readlinks("NioLocalFs") === 0, s"$order: $readlinks")
    }
  }
}
