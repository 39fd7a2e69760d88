package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, TimestampType}

import graft.{GraftExtensions, SparkSpec, Tables}

/** Generated classes are compiled once per JVM only when the sessions
  * Structured Streaming clones share a task class loader, which is what
  * `spark.sql.artifact.isolation.enabled=false` gives. */
class CodegenReuseSpec extends SparkSpec {

  private val bronzeSchema = Streams.eventSchema
    .add("ingestion_ts", TimestampType).add("ingest_date", DateType)

  /** The sf0.001 events in three parquet files, one per micro-batch. */
  private lazy val staged: Seq[File] = {
    val dir = Files.createTempDirectory("graft-cg-staged").toFile
    val events = Tables.t(spark, sfDir, "events")
    (0 until 3).map { i =>
      val out = new File(dir, s"b$i")
      events.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.parquet(out.toString)
      out.listFiles().find(_.getName.endsWith(".parquet")).get
    }
  }

  /** How many generated classes Janino compiled while `body` ran (the
    * `CodegenMetrics` count), and the source of each, from
    * `CodeGenerator`'s debug log of what it compiles. */
  private def compiled(body: => Unit): (Long, Seq[String]) = {
    val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val sources = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG)
        sources.synchronized(sources += e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val level = ctx.getConfiguration.getLoggerConfig(logger).getLevel
    appender.start()
    Configurator.setLevel(logger, Level.DEBUG)
    val conf = ctx.getConfiguration.getLoggerConfig(logger)
    conf.addAppender(appender, Level.DEBUG, null)
    conf.setAdditive(false)
    ctx.updateLoggers()
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      body
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
        sources.synchronized(sources.toSeq))
    } finally {
      conf.removeAppender(appender.getName)
      conf.setAdditive(true)
      Configurator.setLevel(logger, level)
      appender.stop()
    }
  }

  /** Lands staged file `i` under `root` and runs Bronze and the Gold MV
    * over it; returns what the two queries compiled. */
  private def step(session: SparkSession, root: File, i: Int): (Long, Seq[String]) = {
    def d(p: String) = new File(root, p).toString
    new File(d("landing")).mkdirs()
    Files.copy(staged(i).toPath, Paths.get(d("landing"), s"batch-$i.parquet"))
    compiled {
      Streams.bronzeIngest(Streams.fileSource(session, d("landing")),
        d("bronze"), d("ckpt/bronze")).awaitTermination()
      Streams.aggregateMv(session.readStream.schema(bronzeSchema).parquet(d("bronze")),
        d("mv"), d("ckpt/gold")).awaitTermination()
    }
  }

  /** A sibling session with artifact isolation on or off, set before its
    * first query, as Spark requires. */
  private def sibling(isolated: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set(GraftExtensions.ArtifactIsolation, isolated.toString)
    s
  }

  private def assertEqualsBatch(root: File): Unit = {
    val expect = Tables.t(spark, sfDir, "events")
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    val mv = spark.read.parquet(new File(root, "mv").toString)
    assert(mv.count() === expect.count())
    assert(mv.exceptAll(expect).isEmpty && expect.exceptAll(mv).isEmpty)
  }

  /** The `ingestion_ts` literal of a class that inlines its batch's
    * `current_timestamp()`, Bronze's `to_date(ingestion_ts)` included. */
  private val BatchTs = """microsToDays\((\d+)L""".r
  private def batchTs(source: String) = BatchTs.findFirstMatchIn(source).map(_.group(1))

  test("micro-batches reuse generated classes only when the cloned sessions share a class loader") {
    staged
    val shared = Files.createTempDirectory("graft-cg-shared").toFile
    val isolated = Files.createTempDirectory("graft-cg-isolated").toFile
    val s = sibling(isolated = false)
    val runs = (0 until 3).map(step(s, shared, _))
    val i = sibling(isolated = true)
    val isoRuns = (0 until 3).map(step(i, isolated, _))
    val census = s"compiled per run: shared ${runs.map(_._1)}, isolated ${isoRuns.map(_._1)}"

    // A shared loader compiles the two queries' classes in the first
    // micro-batch and reuses them. What is left is per batch: Bronze's
    // whole-stage iterator, whose code inlines that batch's
    // `current_timestamp()` as a long literal for `ingestion_ts` and
    // `ingest_date`. It is compiled twice, on the driver (whole-stage
    // codegen's compile check) and in the task.
    runs.drop(1).foreach { case (n, sources) =>
      assert(n === 2, census)
      assert(sources.size === 2 && sources.distinct.size === 1, census)
      assert(sources.head.contains("final class GeneratedIteratorForCodegenStage"), census)
      assert(batchTs(sources.head).nonEmpty, census)
    }
    assert(batchTs(runs(1)._2.head) !== batchTs(runs(2)._2.head))

    // Isolated, each clone's tasks run under a fresh loader: every
    // micro-batch compiles again the classes its first one compiled,
    // not only the per-batch ones.
    isoRuns.drop(1).foreach { case (n, sources) =>
      val again = sources.filter(src => batchTs(src).isEmpty && isoRuns.head._2.contains(src))
      assert(n > 2 && again.nonEmpty, census)
    }

    Seq(shared, isolated).foreach(assertEqualsBatch)
  }
}
