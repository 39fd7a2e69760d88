package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A Kafka-shaped partitioned topic log on shared storage, readable
  * through a real DataSourceV2 connector ([[TopicLogSource]]).
  *
  * The environment ships no Kafka jars, so the broker protocol itself
  * cannot be exercised — but everything a Spark engineer OWNS about a
  * Kafka integration can be: keyed partitioning, per-partition
  * monotonic offsets, segment files, offset-range micro-batch planning,
  * checkpointed exactly-once resume, and a wire format. This module is
  * that surface, built on a directory layout any shared filesystem
  * provides:
  *
  * {{{
  *   dir/p=<partition>/segment-<startOffset>-<endOffsetExclusive>.tsv
  * }}}
  *
  * Record schema (fixed, like Kafka's): partition INT, offset LONG,
  * key STRING, value STRING, ts TIMESTAMP. Segments are TSV with
  * URL-escaped key/value (a log segment is a byte format, not a table —
  * the connector's PartitionReader parses it without an engine).
  *
  * Swapping `format(TopicLogSource.Name)` for `format("kafka")` (plus
  * broker options) is the only change a deployment needs — the
  * semantics the specs pin down (per-partition ordering, exactly-once
  * across restart, resumable offsets) are the ones Kafka gives.
  */
object TopicLog {

  val NumFields = 5

  /** Append `df(key, value, ts)` to the log with Kafka-producer
    * semantics: partition = hash(key) % nPartitions (all records of a
    * key land in ONE partition, preserving per-key order; null keys
    * route by the empty string — never NPE), offsets continue from each
    * partition's current end, one new segment file per non-empty
    * partition, staged + renamed so readers never see a half-written
    * segment. Single-writer per topic dir (Kafka's per-partition
    * leader invariant).
    *
    * `tag` makes the append IDEMPOTENT per tag (the transactional-
    * producer analog): segment names carry the tag, and a partition
    * that already has a segment for this tag is skipped — so a sink
    * replaying a micro-batch after a crash, between partial segment
    * publishes or after the last one, writes each partition's segment
    * EXACTLY once (the batch content and ordering are deterministic,
    * so the re-derived segment is identical).
    *
    * Executors write their own partition's segment (foreachPartition
    * after a repartition on the topic partition) — the driver never
    * holds data rows, only the per-partition end offsets (bounded by
    * nPartitions). */
  def append(spark: SparkSession, df: DataFrame, dir: String,
      nPartitions: Int, tag: Option[String] = None): Unit = {
    val ends = (0 until nPartitions)
      .map(p => p -> endOffset(dir, p)).toMap
    val endsB = spark.sparkContext.broadcast(ends)
    val dirB = dir
    val tagB = tag
    // deterministic partition + dense per-partition sequence: the order
    // within a partition is (ts, key, value) — content-stable, so a
    // replayed append writes identical segments
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__p").orderBy("ts", "key", "value")
    val assigned = df
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("ts").cast("timestamp").as("ts"))
      .withColumn("__p", pmod(
        crc32(coalesce(col("key"), lit("")).cast("binary")),
        lit(nPartitions)).cast("int"))
      .withColumn("__seq", row_number().over(w).cast("long") - 1)
    assigned.select("__p", "__seq", "key", "value", "ts")
      .repartition(nPartitions, col("__p"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        // one spark partition may hold several (hash-colliding) topic
        // partitions: buffer per topic partition (bounded by the append
        // batch, the same bound a Kafka producer's buffer has)
        val perPart = scala.collection.mutable.Map[Int,
          scala.collection.mutable.ArrayBuffer[(Long, String, String, java.sql.Timestamp)]]()
        rows.foreach { r =>
          perPart.getOrElseUpdate(r.getInt(0),
            scala.collection.mutable.ArrayBuffer.empty)
            .append((r.getLong(1), r.getString(2), r.getString(3),
              r.getTimestamp(4)))
        }
        perPart.foreach { case (p, buf) =>
          val pDir = new java.io.File(s"$dirB/p=$p")
          pDir.mkdirs()
          val tagSuffix = tagB.map(t => s".t$t").getOrElse("")
          val alreadyWritten = tagB.isDefined && pDir.listFiles().exists(
            f => f.getName.startsWith("segment-") &&
              f.getName.endsWith(s"$tagSuffix.tsv"))
          if (!alreadyWritten) {
            val base = endsB.value(p)
            val sorted = buf.sortBy(_._1)
            val start = base
            val end = base + sorted.length
            val tmp = new java.io.File(pDir, s".segment-$start-$end$tagSuffix.tsv.tmp")
            val out = new java.io.PrintWriter(
              new java.io.OutputStreamWriter(
                new java.io.FileOutputStream(tmp), "UTF-8"))
            try sorted.foreach { case (seq, k, v, ts) =>
              val micros = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
              out.println(Seq((base + seq).toString, esc(k), esc(v),
                micros.toString).mkString("\t"))
            } finally out.close()
            val fin = new java.io.File(pDir, s"segment-$start-$end$tagSuffix.tsv")
            if (!tmp.renameTo(fin))
              throw new java.io.IOException(s"segment publish failed: $fin")
          }
        }
      }
  }

  /** Streaming sink: append each micro-batch to a topic dir —
    * topic-to-topic pipelines (S11) then run entirely through the
    * connector: `readStream.format("graft-topic")` on the source
    * topic, transforms, [[sink]] on the destination. foreachBatch is
    * at-least-once; exactly-once comes from the append being tagged
    * with the batchId: a replay, after a crash mid-append or after one,
    * skips exactly the partitions whose segments for that tag already
    * published and writes the rest — no duplicate and no lost records.
    * A `<dir>.lastbatch` marker left by earlier versions of this sink is
    * harmless, since nothing reads it. The batch must carry
    * (key, value, ts) columns — the producer schema. */
  def sink(df: org.apache.spark.sql.DataFrame, dir: String, nPartitions: Int,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch.sparkSession, batch, dir, nPartitions,
          tag = Some(batchId.toString))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** URL-style escaping for tab/newline/percent — the only characters
    * that would break the TSV framing. */
  private[sources] def esc(s: String): String =
    if (s == null) "%N" else s.flatMap {
      case '%'  => "%25"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c    => c.toString
    }

  private[sources] def unesc(s: String): String =
    if (s == "%N") null
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length && s.charAt(i + 1) != 'N') {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

  /** Segment files of one topic partition as (start, endExclusive, file),
    * sorted. Offsets come from file NAMES — planning a micro-batch never
    * opens a segment (the Kafka index-file trick). */
  private[sources] def segments(dir: String, p: Int): Seq[(Long, Long, java.io.File)] = {
    val pDir = new java.io.File(s"$dir/p=$p")
    if (!pDir.isDirectory) Nil
    else pDir.listFiles().toSeq
      .flatMap { f =>
        f.getName match {
          case SegmentName(s, e, _) => Some((s.toLong, e.toLong, f))
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  private val SegmentName = """segment-(\d+)-(\d+)(\.t[^.]+)?\.tsv""".r

  /** Current end offset (exclusive) of a partition. */
  private[sources] def endOffset(dir: String, p: Int): Long =
    segments(dir, p).lastOption.map(_._2).getOrElse(0L)

  /** Partition ids present in the log dir. */
  private[sources] def partitions(dir: String): Seq[Int] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
      .map(_.getName.stripPrefix("p=").toInt)
      .sorted
  }
}
