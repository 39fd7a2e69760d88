package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Versioned

/** The NATIVE DSv2 micro-batch stream over a versioned table — what
  * `spark.readStream.table("cat.ns.t")` and
  * `readStream.format("graft-versioned").load(root)` plan through the
  * `MICRO_BATCH_READ` capability.
  * Offsets are manifest versions (atomic, totally ordered,
  * checkpoint-serializable); a micro-batch `(start, end]` is planned
  * PARTITION-GRAIN straight from the manifests:
  *
  *  - bare `readStream.table(t)` serves table-schema ROWS — the rows
  *    each append commit introduced ([[Versioned.changesSince]]
  *    semantics, Delta's streaming-read default). A commit that
  *    REMOVES rows fails loudly (rows can't represent it) unless
  *    `skipChangeCommits=true` (Delta's option, lossy) — or unless
  *    the query projects the envelope, below;
  *  - projecting the `_change_type` / `_commit_version` METADATA
  *    columns ([[GraftStreamEnvelope]]) upgrades the stream to the
  *    full row-level change feed
  *    ([[Versioned.changeFeed]] semantics): inserts from new files,
  *    CoW merge/delete/update from their cdf files, deletion-vector
  *    deletes replayed lazily from the manifest + immutable sidecars
  *    — byte-equal to the batch feed.
  *
  * Reader options: `startingVersion` (default 0 = full history) or
  * `startingTimestamp`, `maxVersionsPerTrigger` /
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` (admission control),
  * `skipChangeCommits`. Insert envelopes — the hot path — read
  * through Spark's VECTORIZED parquet reader with the envelope
  * constants riding the partition-value mechanism; replay pieces
  * (cdf / positional) are row-grain with per-file position sets, all
  * O(changed data), never a snapshot re-read. */
final class GraftMicroBatchStream(spark: SparkSession, root: String,
    required: StructType, tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def opt(k: String): Option[String] = Option(options.get(k))
  // `startingTimestamp` (Delta's option, inclusive: commits published
  // at-or-after the instant stream; see Versioned.parseTimestampMillis
  // for the accepted forms); mutually exclusive with `startingVersion`
  private val startingTs: Option[Long] =
    opt("startingTimestamp").map(Versioned.parseTimestampMillis)
  require(startingTs.isEmpty || opt("startingVersion").isEmpty,
    "startingVersion and startingTimestamp are mutually exclusive")
  private val startingVersion = startingTs
    .map(Versioned.versionBeforeTimestamp(root, _))
    .orElse(opt("startingVersion").map(_.toLong))
    .getOrElse(0L)
  private val maxVersions = opt("maxVersionsPerTrigger").map(_.toLong)
  // file/byte-grain admission (the Delta-source knobs): a micro-batch
  // stops admitting once it holds this many insert FILES / BYTES —
  // a backfill commit drains as several bounded batches through a
  // sub-version offset instead of one giant batch
  private val maxFiles = opt("maxFilesPerTrigger").map(_.toInt)
  private val maxBytes = opt("maxBytesPerTrigger").map(_.toLong)
  maxFiles.foreach(n => require(n > 0, s"maxFilesPerTrigger must be " +
    s"positive, got $n"))
  maxBytes.foreach(n => require(n > 0, s"maxBytesPerTrigger must be " +
    s"positive, got $n"))
  private val skipChangeCommits = opt("skipChangeCommits").exists(_.toBoolean)

  // the projection contract: data columns first, then any of the
  // envelope metadata columns (_change_type, _commit_version)
  private val envNames = Set("_change_type", "_commit_version")
  private val dataCount = required.fieldNames.count(n => !envNames(n))
  require(required.fieldNames.zipWithIndex.forall { case (n, i) =>
    envNames(n) == (i >= dataCount) },
    s"envelope metadata columns must trail the data columns, got " +
      required.fieldNames.mkString(", "))
  private val tail: Seq[String] =
    required.fieldNames.drop(dataCount).toIndexedSeq
  private val wantsEnvelope = tail.contains("_change_type")
  private val dataSchema = StructType(required.fields.take(dataCount))
  // streaming scans are not column-pruned today, and only the full
  // table projection is exercised — pin it
  require(dataSchema.fieldNames.sameElements(tableSchema.fieldNames),
    "the streaming scan expects the full table schema projection, got " +
      dataSchema.fieldNames.mkString(", "))

  /** Offset → (version, idx): idx = -1 means the version is FULLY
    * consumed (the plain [[VersionOffset]] form); idx ≥ 0 means the
    * first `idx` insert files of `v` are consumed (sub-version pacing,
    * [[VersionFileOffset]]). */
  private def parseJson(s: String): (Long, Long) = s.split(':') match {
    case Array(v) => (v.toLong, -1L)
    case Array(v, i) => (v.toLong, i.toLong)
    case other => throw new IllegalStateException(
      s"unparseable stream offset: ${other.mkString(":")}")
  }

  private def parse(o: Offset): (Long, Long) = parseJson(o.json())

  private def mk(v: Long, idx: Long): Offset =
    if (idx < 0) VersionOffset(v) else VersionFileOffset(v, idx)

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def deserializeOffset(json: String): Offset = {
    val (v, i) = parseJson(json)
    mk(v, i)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  // Trigger.AvailableNow: the run's END is fixed ONCE at prepare time
  // (versions landing mid-drain wait for the next run), while the
  // per-trigger admission knobs still pace the individual batches —
  // the Kafka source's admission shape
  @volatile private var availableTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Versioned.latestVersion(root)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val (fromV, fromIdx) = parse(start)
    val latestNow = Versioned.latestVersion(root).getOrElse(return start)
    var bound = availableTarget
      .map(t => math.min(t, latestNow)).getOrElse(latestNow)
    maxVersions.foreach(n =>
      bound = math.min(bound, fromV + math.max(1L, n)))
    if (maxFiles.isEmpty && maxBytes.isEmpty)
      return if (bound > fromV) VersionOffset(bound) else start
    // file/byte admission: walk versions, accumulating insert files
    // until a budget is exhausted. A row-removing commit is ONE
    // indivisible unit — it ends the batch (alone if first). Progress
    // is guaranteed: the first unit always admits, budget or not.
    var fileBudget = maxFiles.map(_.toLong).getOrElse(Long.MaxValue)
    var byteBudget = maxBytes.getOrElse(Long.MaxValue)
    var cur: (Long, Long) = (fromV, fromIdx)
    var advanced = false
    val vs = Versioned.versions(root)
      .filter(v => (v > fromV || (v == fromV && fromIdx >= 0)) &&
        v <= bound)
    val it = vs.iterator
    var done = false
    while (!done && it.hasNext) {
      val v = it.next()
      Versioned.feedAdmissionUnits(root, v) match {
        case None =>
          // indivisible change commit: its own batch boundary
          if (!advanced) { cur = (v, -1L); advanced = true }
          done = true
        case Some((files, removal)) =>
          // `cont`: this version's first slice (and its DV
          // application, if any) was consumed by a previous batch —
          // the remaining insert files slice like a plain append's
          val cont = v == fromV && fromIdx >= 0
          if (removal && !cont) {
            // the FIRST slice of a row-removing delta starts its own
            // batch (the DV application is the progress unit — it
            // admits even with no byte budget) and ends it at the
            // slice boundary, so a wide MoR UPDATE drains bounded
            // instead of as one giant batch
            if (advanced) done = true
            else {
              var take = 0
              var stop = false
              files.foreach { case (_, bytes) =>
                if (!stop) {
                  if (fileBudget > 0 && byteBudget > 0) {
                    take += 1; fileBudget -= 1; byteBudget -= bytes
                  } else stop = true
                }
              }
              cur = if (take == files.size) (v, -1L) else (v, take.toLong)
              advanced = true
              done = true
            }
          } else {
            val startIdx = if (cont) fromIdx else 0L
            val rest = files.drop(startIdx.toInt)
            var take = 0
            var stop = false
            rest.foreach { case (_, bytes) =>
              if (!stop) {
                // the first unit of the batch always admits (progress
                // guarantee), charging its bytes against the budget
                val admit = (fileBudget > 0 && byteBudget > 0) ||
                  (take == 0 && !advanced)
                if (admit) { take += 1; fileBudget -= 1; byteBudget -= bytes }
                else stop = true
              }
            }
            if (take == rest.size) { cur = (v, -1L); advanced = true }
            else if (take > 0) {
              cur = (v, startIdx + take); advanced = true; done = true
            } else done = true
          }
      }
    }
    if (!advanced) start else mk(cur._1, cur._2)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (fromV, fromIdx) = parse(start); val (toV, toIdx) = parse(end)
    if (toV < fromV || (toV == fromV && fromIdx < 0)) return Array.empty
    // schema pinned at stream start: history older than the pin
    // null-fills; a table that EVOLVED PAST the pin fails the run (a
    // restart re-pins) — the lakehouse-source contract
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType.sql))
    val pinned = shape(tableSchema).toSet
    val now = Versioned.tableSchema(spark, root, Some(toV))
    if (!shape(now).forall(pinned.contains)) throw new IllegalStateException(
      s"schema of versioned table at $root changed by version $toV " +
        s"(stream pinned ${tableSchema.simpleString}, table is now " +
        s"${now.simpleString}); restart the streaming query to pick " +
        "up the new schema")
    // a PARTIAL start (sub-version admission) re-plans its version's
    // whole window from the PREDECESSOR version, then slices the
    // boundary insert pieces by file index — every mapping-stability
    // and action check runs exactly as for a full window
    val fromFull =
      if (fromIdx >= 0)
        Versioned.versions(root).filter(_ < fromV).lastOption.getOrElse(0L)
      else fromV
    val (all, _, physNames) = Versioned.feedWindowPlan(root, fromFull, toV,
      appendsOnly = !wantsEnvelope, skipChangeCommits)
    def notPartial(v: Long): Unit =
      require(!(v == fromV && fromIdx >= 0) && !(v == toV && toIdx >= 0),
        s"sub-version offset minted for a non-insert commit v$v at $root")
    val pieces = all.flatMap {
      case Versioned.FeedInsert(v, fs) =>
        var files = fs
        if (v == toV && toIdx >= 0) files = files.take(toIdx.toInt)
        if (v == fromV && fromIdx >= 0) files = files.drop(fromIdx.toInt)
        if (files.isEmpty) None else Some(Versioned.FeedInsert(v, files))
      case p @ Versioned.FeedCdf(v, _) => notPartial(v); Some(p)
      case p @ Versioned.FeedDvDelete(v, _) =>
        // a write-delta commit drains BOUNDED: its DV application rode
        // the commit's FIRST slice, so a window CONTINUING the commit
        // (fromIdx ≥ 0) must not replay it — exactly-once across both
        // slices and restarts. A window whose END is a first slice
        // (v == toV, toIdx ≥ 0) includes it.
        if (v == fromV && fromIdx >= 0) None else Some(p)
    }
    // thread the WINDOW's column mapping to the factory (created right
    // after this in both batch and micro-batch execution): re-reading
    // the LATEST manifest there would race a rename committed between
    // plan and factory — the current batch must read its files under
    // the names its own window was planned against
    lastWindowPhys = physNames
    val rootAbs = new java.io.File(root).getAbsolutePath
    def abs(rel: String) = {
      val f = new java.io.File(rel)
      if (f.isAbsolute) f.getPath else new java.io.File(rootAbs, rel).getPath
    }
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val parts = Seq.newBuilder[InputPartition]
    pieces.foreach {
      case Versioned.FeedInsert(v, fs) =>
        // pack insert files into bounded partitions (the hot path —
        // a backfill window is the whole table)
        var cur = Seq.newBuilder[GraftFeedChunk]; var bytes = 0L
        var empty = true
        fs.foreach { case (rel, b) =>
          if (!empty && bytes + b > maxPart) {
            parts += GraftFeedPartition(cur.result())
            cur = Seq.newBuilder[GraftFeedChunk]; bytes = 0L; empty = true
          }
          cur += GraftFeedChunk(abs(rel), rel, v, kind = 0)
          bytes += b; empty = false
        }
        if (!empty) parts += GraftFeedPartition(cur.result())
      case Versioned.FeedCdf(v, fs) =>
        parts ++= fs.map(f =>
          GraftFeedPartition(Seq(GraftFeedChunk(abs(f), f, v, kind = 1))))
      case Versioned.FeedDvDelete(v, perFile) =>
        parts ++= perFile.map { case (f, inline, sidecars) =>
          GraftFeedPartition(Seq(GraftFeedChunk(abs(f), f, v, kind = 3,
            positions = inline, sidecars = sidecars.map(abs))))
        }
    }
    val out = parts.result().toArray
    // Spark refuses mixed row/columnar partitions within one scan:
    // the factory goes columnar only when THIS window is pure inserts
    lastWindowAllInserts = out.forall(
      _.asInstanceOf[GraftFeedPartition].chunks.forall(_.kind == 0))
    out
  }

  // set by planInputPartitions (driver-side, paired with the factory
  // creation that follows it in both batch and micro-batch execution);
  // initialized from the table's current mapping for the degenerate
  // factory-without-plan path (an empty window plans no partitions, so
  // the values are never read off a row there)
  @volatile private var lastWindowAllInserts = true
  @volatile private var lastWindowPhys: Map[String, String] =
    Versioned.plannedMeta(root).physNames

  override def createReaderFactory(): PartitionReaderFactory = {
    val physNames = lastWindowPhys
    def phys(n: String): String = physNames.getOrElse(n, n)
    val physData = StructType(dataSchema.fields.map(f =>
      f.copy(name = phys(f.name))))
    // cdf files store LOGICAL names (they are commit artifacts of the
    // DataFrame verbs) — requested logical + the in-file change type
    val cdfRequested = StructType(dataSchema.fields :+
      StructField("_change_type", StringType, nullable = true))
    val vectorized = lastWindowAllInserts &&
      spark.sessionState.conf.parquetVectorizedReaderEnabled &&
        org.apache.spark.sql.GraftParquetIO.isVectorizable(spark, physData)
    new GraftFeedReaderFactory(
      org.apache.spark.sql.GraftParquetIO.taskReadConf(spark, physData),
      org.apache.spark.sql.GraftParquetIO.taskReadConf(spark, cdfRequested),
      org.apache.spark.sql.GraftParquetIO.taskReadConf(spark,
        GraftParquetReaderFactory.DvSchema),
      tail, dataSchema.fields.map(_.dataType).toIndexedSeq, vectorized,
      org.apache.spark.sql.GraftParquetIO.columnarBatchSize(spark))
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftMicroBatchStream($root, from=$startingVersion)"
}

/** Serves the change-feed envelope on a stream that projects it.
  * Spark builds a DSv2 micro-batch stream from
  * `newScanBuilder(options).build()` with no column pruning, so a scan
  * never learns which metadata columns a query projected; and once
  * any metadata column is referenced, the analyzer extends a streaming
  * relation with every one the table declares. This post-hoc
  * resolution rule closes the gap for [[GraftTable]]: the relation
  * keeps only the metadata columns the query references, and its table
  * is rebound to one whose stream serves exactly those envelope
  * columns after the data columns. `_file`/`_pos` name no row on a
  * change stream and are refused. Registered in every session by
  * [[GraftStreamingExtensions]]. */
object GraftStreamEnvelope
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
  import org.apache.spark.sql.catalyst.util.MetadataColumnHelper

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val referenced = AttributeSet(plan.collect { case p => p.references }
      .flatMap(_.toSeq))
    plan.resolveOperatorsUp {
      case s @ StreamingRelationV2(_, _, t: GraftTable, _, output, _, _, _)
          if output.exists(_.isMetadataCol) =>
        val (meta, data) = output.partition(_.isMetadataCol)
        val kept = meta.filter(referenced.contains)
        val provenance = kept.map(_.name).filterNot(
          VersionedSource.envelope.fieldNames.contains)
        if (provenance.nonEmpty) throw new UnsupportedOperationException(
          s"${provenance.mkString(", ")}: row provenance columns are not " +
            s"served on a stream of ${t.name()}; a stream serves the " +
            "change-feed envelope (_change_type, _commit_version)")
        val names = kept.map(_.name)
        if (kept.size == meta.size && t.streamEnvelope == names) s
        else s.copy(table = t.withStreamEnvelope(names), output = data ++ kept)
    }
  }
}

/** Registers [[GraftStreamEnvelope]] in every Spark session through
  * Spark's `SparkSessionExtensionsProvider` service loader
  * (`META-INF/services`), so a stream projects the envelope without
  * opting into [[graft.GraftExtensions]]. */
final class GraftStreamingExtensions
    extends org.apache.spark.sql.SparkSessionExtensionsProvider {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectPostHocResolutionRule(_ => GraftStreamEnvelope)
}

/** One feed chunk: a whole file plus its envelope recipe.
  * kind 0 = insert (constants: 'insert', version);
  * kind 1 = cdf file (change type IN the file, version constant);
  * kind 3 = positional-delete replay (rows AT `positions` ∪ sidecar
  *          positions emit as deletes). */
private[sources] final case class GraftFeedChunk(path: String,
    relPath: String, version: Long, kind: Int,
    positions: Seq[Long] = Nil, sidecars: Seq[String] = Nil)

private[sources] final case class GraftFeedPartition(
    chunks: Seq[GraftFeedChunk]) extends InputPartition

private[sources] final class GraftFeedReaderFactory(
    dataConf: SerializableConfiguration,
    cdfConf: SerializableConfiguration,
    dvConf: SerializableConfiguration,
    tail: Seq[String],
    dataTypes: IndexedSeq[org.apache.spark.sql.types.DataType],
    vectorized: Boolean, capacity: Int) extends PartitionReaderFactory {

  import org.apache.spark.sql.vectorized.ColumnarBatch

  // only pure-insert partitions take the columnar path (their envelope
  // is constants, served by the reader's partition-value mechanism)
  override def supportColumnarReads(p: InputPartition): Boolean =
    vectorized &&
      p.asInstanceOf[GraftFeedPartition].chunks.forall(_.kind == 0)

  private def constTail(version: Long): Option[(StructType, InternalRow)] =
    if (tail.isEmpty) None
    else Some((
      StructType(tail.map {
        case "_change_type" =>
          StructField("_change_type", StringType, nullable = true)
        case n => StructField(n, LongType, nullable = true)
      }),
      new GenericInternalRow(tail.map {
        case "_change_type" => UTF8String.fromString("insert"): Any
        case _ => version: Any
      }.toArray)))

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftFeedPartition]
    new PartitionReader[ColumnarBatch] {
      private val it = p.chunks.iterator
      private var reader: org.apache.spark.sql.execution.datasources
        .parquet.VectorizedParquetRecordReader = _
      @scala.annotation.tailrec
      override def next(): Boolean = {
        if (reader != null) {
          if (reader.nextBatch()) return true
          reader.close(); reader = null
        }
        if (!it.hasNext) false
        else {
          val c = it.next()
          reader = org.apache.spark.sql.GraftParquetIO.openColumnarReader(
            dataConf.value, c.path, 0L, Long.MaxValue, capacity,
            constTail(c.version))
          next()
        }
      }
      override def get(): ColumnarBatch = reader.resultBatch()
      override def close(): Unit = if (reader != null) reader.close()
    }
  }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFeedPartition]
    new PartitionReader[InternalRow] {
      private val it = p.chunks.iterator
      private var reader: org.apache.parquet.hadoop.ParquetReader[InternalRow] = _
      private var chunk: GraftFeedChunk = _
      private val joined = new JoinedRow
      private var tailRow: GenericInternalRow = _
      private var bits: java.util.BitSet = _
      private var pos = -1L
      private var row: InternalRow = _
      // kind 1 reads data+_change_type from the file; required order is
      // data…, then `tail` — reassemble via a reusable output row
      private var cdfOut: GenericInternalRow = _

      private def sidecarBits(c: GraftFeedChunk): java.util.BitSet = {
        val b = new java.util.BitSet()
        c.positions.foreach(p =>
          b.set(GraftParquetReaderFactory.checkPos(p)))
        val target = UTF8String.fromString(c.relPath)
        c.sidecars.foreach { sc =>
          val r = org.apache.spark.sql.GraftParquetIO
            .openRowReader(dvConf.value, sc)
          try {
            var x = r.read()
            while (x != null) {
              if (x.getUTF8String(0) == target)
                b.set(GraftParquetReaderFactory.checkPos(x.getLong(1)))
              x = r.read()
            }
          } finally r.close()
        }
        b
      }

      @scala.annotation.tailrec
      override def next(): Boolean = {
        if (reader != null) {
          row = reader.read()
          // per-kind row admission
          while (row != null && !admit(row)) row = reader.read()
          if (row != null) return true
          reader.close(); reader = null
        }
        if (!it.hasNext) false
        else {
          chunk = it.next()
          val conf = if (chunk.kind == 1) cdfConf else dataConf
          reader = org.apache.spark.sql.GraftParquetIO
            .openRowReader(conf.value, chunk.path)
          pos = -1L
          bits = if (chunk.kind == 3) sidecarBits(chunk) else null
          if (tail.nonEmpty) {
            tailRow = new GenericInternalRow(tail.length)
            tail.zipWithIndex.foreach {
              case ("_change_type", i) => tailRow.update(i,
                UTF8String.fromString(
                  if (chunk.kind == 0) "insert" else "delete"))
              case (_, i) => tailRow.update(i, chunk.version)
            }
          }
          if (chunk.kind == 1) cdfOut = new GenericInternalRow(
            dataTypes.length + tail.length)
          next()
        }
      }

      private def admit(r: InternalRow): Boolean = chunk.kind match {
        case 0 => true
        case 1 => true
        case 3 => pos += 1; bits.get(pos.toInt)
        case k => throw new IllegalStateException(s"unknown kind $k")
      }

      override def get(): InternalRow = chunk.kind match {
        case 1 =>
          // file row = data… , _change_type; output = data…, tail
          val n = dataTypes.length
          var i = 0
          while (i < n) {
            cdfOut.update(i,
              if (row.isNullAt(i)) null else row.get(i, dataTypes(i)))
            i += 1
          }
          tail.zipWithIndex.foreach {
            case ("_change_type", j) =>
              cdfOut.update(n + j,
                if (row.isNullAt(n)) null else row.getUTF8String(n))
            case (_, j) => cdfOut.update(n + j, chunk.version)
          }
          cdfOut
        case _ => if (tail.nonEmpty) joined(row, tailRow) else row
      }

      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

/** The `.changes` CHANGE-FEED metadata table (`cat.ns.t.changes` —
  * Iceberg's `db.table.changes` convention): the table's row-level
  * change feed as a first-class relation. Schema = table columns +
  * `_change_type` + `_commit_version` (fixed — no option-dependent
  * schema, which is what makes this surface possible in pure DSv2
  * where `readStream.table` cannot negotiate projections).
  *
  *  - `spark.readStream.table("cat.ns.t.changes")` — the NATIVE
  *    micro-batch change feed: every commit kind replays
  *    partition-grain from the manifest (see
  *    [[GraftMicroBatchStream]]); options `startingVersion`,
  *    `maxVersionsPerTrigger`.
  *  - `spark.read.table("cat.ns.t.changes")` — the batch window
  *    `(startingVersion, endingVersion]` (defaults: full history),
  *    row-equal to [[Versioned.changeFeed]].
  */
final class GraftFeedTable(spark: SparkSession, fullName: String,
    root: String, pin: Option[Long] = None)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = fullName

  // a VERSION AS OF pin fixes the feed's schema AND its default window
  // end at that version — a pinned read returns the same data forever,
  // the time-travel contract
  override lazy val schema: StructType =
    VersionedSource.feedSchema(spark, root, pin)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new GraftFeedScan(spark, root, schema, options, pin)
    }

  override def toString: String = s"GraftFeedTable($fullName)"
}

/** Scan of the `.changes` table: batch = one planned window,
  * streaming = the native micro-batch stream (envelope mode). */
final class GraftFeedScan(spark: SparkSession, root: String,
    feedSchema: StructType, options: CaseInsensitiveStringMap,
    pin: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {

  private def opt(k: String): Option[String] =
    Option(options.get(k))

  override def readSchema(): StructType = feedSchema

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    // a streaming feed follows the table forward — pinning it at a
    // past version contradicts that; refuse loudly rather than float
    require(pin.isEmpty,
      s"VERSION/TIMESTAMP AS OF is not supported on a STREAMING read " +
        s"of the change feed at $root — use startingVersion to bound " +
        "where the stream begins, or a batch read with endingVersion")
    new GraftMicroBatchStream(spark, root, feedSchema,
      StructType(feedSchema.fields.dropRight(2)), options)
  }

  // batch: plan the (startingVersion, endingVersion] window through
  // the same partition-grain feed planner the stream uses
  private lazy val stream = new GraftMicroBatchStream(spark, root,
    feedSchema, StructType(feedSchema.fields.dropRight(2)), options)

  override def planInputPartitions(): Array[InputPartition] = {
    val from = opt("startingversion").map(_.toLong).getOrElse(0L)
    // a VERSION AS OF pin is the default window end; an explicit
    // endingVersion may narrow it but never read past the pin
    val explicit = opt("endingversion").map(_.toLong)
    (explicit, pin) match {
      case (Some(e), Some(p)) => require(e <= p,
        s"endingVersion=$e reads past the VERSION AS OF $p pin on the " +
          s"change feed at $root")
      case _ => ()
    }
    val to = explicit.orElse(pin)
      .orElse(Versioned.latestVersion(root)).getOrElse(0L)
    stream.planInputPartitions(VersionOffset(from), VersionOffset(to))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    stream.createReaderFactory()

  override def description(): String = s"GraftFeedScan($root)"
}
