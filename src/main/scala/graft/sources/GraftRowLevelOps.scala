package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.operators.Versioned

/** Group-based (copy-on-write) DSv2 row-level operations: plain
  * `spark.sql("MERGE INTO cat.ns.t …")` / UPDATE / DELETE plan through
  * Spark's own `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` analyzer rules with no dispatcher anywhere.
  *
  * The contract (Iceberg's copy-on-write shape): the operation's SCAN
  * records exactly which files it planned (manifest-stats pruned by
  * whatever filters Spark pushed); the WRITE stages the replacement
  * rows through the executor-write core and the commit swaps exactly
  * the recorded files for the staged ones — every untouched live file
  * carries by reference. The table version is pinned at analysis; a
  * concurrent commit fails the publish loudly (the replacement rows
  * were computed from the pinned snapshot — Delta's concurrent-
  * modification abort).
  *
  * Scale posture, honestly: Spark's group-based rewrite puts no
  * statically-prunable predicate above the target relation for UPDATE/
  * MERGE (the candidate-set derivation lives in runtime group
  * filtering, which needs a native DSv2 batch scan), so those two
  * verbs through BARE SQL rewrite every file the static pushdown
  * can't exclude. DELETE avoids this entirely: [[GraftTable]] also
  * implements `SupportsDelete`, so Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts any DELETE whose
  * condition translates exactly into [[Versioned.delete]] — the
  * file-pruned verb. For pruned UPDATE/MERGE at scale, the
  * [[graft.operators.VersionedSql]] dispatcher remains the fast path
  * (keys-frame pruning); bare SQL is the compatibility surface. */
final class GraftRowLevelOperation(spark: SparkSession, root: String,
    pinned: Long, cmd: RowLevelOperation.Command,
    tableSchema: StructType) extends RowLevelOperation {

  // relative paths of the files the scan planned — what commit swaps
  @volatile private var scanned: Option[Seq[String]] = None

  private[sources] def recordScanned(files: Seq[String]): Unit =
    scanned = Some(files)

  override def command(): RowLevelOperation.Command = cmd

  /** Row provenance for the rewrite: Spark's group-based plan routes
    * rows through `DataAndMetadataWritingSparkTask` (which projects
    * the data row back out of the `__row_operation`-tagged join row)
    * only when the operation asks for metadata — `_file` is also the
    * natural group key for a future file-grain runtime filter. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_file"))

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(spark, root, pinned, tableSchema, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceFilesWrite(spark, root, pinned, info.schema,
            () => scanned.getOrElse(throw new IllegalStateException(
              "row-level write ran before its scan planned files")),
            cmd.toString.toLowerCase(java.util.Locale.ROOT))
        override def toString: String = s"GraftRowLevelWrite($root)"
      }
    }

  override def description(): String =
    s"GraftRowLevelOperation($cmd, $root, v$pinned)"
}

/** The row-level scan builder: the group-based rewrite plans the same
  * native DSv2 `BatchScanExec` plain catalog reads take — vectorized
  * parquet batches, FilePartition-style packing/splitting,
  * manifest-stats pruning from the pushed filters — plus RUNTIME group
  * filtering (Spark's `RowLevelOperationRuntimeGroupFiltering` derives
  * the matching groups and narrows the scan — and with it the replaced
  * file set — at execution time). */
final class GraftRowLevelScanBuilder(spark: SparkSession, root: String,
    version: Long, tableSchema: StructType, op: GraftRowLevelOperation)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // advisory: all re-applied above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftRowLevelScan(spark, root, version, required,
      pushed.toIndexedSeq, op.recordScanned, dvAware = false)
}

/** Scan builder for the DELTA-BASED row-level operation: DV-AWARE
  * (pending deletion vectors anti-filter in the reader — a second
  * delta op matches only LIVE rows) and position-serving. `_pos` rides
  * the vectorized reader's row-index mechanism (file-absolute even
  * across byte-range splits), so the matching pass stays columnar. */
final class GraftDeltaScanBuilder(spark: SparkSession, root: String,
    version: Long, tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftRowLevelScan(spark, root, version, required,
      pushed.toIndexedSeq, _ => (), dvAware = true)
}

/** Native DSv2 batch scan over one pinned version. Serves the `_file`
  * provenance metadata column (one input partition per manifest file);
  * used by row-level operations (which record their planned file set
  * through `onScanned`) AND by any regular catalog read that asks for
  * `_file` — including Spark's runtime-group-filter subquery, which
  * deliberately scans through the ORIGINAL table's builder ("a regular
  * batch scan") and must see the same `_file` domain the row-level
  * scan prunes by. `filter` (runtime group filtering) re-prunes the
  * file list by partition-column IN/EQ stats bounds and by `_file`
  * identity, re-recording the scanned set — the write then swaps only
  * the files that could hold matching groups. */
final class GraftRowLevelScan(spark: SparkSession, root: String,
    version: Long, required: StructType,
    pushed: Seq[Filter], onScanned: Seq[String] => Unit,
    dvAware: Boolean, splittable: Boolean = true,
    streamFactory: Option[() => org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream] = None,
    spjAllowed: Boolean = false,
    limitHint: Option[Int] = None)
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  // Pending DELETION VECTORS refuse on a RAW scan (the group-based
  // copy-on-write operation, whose publish would refuse anyway — this
  // fails at plan time) but are ANTI-FILTERED per file by a DV-AWARE
  // scan (plain catalog reads, the delta operation's matching scan):
  // live rows only, never a resurrected one.
  private val dvs: Seq[Versioned.DvEntry] =
    Versioned.pendingDvEntries(root, version)
  require(dvAware || dvs.isEmpty,
    s"table at $root has pending deletion vector(s); compact to " +
      "materialize them before a copy-on-write row-level operation " +
      "(its by-reference carry would resurrect deleted rows)")

  private val planned = Versioned.plannedMeta(root)
  private def phys(n: String): String = planned.physNames.getOrElse(n, n)
  // `_file`/`_pos` in `required` are the provenance METADATA columns
  // unless the pinned table schema declares a data column of that name
  // (then GraftTable.metadataColumns omits it and it reads as data)
  private val metaNames: Set[String] = {
    val asked = Seq("_file", "_pos").filter(required.fieldNames.contains)
    if (asked.isEmpty) Set.empty
    else {
      val declared = Versioned.tableSchema(spark, root, Some(version))
        .fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      asked.filterNot(declared).toSet
    }
  }
  private val needPos = metaNames("_pos")
  private val dvActive = dvs.nonEmpty
  // the exact per-file DV-deleted map is derived from the manifest
  // ONCE per scan (lazy — pure-CoW scans never pay it) and shared by
  // its three consumers: the rows/bytes estimate, the staleness
  // check's live count, and the LIMIT file cap. Without the sharing,
  // one scan planning re-read the manifest up to three times.
  private lazy val dvDeletedExact: Option[Map[String, Long]] =
    if (!dvActive) Some(Map.empty)
    else Versioned.dvDeletedCountsExact(root, version)

  // ---- reader layout, fixed at scan construction so split planning
  // and the factory can never disagree. `_file`/`_pos` (the provenance
  // metadata columns) are served by the reader itself, not parquet;
  // Spark appends metadata output after data output, so they can only
  // sit in the trailing positions.
  private val metaIdx = required.fieldNames.zipWithIndex
    .filter { case (n, _) => metaNames(n) }
  private val dataCount = required.length - metaIdx.length
  require(metaIdx.forall(_._2 >= dataCount),
    s"metadata columns must trail the data columns, got " +
      required.fieldNames.mkString(", "))
  // files under column mapping store physical names; row positions
  // stay the logical order the query expects
  private val physRequested = StructType(required.fields.take(dataCount)
    .map(f => f.copy(name = phys(f.name))))
  // the vectorized reader serves every schema the standard scan would
  // serve vectorized (`ParquetFileFormat.supportBatch` gate); anything
  // else falls back to the row-grain reader — correctness never
  // depends on the columnar path. Position serving rides the reader's
  // own row-index mechanism and deletion vectors apply as a per-batch
  // live-row mapping, so BOTH stay columnar (the Delta/Iceberg DV read
  // architecture — MoR's steady state keeps the vectorized scan).
  private val vectorized =
    spark.sessionState.conf.parquetVectorizedReaderEnabled &&
      org.apache.spark.sql.GraftParquetIO.isVectorizable(spark,
        physRequested)
  // the row-grain fallback serves `_pos`/DV skipping by COUNTING rows,
  // which needs whole files; the vectorized reader's row indexes are
  // file-absolute even across byte-range splits, so it keeps splitting
  private val effSplittable = splittable &&
    (vectorized || (!needPos && !dvActive))

  @volatile private var files: Seq[String] =
    Versioned.candidateFilesForBounds(root, version,
      VersionedSource.bounds(pushed))
  onScanned(files)

  // manifest truth for split planning and statistics: path → (bytes,
  // rows), read once at scan construction
  private val meta = Versioned.fileMeta(root, version)
  // split-planning knobs captured driver-side (session conf)
  private val maxPartitionBytes =
    spark.sessionState.conf.filesMaxPartitionBytes
  private val openCostInBytes = spark.sessionState.conf.filesOpenCostInBytes
  private val minPartitionNum = spark.sessionState.conf.filesMinPartitionNum
    .getOrElse(spark.sparkContext.defaultParallelism)

  // ---- storage-partitioned joins (opt-in): when BOTH
  // spark.sql.sources.v2.bucketing.enabled and
  // spark.graft.spj.preserveDataGrouping are true, a partitioned
  // table's scan groups its files by partition TUPLE (each data file
  // holds exactly one, recorded as min==max footer stats) and reports
  // `KeyGroupedPartitioning` over the identity transforms — two graft
  // tables partitioned the same way then JOIN WITHOUT A SHUFFLE on
  // either side (Spark's `KeyGroupedShuffleSpec` alignment, the
  // Iceberg SPJ architecture). At 100 TB this removes the exchange of
  // both fact tables — the single largest cost in a co-partitioned
  // join. Opt-in (Iceberg's preserve-data-grouping stance) because
  // key-grouped planning coarsens tasks to one per partition tuple,
  // which is the wrong default for plain scans; and the scan then
  // declines runtime group filtering (group stability is what the
  // join alignment trusts). Refuses — planning the ordinary way —
  // whenever any candidate file's tuple fails exact decode, a
  // partition column isn't projected, or the table is unpartitioned.
  //
  // SKEW: a group's files are packed into MULTIPLE keyed partitions of
  // ≤ maxPartitionBytes each (Iceberg's split-per-task shape). With
  // plain SPJ Spark regroups same-key partitions into one task; with
  // `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  // .enabled` it instead KEEPS the fine grain on the bigger side and
  // replicates the other — a partition holding 100× the data runs as
  // many bounded tasks instead of one giant one, still exchange-free.
  private val spjState: Option[(
      Seq[org.apache.spark.sql.connector.expressions.Expression],
      Seq[(org.apache.spark.sql.catalyst.InternalRow, Seq[String])])] =
    if (!spjAllowed) None
    else if (!spark.sessionState.conf.v2BucketingEnabled) None
    else if (!spark.conf.getOption("spark.graft.spj.preserveDataGrouping")
        .exists(_.toBoolean)) None
    else {
      val partCols = Versioned.partitionByOf(root, Some(version))
      val txByHidden = Versioned.transformsOf(root, Some(version))
        .map(t => t.hidden -> t).toMap
      val legacyTx = Versioned.legacyTransformsOf(root, Some(version))
      val (entries, physAt) = Versioned.aggMeta(root, version)
      @annotation.tailrec
      def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
      // one decode CANDIDATE per spec generation: the physical stats
      // key to read, the type to decode under, and the projection of
      // the decoded value onto the REPORTED grain. A file keys under
      // the first candidate whose stats decode single-valued — its own
      // generation's hidden column.
      type Cand = (String, org.apache.spark.sql.types.DataType, Any => Any)
      type V2E = org.apache.spark.sql.connector.expressions.Expression
      // the clustering expressions resolve against the scan OUTPUT, so
      // every partition column must be projected — under its
      // output-schema name; stats keys are PHYSICAL at this version.
      // A HIDDEN transform clusters on fn(src): the SOURCE column must
      // be projected, the reported expression is the v2 transform
      // (resolved through the catalog's FunctionCatalog on the Spark
      // side), and the grouping key decodes from the hidden column's
      // stats under the transform's result type.
      val resolved: Seq[Option[(V2E, Seq[Cand])]] = partCols.map { pc =>
        txByHidden.get(pc) match {
          case Some(t) =>
            required.fields.find(_.name.equalsIgnoreCase(t.src)).flatMap { f =>
              // Spark's KeyGroupedPartitioning only supports SINGLE-
              // argument transform expressions (bucket rides a special
              // numBuckets slot; a literal width would be a second
              // child and the partitioning degrades to Unknown), so
              // truncate reports as the width-parameterized one-arg
              // function `truncate_<n>` — the catalog serves the
              // family, and the width stays in the canonical name so
              // different widths never falsely align
              val v2full: V2E =
                if (t.fn == "bucket") Expressions.bucket(t.n, f.name)
                else if (t.fn == "truncate")
                  Expressions.apply(s"truncate_${t.n}",
                    Expressions.column(f.name))
                else Expressions.apply(t.fn, Expressions.column(f.name))
              val own: Cand = (physAt.getOrElse(t.hidden, t.hidden),
                t.dataType(f.dataType), identity[Any] _)
              val legacySame = legacyTx.filter(l =>
                l.fn == t.fn && l.src.equalsIgnoreCase(t.src))
              if (legacySame.isEmpty) Some((v2full, Seq(own)))
              else if (t.fn == "bucket") {
                // MIXED-GENERATION COARSENING: a spec-evolved table
                // still reports a VALID clustering at the generations'
                // common grain g = gcd(all bucket counts) — sound
                // because pmod(h, n) % g == pmod(h, g) whenever g | n,
                // so every generation's single-tuple file projects
                // onto one g-bucket. The join side that still runs at
                // the old count aligns exchange-free through the
                // migration window (with allowCompatibleTransforms,
                // the bucket function's Reducer bridges unequal
                // counts); g < 2 means no useful common grain — refuse
                // into the shuffle, grouping stability first.
                val g = legacySame.map(_.n).foldLeft(t.n)(gcd)
                if (g < 2) None
                else {
                  val proj: Any => Any =
                    v => Int.box(v.asInstanceOf[Int] % g)
                  val cands = (t +: legacySame).map(l =>
                    (physAt.getOrElse(l.hidden, l.hidden),
                      org.apache.spark.sql.types.IntegerType
                        : org.apache.spark.sql.types.DataType, proj))
                  Some((Expressions.bucket(g, f.name): V2E, cands))
                }
              } else {
                // non-bucket families keep the conservative refusal on
                // mixed generations (old files lack the current hidden
                // column and fail the decode below → None): truncate's
                // coarsening direction is width-dependent per type and
                // the time grains would need cross-type decode — not
                // worth the correctness surface for a transient window
                Some((v2full, Seq(own)))
              }
            }
          case None =>
            required.fields.find(_.name.equalsIgnoreCase(pc)).map(f =>
              (Expressions.identity(f.name): V2E,
                Seq((physAt.getOrElse(pc, pc), f.dataType,
                  identity[Any] _): Cand)))
        }
      }
      if (partCols.isEmpty || resolved.exists(_.isEmpty)) None
      else {
        val names = resolved.flatten.map(_._1)
        val colCands = resolved.flatten.map(_._2)
        val byPath = entries.map(e => e.path -> e).toMap
        def decodeFile(e: Versioned.FileEntry): Option[Seq[Any]] = {
          val vs = colCands.map(cands =>
            cands.iterator.flatMap { case (k, dt, proj) =>
              GraftMetaAgg.fileKey(e, Seq((k, dt))).map(s => proj(s.head))
            }.nextOption())
          if (vs.forall(_.isDefined)) Some(vs.flatten) else None
        }
        val keyed = files.map { p =>
          byPath.get(p).flatMap(decodeFile).map(k => (k, p))
        }
        if (keyed.exists(_.isEmpty)) None
        else {
          val subs = keyed.flatten
            .groupBy(_._1).toSeq
            .flatMap { case (k, fs) =>
              val row = new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(k.toArray)
                : org.apache.spark.sql.catalyst.InternalRow
              // pack the group's files into byte-bounded sub-partitions
              // (whole files — every row of a file shares the tuple)
              val packs = Seq.newBuilder[Seq[String]]
              var cur = Seq.newBuilder[String]
              var bytes = 0L; var empty = true
              fs.map(_._2).foreach { p =>
                val b = byPath.get(p).map(_.bytes).getOrElse(0L)
                if (!empty && bytes + b > maxPartitionBytes) {
                  packs += cur.result()
                  cur = Seq.newBuilder[String]; bytes = 0L; empty = true
                }
                cur += p; bytes += b; empty = false
              }
              if (!empty) packs += cur.result()
              packs.result().map(sub => (row, sub))
            }
          Some((names, subs))
        }
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjState match {
      case Some((exprs, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs.toArray, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def readSchema(): StructType = required

  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    // the change-feed envelope columns are STREAMING-only metadata
    // (readStream.table); a batch scan has no envelope to serve and
    // must refuse rather than return nulls
    val env = required.fieldNames
      .filter(n => n == "_change_type" || n == "_commit_version")
    require(env.isEmpty,
      s"${env.mkString(", ")}: change-feed metadata columns resolve " +
        "only on streaming reads (spark.readStream.table) — batch " +
        "time travel reads snapshots, the stream reads changes")
    this
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFactory.map(_.apply()).getOrElse(
      throw new UnsupportedOperationException(
        s"${description()}: micro-batch read not available on this scan"))

  /** Commit-time truth for Catalyst's broadcast decision: bytes/rows
    * summed over the (statically pruned) candidate files — a
    * post-filter dimension read reports its REAL size, not a guess.
    * ANALYZE-computed column statistics (NDV, null count, min/max,
    * string lengths) report through `columnStats`, which Spark's
    * `DataSourceV2ScanRelation` converts into catalyst `ColumnStat`s —
    * the cost-based optimizer's join reordering and selectivity
    * estimation then run from commit-time truth. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // pending deletion vectors subtract EXACTLY when the manifest
      // recorded their cardinalities — a heavily-deleted MoR dimension
      // reports its live size, so the broadcast decision sees truth
      private val dvDel: Map[String, Long] =
        dvDeletedExact.getOrElse(Map.empty)
      private val (b, r) = files.foldLeft((0L, 0L)) { case ((bb, rr), p) =>
        val (fb, fr) = meta.getOrElse(p, (0L, 0L))
        val live = math.max(0L, fr - dvDel.getOrElse(p, 0L))
        // bytes scale by the live fraction — the broadcast threshold
        // compares BYTES, and deleted rows never ship
        val lb = if (fr <= 0L || live == fr) fb
          else (fb.toDouble * live / fr).toLong
        (bb + lb, rr + live)
      }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        import org.apache.spark.sql.types._
        val stored = Versioned.colStatsOf(root, version)
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        // STALENESS DISCIPLINE: ANALYZE stats survive DML unchanged
        // (the standard contract), but a table whose live row count
        // drifted past `spark.graft.analyze.staleFactor` (default 2×,
        // either direction) since a column was analyzed must not feed
        // CBO that column's stale NDV/min-max/histogram — estimating a
        // doubled table from half its rows misplans joins worse than
        // no estimate. Stale columns DROP from the report (CBO falls
        // back to the exact live numRows/sizeInBytes above, which
        // never go stale); re-ANALYZE re-arms them.
        val staleFactor = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.analyze.staleFactor", "2.0")
          .toDouble
        lazy val tableLive: Long = {
          val physical = meta.values.iterator.map(_._2).sum
          val deleted = dvDeletedExact.map(_.values.sum).getOrElse(0L)
          math.max(0L, physical - deleted)
        }
        def fresh(st: Versioned.ColStat): Boolean =
          st.rows <= 0L || staleFactor <= 1.0 || {
            val drift = tableLive.toDouble / st.rows
            drift <= staleFactor && drift >= 1.0 / staleFactor
          }
        required.fields.foreach { f =>
          stored.get(f.name.toLowerCase(java.util.Locale.ROOT))
            .filter(fresh)
            .foreach { st =>
              // min/max decode from the manifest's long/double scale
              // into CATALYST-internal values of the column type;
              // types outside the decode table serve counts only
              def dec(s: String): Option[Any] = f.dataType match {
                case ByteType => Some(s.toLong.toByte)
                case ShortType => Some(s.toLong.toShort)
                case IntegerType | DateType => Some(s.toLong.toInt)
                case LongType | TimestampType | TimestampNTZType =>
                  Some(s.toLong)
                case FloatType => Some(s.toDouble.toFloat)
                case DoubleType => Some(s.toDouble)
                case _ => None
              }
              val mn = st.min.flatMap(dec)
              val mx = st.max.flatMap(dec)
              out.put(Expressions.column(f.name),
                new org.apache.spark.sql.connector.read.colstats
                    .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(st.ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(st.nulls)
                  override def min(): java.util.Optional[Object] =
                    mn.map(_.asInstanceOf[Object])
                      .map(java.util.Optional.of[Object])
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    mx.map(_.asInstanceOf[Object])
                      .map(java.util.Optional.of[Object])
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def avgLen(): java.util.OptionalLong =
                    st.avgLen.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  override def maxLen(): java.util.OptionalLong =
                    st.maxLen.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  // equi-height histogram (when ANALYZE computed one
                  // and the type decodes): CBO range selectivity sees
                  // the DISTRIBUTION, not the uniformity assumption
                  override def histogram(): java.util.Optional[
                      org.apache.spark.sql.connector.read.colstats
                        .Histogram] =
                    st.hist.filter(_ => mn.isDefined || st.min.isEmpty)
                      .map { h =>
                        java.util.Optional.of(
                          new org.apache.spark.sql.connector.read
                              .colstats.Histogram {
                            override def height(): Double = h.height
                            override def bins(): Array[
                                org.apache.spark.sql.connector.read
                                  .colstats.HistogramBin] =
                              h.bins.map { case (l, u, n) =>
                                new org.apache.spark.sql.connector.read
                                    .colstats.HistogramBin {
                                  override def lo(): Double = l
                                  override def hi(): Double = u
                                  override def ndv(): Long = n
                                }: org.apache.spark.sql.connector.read
                                  .colstats.HistogramBin
                              }.toArray
                          })
                      }.getOrElse(java.util.Optional.empty())
                })
            }
        }
        out
      }
    }

  /** Spark's own `FilePartition` packing economics, re-expressed for
    * the manifest-backed scan: large files SPLIT into byte ranges at
    * the standard `maxSplitBytes` (row groups whose midpoint falls in
    * the range — never a torn row group), small files PACK together so
    * a thousand-small-file table plans a bounded task count instead of
    * a task per file. `splittable=false` (the positional-delta scan,
    * which needs whole-file row indexes) keeps one chunk per file but
    * still packs. */
  override def planInputPartitions(): Array[InputPartition] = {
    val rootAbs = new java.io.File(root).getAbsolutePath
    // clone manifests record absolute paths — resolve like Versioned
    def abs(rel: String) = {
      val f = new java.io.File(rel)
      if (f.isAbsolute) f.getPath else new java.io.File(rootAbs, rel).getPath
    }
    // LIMIT file cap (partial pushdown — Spark's Limit stays above):
    // plan just enough files to cover the limit from EXACT manifest
    // row counts. Sound only when live counts are exact and the file
    // grouping isn't load-bearing (storage-partitioned scans skip it);
    // a LIMIT 10 then opens one file regardless of table size. Pending
    // deletion vectors DON'T stand the cap down when the manifest
    // recorded their cardinalities: live rows = rows − deleted, still
    // exact arithmetic — MoR steady state plans LIMIT like CoW. Only a
    // legacy manifest with uncounted sidecars refuses (never guesses).
    val dvDeleted: Option[Map[String, Long]] = dvDeletedExact
    val limited: Seq[String] = (limitHint, dvDeleted) match {
      case (Some(n), Some(del)) if spjState.isEmpty =>
        var cum = 0L
        files.takeWhile { p =>
          val take = cum < n
          cum += math.max(0L, meta.getOrElse(p, (0L, 0L))._2 -
            del.getOrElse(p, 0L))
          take
        }
      case _ => files
    }
    // a path absent from the manifest map (impossible for a live file;
    // defensive) packs as one whole-file zero-cost chunk — never split
    val sizes = limited.map(p => p -> meta.getOrElse(p, (0L, 0L))._1)
    val totalBytes = sizes.map(_._2 + openCostInBytes).sum
    // clamped to ≥1 like Spark's own FilePartition maxSplitBytes: with
    // filesOpenCostInBytes=0 and a tiny table over many cores the
    // division rounds to 0, and a zero step would throw on any
    // splittable file instead of planning the scan
    val maxSplitBytes = math.max(1L, math.min(maxPartitionBytes,
      math.max(openCostInBytes, totalBytes / math.max(1, minPartitionNum))))
    // DV-aware chunks carry their file's pending positions: inline
    // lists ship in the chunk (bounded by the inline threshold),
    // sidecars ship as absolute paths the task reads and filters
    val dvByFile = dvs.map(d => d.file -> d).toMap
    def chunk(rel: String, start: Long, length: Long,
        bytes: Long): GraftFileChunk = {
      val d = dvByFile.get(rel)
      GraftFileChunk(abs(rel), rel, start, length, bytes,
        d.map(_.positions).getOrElse(Nil),
        d.map(_.sidecars.map(abs)).getOrElse(Nil))
    }
    // key-grouped planning (storage-partitioned joins): one task per
    // partition TUPLE, whole files, no splitting — the grouping IS the
    // contract the join alignment trusts
    spjState.foreach { case (_, groups) =>
      return groups.map { case (key, paths) =>
        GraftKeyedFilePartition(paths.map(rel =>
          chunk(rel, 0L, Long.MaxValue, meta.getOrElse(rel, (0L, 0L))._1)),
          key): InputPartition
      }.toArray
    }
    val chunks = sizes.sortBy(-_._2).flatMap { case (rel, bytes) =>
      if (!effSplittable || bytes <= maxSplitBytes)
        Seq(chunk(rel, 0L, Long.MaxValue, bytes))
      else (0L until bytes by maxSplitBytes).map(off =>
        chunk(rel, off, math.min(maxSplitBytes, bytes - off),
          math.min(maxSplitBytes, bytes - off)))
    }
    val partitions = Seq.newBuilder[InputPartition]
    var current = Seq.newBuilder[GraftFileChunk]
    var currentBytes = 0L
    var empty = true
    chunks.foreach { c =>
      if (!empty && currentBytes + c.bytes + openCostInBytes > maxSplitBytes) {
        partitions += GraftFilePartition(current.result())
        current = Seq.newBuilder[GraftFileChunk]; currentBytes = 0L
        empty = true
      }
      current += c; currentBytes += c.bytes + openCostInBytes; empty = false
    }
    if (!empty) partitions += GraftFilePartition(current.result())
    partitions.result().toArray
  }

  /** Distinct data files the current plan opens — plan-shape gates
    * (x-series in-body requires, specs) read this instead of reaching
    * into the package-private partition classes. */
  def plannedDataFiles: Int = planInputPartitions().flatMap {
    case p: GraftScanPartition => p.chunks.map(_.relPath)
  }.distinct.length

  /** Pushed filter → the same filter over PHYSICAL column names, for
    * parquet row-group/page skipping inside the reader. STRICT: a
    * node drops unless it translates whole (sound under Not/Or);
    * filters touching the metadata columns never push. */
  private def physFilter(f: Filter): Option[Filter] = {
    import org.apache.spark.sql.sources._
    if (f.references.exists(metaNames)) None
    else f match {
      case EqualTo(a, v) => Some(EqualTo(phys(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(phys(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(phys(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(phys(a), v))
      case LessThan(a, v) => Some(LessThan(phys(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(phys(a), v))
      case In(a, vs) => Some(In(phys(a), vs))
      case IsNull(a) => Some(IsNull(phys(a)))
      case IsNotNull(a) => Some(IsNotNull(phys(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(phys(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(phys(a), v))
      case StringContains(a, v) => Some(StringContains(phys(a), v))
      case And(l, r) =>
        for { a <- physFilter(l); b <- physFilter(r) } yield And(a, b)
      case Or(l, r) =>
        for { a <- physFilter(l); b <- physFilter(r) } yield Or(a, b)
      case Not(c) => physFilter(c).map(Not)
      case _ => None
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the reader's metadata tail, in the required order, as
    // 0=_file / 1=_pos slots
    val metaTail: Seq[Int] = required.fieldNames.drop(dataCount).map {
      case "_file" => 0
      case "_pos" => 1
      case other => throw new IllegalStateException(
        s"unexpected trailing column $other")
    }.toIndexedSeq
    // the COLUMNAR read appends the reader-populated row-index column
    // when positions are needed — to serve `_pos`, and/or to probe the
    // deletion-vector BitSet per batch (file-absolute even on splits)
    val colRowIndex = needPos || dvActive
    val colRequested =
      if (colRowIndex) StructType(physRequested.fields :+
        org.apache.spark.sql.GraftParquetIO.rowIndexField)
      else physRequested
    new GraftParquetReaderFactory(
      org.apache.spark.sql.GraftParquetIO.taskReadConf(spark,
        physRequested), metaTail = metaTail,
      vectorized = vectorized,
      capacity = org.apache.spark.sql.GraftParquetIO.columnarBatchSize(spark),
      dvConf =
        if (dvActive) Some(org.apache.spark.sql.GraftParquetIO
          .taskReadConf(spark, GraftParquetReaderFactory.DvSchema))
        else None,
      colConf = org.apache.spark.sql.GraftParquetIO.taskReadConf(spark,
        colRequested),
      colRowIndex = colRowIndex,
      dataCount = dataCount,
      // row-group/page skipping INSIDE the reader (the standard scan's
      // parquet pushdown): physical-name filters typed per file at the
      // task. Vectorized-only — positions there come from the
      // row-index generator, which is skipping-aware; results are
      // unaffected either way (Spark re-applies every filter above).
      // Only filters over PROJECTED columns push (the standard scan's
      // invariant — its read schema always carries filter columns;
      // parquet-mr page filtering on an unprojected column drops
      // rows): a CONSUMED partition filter whose column was pruned
      // away already did its work at file grain
      pushdown = {
        val dataNames = required.fields.take(dataCount)
          .map(_.name).toSet
        org.apache.spark.sql.GraftParquetIO.filterPushdown(spark,
          pushed.filter(_.references.forall(dataNames))
            .flatMap(physFilter))
      })
  }

  // ---- runtime group filtering: ONE grain for every table shape —
  // `_file` itself (Iceberg's copy-on-write group). The matching-rows
  // plan reads a scan that serves _file per row, so the runtime
  // predicate names the EXACT files holding matches and the scan
  // narrows to precisely the touched set (one matching pass, the same
  // economics as the dispatcher's keys-frame probe, then a
  // file-identity prune). This must be a SINGLE attribute: Spark ships
  // a multi-attribute group filter as a struct-IN, which has no V2
  // predicate translation — it never reaches the scan at all (verified
  // empirically: a (day, src)-partitioned MERGE with partition-column
  // grains rewrote every file). File identity is also strictly finer
  // than any partition-tuple grain, so partitioned tables prune at
  // least as well as before — a MERGE touching one (day, src) pair
  // carries every other partition's files by identity.
  // Spark resolves these against the scan's OUTPUT (an unprojected
  // name throws in PartitionPruning), so advertise only what this
  // scan actually serves: `_file` when projected (every row-level
  // matching scan — requiredMetadataAttributes pins it there); else a
  // projected PARTITION column, which buys plain reads dynamic
  // partition pruning on joins through the same stats-bound prune.
  override def filterAttributes(): Array[NamedReference] =
    if (spjState.isDefined) Array.empty // grouping stability over DPP
    else if (metaNames("_file"))
      Array(Expressions.column("_file"))
    else planned.partitionBy
      .find(pc => required.fieldNames.exists(_.equalsIgnoreCase(pc)))
      .map(pc => Array(Expressions.column(pc): NamedReference))
      .getOrElse(Array.empty)

  override def filter(predicates: Array[V2Predicate]): Unit = {
    // an empty matching set arrives as ALWAYS_FALSE or a value-less IN
    // — no group matches: scan (and therefore replace) NOTHING
    val none = predicates.exists(p => p.name() == "ALWAYS_FALSE" ||
      (p.name() == "IN" && p.children().length == 1))
    val bounds = predicates.toSeq.flatMap(runtimeBound)
    if (none) files = Nil
    else {
      val (fileBounds, statBounds) =
        bounds.partition(b => b.col == "_file" && metaNames("_file"))
      if (statBounds.nonEmpty) {
        val narrowed = Versioned.candidateFilesForBounds(root, version,
          VersionedSource.bounds(pushed) ++ statBounds).toSet
        files = files.filter(narrowed)
      }
      // _file prunes by identity, not stats: keep exactly the named files
      fileBounds.foreach { b =>
        val keep = b.values.getOrElse(Nil).map(_.toString).toSet
        files = files.filter(keep)
      }
    }
    if (none || bounds.nonEmpty) onScanned(files)
  }

  /** Runtime V2 predicate → a conservative stats bound. Only shapes
    * that IMPLY a bound translate (IN/EQ on one column with literal
    * values of a stats-comparable type); anything else is skipped —
    * pruning is advisory, skipping is always safe. */
  private def runtimeBound(p: V2Predicate): Option[Versioned.ColumnBound] = {
    def ext(v: Any): Option[Any] = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Long => Some(n)
      case n: java.lang.Short => Some(n.longValue())
      case n: java.lang.Float => Some(n.doubleValue())
      case n: java.lang.Double => Some(n)
      case _ => None // dates/timestamps arrive internal: skip, safe
    }
    p.name() match {
      case "IN" | "=" => p.children().toSeq match {
        case Seq(f: NamedReference, rest @ _*)
            if rest.nonEmpty && rest.forall(_.isInstanceOf[V2Literal[_]]) =>
          val col = f.fieldNames().mkString(".")
          val vals = rest.map(l =>
            ext(l.asInstanceOf[V2Literal[_]].value))
          if (vals.forall(_.isDefined))
            Some(Versioned.inBound(col, vals.flatten.toIndexedSeq))
          else None
        case _ => None
      }
      case _ => None
    }
  }

  // pushed filters shown as Spark's own file scans show them: cut at
  // spark.sql.maxMetadataStringLength, so a long IN list stays short
  override def description(): String = {
    val max = spark.sessionState.conf.maxMetadataStringLength
    val p = pushed.mkString(", ")
    s"GraftRowLevelScan($root, v$version, ${files.size} files" +
      (if (pushed.isEmpty) ")"
       else s", pushed [${if (p.length <= max) p else p.take(max) + "..."}])")
  }
}

/** One byte range of one data file: `[start, start+length)` selects
  * the row groups whose midpoint falls inside (the standard split
  * contract); `bytes` is the packing weight. `length=Long.MaxValue`
  * means the whole file. `dvInline`/`dvSidecars` carry the file's
  * pending deletion-vector positions for DV-AWARE reads (whole-file
  * chunks only — position math needs file-absolute row indexes). */
private[sources] final case class GraftFileChunk(path: String,
    relPath: String, start: Long, length: Long, bytes: Long,
    dvInline: Seq[Long] = Nil, dvSidecars: Seq[String] = Nil)

/** One scan task: a packed set of file chunks. */
private[sources] sealed trait GraftScanPartition
    extends org.apache.spark.sql.connector.read.InputPartition {
  def chunks: Seq[GraftFileChunk]
}

/** The ordinary shape (Spark's own `FilePartition` economics — many
  * small files per task, large files split across tasks). */
private[sources] final case class GraftFilePartition(
    chunks: Seq[GraftFileChunk]) extends GraftScanPartition

/** The key-grouped shape: ALL chunks hold the same partition tuple,
  * exposed through `HasPartitionKey` so Spark can align two
  * co-partitioned scans into a shuffle-free join. */
private[sources] final case class GraftKeyedFilePartition(
    chunks: Seq[GraftFileChunk],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends GraftScanPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    key
}

private[sources] object GraftParquetReaderFactory {
  /** Deletion-vector positions index a per-file `java.util.BitSet`, so
    * they must fit an Int — i.e. no single parquet data file may hold
    * ≥ 2^31 rows (≈2.1 billion; the write path's file-size targets keep
    * real files orders of magnitude under this). A position past the
    * ceiling fails LOUDLY here at BitSet construction rather than
    * silently aliasing a wrapped index. */
  def checkPos(p: Long): Int = {
    require(p >= 0 && p <= Int.MaxValue,
      s"deletion-vector position $p is outside the Int-indexed BitSet " +
        "range [0, 2^31) — a single data file cannot hold that many " +
        "rows; compact the table with smaller target files")
    p.toInt
  }

  /** Schema of deletion-vector position sidecars (what
    * `Versioned.deleteRows` and the delta writer both emit). */
  val DvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))
}

/** `metaTail` encodes the trailing metadata projection in required
  * order: 0 = `_file` (constant per chunk), 1 = `_pos` (the row's
  * file-absolute index — counts every physical row, including
  * DV-skipped ones, so positions agree with `_metadata.row_index`
  * everywhere else). `dvConf` present = DV-AWARE: each chunk's pending
  * positions (inline + sidecar) are skipped during the read — the
  * row-grain reader skips while materializing, the COLUMNAR reader
  * applies them as a per-batch live-row mapping over zero-copy
  * [[GraftSelectedVector]] views (the Delta/Iceberg DV read shape).
  * `colConf` is the columnar requested schema — the physical data
  * projection plus, when `colRowIndex`, the reader-populated
  * row-index column serving `_pos` and the DV probes. */
private[sources] final class GraftParquetReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration,
    metaTail: Seq[Int], vectorized: Boolean, capacity: Int,
    dvConf: Option[org.apache.spark.util.SerializableConfiguration],
    colConf: org.apache.spark.util.SerializableConfiguration,
    colRowIndex: Boolean, dataCount: Int,
    pushdown: org.apache.spark.sql.GraftParquetIO.FilterPushdown =
      org.apache.spark.sql.GraftParquetIO.FilterPushdown(
        Nil, false, false, false, false, 0, false))
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  import org.apache.spark.sql.vectorized.ColumnarBatch

  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized

  /** The deleted-position set of one chunk's file: inline positions
    * plus the chunk's sidecars filtered to this file, as a BitSet —
    * O(file rows / 8) bytes, constant-time probes (the Iceberg
    * position-delete application shape: each task reads the delete
    * files scoped to its data file). */
  private def deletedBits(c: GraftFileChunk): java.util.BitSet = {
    val bits = new java.util.BitSet()
    c.dvInline.foreach(p => bits.set(GraftParquetReaderFactory.checkPos(p)))
    if (c.dvSidecars.nonEmpty) {
      val dc = dvConf.getOrElse(throw new IllegalStateException(
        "sidecar-bearing chunk reached a non-DV-aware reader")).value
      val target = org.apache.spark.unsafe.types.UTF8String
        .fromString(c.relPath)
      c.dvSidecars.foreach { sc =>
        val r = org.apache.spark.sql.GraftParquetIO.openRowReader(dc, sc)
        try {
          var row = r.read()
          while (row != null) {
            if (row.getUTF8String(0) == target)
              bits.set(GraftParquetReaderFactory.checkPos(row.getLong(1)))
            row = r.read()
          }
        } finally r.close()
      }
    }
    bits
  }

  /** Row-grain path (position serving, DV-aware reads, and schemas the
    * vectorized reader can't serve): chains the partition's chunks
    * through Spark's parquet row materializer. */
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftScanPartition]
    new PartitionReader[InternalRow] {
      private val it = p.chunks.iterator
      private var reader: org.apache.parquet.hadoop.ParquetReader[InternalRow] = _
      // the metadata tail rides a JoinedRow — one shared row per
      // chunk, zero per-row allocation (the `_pos` slot mutates)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private var tailRow: org.apache.spark.sql.catalyst.expressions.GenericInternalRow = _
      private var posSlot = -1
      private var pos = -1L
      private var dead: java.util.BitSet = _
      private var row: InternalRow = _
      @scala.annotation.tailrec
      override def next(): Boolean = {
        if (reader != null) {
          row = reader.read()
          while (row != null && dead != null && {
            pos += 1; dead.get(pos.toInt)
          }) row = reader.read()
          if (row != null) {
            if (dead == null) pos += 1
            if (posSlot >= 0) tailRow.update(posSlot, pos)
            return true
          }
          reader.close(); reader = null
        }
        if (!it.hasNext) false
        else {
          val c = it.next()
          reader = org.apache.spark.sql.GraftParquetIO
            .openRowReader(conf.value, c.path, c.start, c.length)
          pos = -1L
          dead =
            if (c.dvInline.nonEmpty || c.dvSidecars.nonEmpty) deletedBits(c)
            else null
          if (metaTail.nonEmpty) {
            tailRow = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(metaTail.length)
            metaTail.zipWithIndex.foreach {
              case (0, i) => tailRow.update(i,
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(c.relPath))
              case (1, i) => posSlot = i
              case _ => ()
            }
          }
          next()
        }
      }
      override def get(): InternalRow =
        if (metaTail.nonEmpty) joined(row, tailRow) else row
      override def close(): Unit = if (reader != null) reader.close()
    }
  }

  /** The hot path: Spark's vectorized parquet reader per chunk,
    * `ColumnarBatch`es straight into whole-stage codegen
    * (`BatchScan … ColumnarToRow` in the plan). Plain reads pass the
    * reader's batch through untouched; a metadata projection or a
    * DV-carrying chunk ASSEMBLES the output view — `_file` as a
    * constant vector, `_pos` as the reader-populated row-index vector,
    * pending deletion vectors as a per-batch live-row mapping over
    * zero-copy [[GraftSelectedVector]] views — so the scan stays
    * columnar in MoR's steady state (column data is never copied). */
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftScanPartition]
    new PartitionReader[ColumnarBatch] {
      import org.apache.spark.sql.vectorized.ColumnVector
      private val it = p.chunks.iterator
      private var reader: org.apache.spark.sql.execution.datasources
        .parquet.VectorizedParquetRecordReader = _
      // assembled views, rebuilt per chunk (null = pass-through)
      private var plainOut: ColumnarBatch = _      // no DV on this chunk
      private var selOut: ColumnarBatch = _        // DV live-row mapping
      private var posVec: ColumnVector = _         // row-index vector
      private var dead: java.util.BitSet = _
      private var live = 0
      private val mapping = new Array[Int](capacity)
      private val assemble = metaTail.nonEmpty || dvConf.isDefined

      /** Build this chunk's output view over the reader's stable batch
        * vectors: data columns pass through by reference, `_file` is a
        * constant vector, `_pos` aliases the row-index vector; a
        * DV-carrying chunk additionally wraps every non-constant
        * column in the shared live-row mapping. */
      private def buildViews(c: GraftFileChunk): Unit = {
        val inner = reader.resultBatch()
        posVec = if (colRowIndex) inner.column(dataCount) else null
        val out = new Array[ColumnVector](dataCount + metaTail.length)
        var i = 0
        while (i < dataCount) { out(i) = inner.column(i); i += 1 }
        metaTail.zipWithIndex.foreach {
          case (0, j) =>
            val cv = new org.apache.spark.sql.execution.vectorized
              .ConstantColumnVector(capacity,
                org.apache.spark.sql.types.StringType)
            cv.setUtf8String(org.apache.spark.unsafe.types.UTF8String
              .fromString(c.relPath))
            out(dataCount + j) = cv
          case (1, j) => out(dataCount + j) = posVec
          case (k, _) => throw new IllegalStateException(
            s"unexpected metadata slot $k")
        }
        if (dead == null) { plainOut = new ColumnarBatch(out); selOut = null }
        else {
          val sel = out.map {
            case cv: org.apache.spark.sql.execution.vectorized
                .ConstantColumnVector => cv // constant under any mapping
            case v => new GraftSelectedVector(v, mapping, () => live)
          }
          selOut = new ColumnarBatch(sel.toArray); plainOut = null
        }
      }

      /** Per batch: size the assembled view; a DV chunk refills the
        * live-row mapping from the row-index vector (positions past
        * the Int ceiling can never be in the BitSet, hence live). */
      private def refill(): Unit = {
        val n = reader.resultBatch().numRows()
        if (dead != null) {
          live = 0; var r = 0
          while (r < n) {
            val pos = posVec.getLong(r)
            if (pos > Int.MaxValue || !dead.get(pos.toInt)) {
              mapping(live) = r; live += 1
            }
            r += 1
          }
          selOut.setNumRows(live)
        } else if (plainOut != null) plainOut.setNumRows(n)
      }

      @scala.annotation.tailrec
      override def next(): Boolean = {
        if (reader != null) {
          if (reader.nextBatch()) { refill(); return true }
          reader.close(); reader = null
        }
        if (!it.hasNext) false
        else {
          val c = it.next()
          dead =
            if (c.dvInline.nonEmpty || c.dvSidecars.nonEmpty) deletedBits(c)
            else null
          reader = org.apache.spark.sql.GraftParquetIO.openColumnarReader(
            org.apache.spark.sql.GraftParquetIO.rowGroupFilterConf(
              colConf.value, c.path, pushdown),
            c.path, c.start,
            if (c.length == Long.MaxValue) Long.MaxValue - c.start
            else c.length,
            capacity, constTail = None)
          if (assemble) buildViews(c)
          next()
        }
      }
      override def get(): ColumnarBatch =
        if (!assemble) reader.resultBatch()
        else if (dead != null) selOut
        else plainOut
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

/** The replacement write: executor-staged files in, one CAS commit
  * swapping the scanned set for the staged set. */
private[graft] final class GraftReplaceFilesWrite(spark: SparkSession,
    root: String, pinned: Long, schema: StructType,
    scanned: () => Seq[String], action: String) extends BatchWrite {

  private val planned = Versioned.plannedMeta(root)
  private val spec = GraftWriteCore.jobSpec(spark, root, schema,
    statsCols = Nil, planned, partitioned = true)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(spec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    Versioned.publishStagedReplace(root, scanned(),
      GraftWriteCore.entriesOf(messages), schema, pinned, planned,
      action); ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCore.cleanup(root, messages)

  override def toString: String = s"GraftReplaceFilesWrite($root)"
}
