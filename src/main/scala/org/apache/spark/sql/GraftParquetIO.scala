package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetWriter => PqWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{NullType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Task-side parquet IO for the DSv2 executor-write path — the bridge
  * into Spark's `private[sql]` parquet machinery so a connector
  * `DataWriter` can stream `InternalRow`s straight into parquet files
  * ON EXECUTORS (the Iceberg/Delta write architecture: tasks write
  * data files, the driver commits only metadata). Uses Spark's OWN
  * row→parquet encoder (`ParquetWriteSupport`, what every
  * `df.write.parquet` goes through), so files written here are
  * byte-compatible with driver-initiated writes — same logical types,
  * same footer statistics.
  */
object GraftParquetIO {

  /** Driver side: a serializable Hadoop conf prepared so executor
    * tasks can open parquet writers for rows of `schema`. Mirrors the
    * conf keys `ParquetFileFormat.prepareWrite` sets for the standard
    * write path. */
  def taskWriteConf(spark: SparkSession,
      schema: StructType): SerializableConfiguration = {
    val sqlc = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlc.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlc.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    // SparkToParquetSchemaConverter(conf) requires these two as well
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    new SerializableConfiguration(conf)
  }

  /** The session's parquet codec name (e.g. "snappy") for task writers. */
  def parquetCodec(spark: SparkSession): String =
    spark.sessionState.conf.parquetCompressionCodec

  /** Task side: an open parquet writer consuming `InternalRow`s of the
    * schema carried in `conf` (set by [[taskWriteConf]]). */
  def openRowWriter(conf: Configuration, path: String,
      codec: String): PqWriter[InternalRow] =
    new RowWriterBuilder(new Path(path))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.fromConf(codec))
      .build()

  private final class RowWriterBuilder(path: Path)
      extends PqWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Driver side: a serializable Hadoop conf prepared so executor
    * tasks can open parquet ROW readers projecting `requested` (the
    * physical-name projection of the required columns — files written
    * under column mapping store physical names; positions stay the
    * logical order). Mirrors the conf keys
    * `ParquetFileFormat.buildReaderWithPartitionValues` sets. */
  def taskReadConf(spark: SparkSession,
      requested: StructType): SerializableConfiguration = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val sqlc = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    // the split-initialized readers resolve their ReadSupport from the
    // conf (ParquetFileFormat sets the same key for the standard scan)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlc.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlc.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlc.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlc.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlc.parquetFieldIdReadEnabled)
    conf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key,
      sqlc.ignoreMissingParquetFieldId)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlc.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlc.parquetInferTimestampNTZEnabled)
    new SerializableConfiguration(conf)
  }

  /** Task side: an open parquet ROW reader for one file (or the byte
    * range `[start, start+length)` of it — row groups whose midpoint
    * falls in the range, the standard split contract), yielding
    * `InternalRow`s of the requested schema carried in `conf`. Rebase
    * mode is CORRECTED: this engine only reads files it wrote (Spark
    * 4, proleptic calendar) through this path. */
  def openRowReader(conf: Configuration, path: String,
      start: Long = 0L, length: Long = Long.MaxValue)
      : org.apache.parquet.hadoop.ParquetReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.LegacyBehaviorPolicy
    val corrected = RebaseSpec(LegacyBehaviorPolicy.CORRECTED)
    val support = new ParquetReadSupport(None,
      enableVectorizedReader = false, corrected, corrected)
    val b = org.apache.parquet.hadoop.ParquetReader
      .builder[InternalRow](support, new Path(path))
      .withConf(conf)
    (if (length == Long.MaxValue) b
     else b.withFileRange(start, start + length)).build()
  }

  /** Whether Spark's VECTORIZED parquet reader can serve `schema` —
    * the same gate `ParquetFileFormat.supportBatch` applies for the
    * standard scan; a false answer falls back to the row reader. */
  def isVectorizable(spark: SparkSession,
      schema: StructType): Boolean =
    org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .isBatchReadSupportedForSchema(spark.sessionState.conf, schema)

  /** The session's columnar batch size (rows per `ColumnarBatch`). */
  def columnarBatchSize(spark: SparkSession): Int =
    spark.sessionState.conf.parquetVectorizedReaderBatchSize

  /** The reader-populated FILE-ABSOLUTE row-index column (Spark's own
    * `_metadata.row_index` mechanism): append this field to the
    * requested schema and the vectorized reader fills it per row from
    * parquet row-group offsets — correct across byte-range splits, so a
    * split chunk still serves whole-file row positions. */
  def rowIndexField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      // the TEMPORARY marker name is what the reader's generator and
      // missing-column handling both key on (`ROW_INDEX_FIELD` is the
      // final `_metadata.row_index` field, NOT the marker)
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType,
      // requested NULLABLE: the column is absent from the file (the
      // reader treats it as missing, then the generator fills it), and
      // a required missing column fails `checkColumn` loudly
      nullable = true)

  /** Task side: Spark's own VECTORIZED parquet reader over the byte
    * range `[start, start+length)` of one file, returning
    * `ColumnarBatch`es of the requested schema carried in `conf` (set
    * by [[taskReadConf]]) — the whole-stage-codegen-friendly scan
    * (`BatchScan … ColumnarToRow`). `fileValue`, when present, is
    * appended as a constant trailing string column (the `_file`
    * provenance metadata column) via the reader's own partition-value
    * mechanism — zero per-row cost. Rebase CORRECTED, as
    * [[openRowReader]]. */
  def openColumnarReader(conf: Configuration, path: String, start: Long,
      length: Long, capacity: Int,
      constTail: Option[(StructType, InternalRow)])
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, capacity)
    // mapred.FileSplit extends the mapreduce one — and is what the
    // base reader casts to internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(path), start, length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    try {
      reader.initialize(split, ctx)
      constTail match {
        case Some((schema, values)) => reader.initBatch(schema, values)
        case None => reader.initBatch(new StructType(), InternalRow.empty)
      }
      reader.enableReturningBatches()
      reader
    } catch { case t: Throwable => reader.close(); throw t }
  }

  /** Driver-side capture of the session's parquet filter-pushdown
    * knobs plus the filters to push (column names already PHYSICAL —
    * files under column mapping store physical names). Ships to tasks
    * with the reader factory. */
  final case class FilterPushdown(
      filters: Seq[org.apache.spark.sql.sources.Filter],
      date: Boolean, timestamp: Boolean, decimal: Boolean,
      string: Boolean, inThreshold: Int, caseSensitive: Boolean)
      extends Serializable

  /** The session's pushdown knobs (empty filters = pushdown off). */
  def filterPushdown(spark: SparkSession,
      filters: Seq[org.apache.spark.sql.sources.Filter]): FilterPushdown = {
    val c = spark.sessionState.conf
    FilterPushdown(
      if (c.parquetFilterPushDown) filters else Nil,
      c.parquetFilterPushDownDate, c.parquetFilterPushDownTimestamp,
      c.parquetFilterPushDownDecimal,
      c.parquetFilterPushDownStringPredicate,
      c.parquetFilterPushDownInFilterThreshold, c.caseSensitiveAnalysis)
  }

  /** Task side: a conf carrying the parquet `FilterPredicate` for
    * `pd.filters` typed against THIS file's schema — the reader then
    * skips row groups by footer stats and pages by column indexes
    * (`ParquetFileFormat`'s own pushdown, re-expressed for the
    * manifest-backed scan). Per-file typing matters: a filter on a
    * column an older file lacks simply doesn't translate for that file
    * (schema evolution), exactly like the standard scan. Returns
    * `conf` untouched when nothing translates. Safe ONLY for readers
    * that take row positions from the row-index generator (the
    * vectorized path) — a manually-counting reader would miscount
    * skipped groups. */
  def rowGroupFilterConf(conf: Configuration, path: String,
      pd: FilterPushdown): Configuration = {
    if (pd.filters.isEmpty) return conf
    import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
    import org.apache.spark.sql.internal.LegacyBehaviorPolicy
    // schema-only footer read (SKIP_ROW_GROUPS): cheap, and the reader
    // re-reads the range-filtered footer itself at initialize
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(path), conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    val pf = new ParquetFilters(footer.getFileMetaData.getSchema,
      pd.date, pd.timestamp, pd.decimal, pd.string, pd.inThreshold,
      pd.caseSensitive, RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    val preds = pd.filters.flatMap(f => pf.createFilter(f))
    preds.reduceOption(
      org.apache.parquet.filter2.predicate.FilterApi.and) match {
      case Some(p) =>
        val out = new Configuration(conf)
        org.apache.parquet.hadoop.ParquetInputFormat
          .setFilterPredicate(out, p)
        out
      case None => conf
    }
  }

  /** Resolve a SQL CHECK predicate against `schema` and bind it for
    * task-side interpreted evaluation (per-row constraint enforcement
    * inside an executor `DataWriter`, where no DataFrame exists to
    * carry the usual `assert_true` filter). Columns the write omits
    * evaluate as NULL — SQL CHECK semantics — and a NULL verdict
    * passes, so the bound expression is `coalesce(cond, true)`. */
  def boundCheck(spark: SparkSession, schema: StructType,
      conditionSql: String): Expression = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val have = schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val parsed = spark.sessionState.sqlParser
      .parseExpression(conditionSql).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if !have(a.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
          Literal(null, NullType)
      }
    val analyzed = spark.sessionState.analyzer
      .execute(Filter(parsed, LocalRelation(attrs)))
    val resolved = analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(throw new IllegalStateException(
        s"CHECK constraint '$conditionSql' did not resolve to a filter"))
    BindReferences.bindReference(
      Coalesce(Seq(resolved, Literal.TrueLiteral)), attrs)
  }

  /** Resolve an arbitrary SQL scalar expression against `schema` and
    * bind it for task-side interpreted evaluation (hidden partition
    * transforms evaluate per row inside executor `DataWriter`s).
    * Unlike [[boundCheck]], references to absent columns are an error
    * — a transform whose source the write omits must fail loudly, not
    * derive NULL. */
  def boundExpr(spark: SparkSession, schema: StructType,
      exprSql: String): Expression = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val analyzed = spark.sessionState.analyzer.execute(
      org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(org.apache.spark.sql.catalyst.expressions.Alias(
          parsed, "__graft_tx")()),
        LocalRelation(attrs)))
    val resolved = analyzed.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.head
    }.getOrElse(throw new IllegalStateException(
      s"expression '$exprSql' did not resolve to a projection"))
    val child = resolved match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    BindReferences.bindReference(child, attrs)
  }
}
