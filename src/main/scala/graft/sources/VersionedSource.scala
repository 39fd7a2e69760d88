package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Versioned

/** `spark.read`/`readStream`/`write`/`writeStream.format("graft-versioned")`
  * over a [[Versioned]] manifest-log table addressed by its root — the
  * lakehouse-connector surface (reference: `pipelines/02-kafka-spark-
  * iceberg/spark/jobs/silver_transform.py:118-136` reads Iceberg tables
  * through the DataFrame reader the same way).
  *
  * A DSv2 `TableProvider`: `getTable` returns the same [[GraftTable]]
  * the catalog serves, so a path-addressed table reads, streams and
  * stream-writes on the one native stack — [[GraftScanBuilder]] →
  * [[GraftRowLevelScan]] (manifest-stats file pruning, deletion vectors
  * applied in the reader, commit-time statistics),
  * [[GraftMicroBatchStream]], [[GraftStreamingWrite]].
  *
  * Batch:
  * {{{
  *   spark.read.format("graft-versioned").option("path", root)
  *     .option("versionAsOf", 3)            // or timestampAsOf
  *     .load().filter($"k" between (10, 20))
  * }}}
  *
  * Streaming — the catalog's contract: table ROWS by default (a
  * row-removing commit fails unless `skipChangeCommits`); projecting
  * the `_change_type` / `_commit_version` metadata columns makes it the
  * full change feed:
  * {{{
  *   spark.readStream.format("graft-versioned").option("path", root)
  *     .option("startingVersion", 0)        // default 0: full history
  *     .load()
  *     .select($"*", $"_change_type", $"_commit_version")
  * }}}
  *
  * Batch WRITES stay on [[CreatableRelationProvider]] (see
  * `createRelation`): the path table declares no `BATCH_WRITE`, which
  * is what routes every save mode there.
  */
class VersionedSource extends TableProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = VersionedSource.Name

  // writers hand `getTable` the query's schema, so a first write to a
  // root with no version needs no inference
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = VersionedSource.path(options)
    Versioned.tableSchema(VersionedSource.spark, root,
      Some(VersionedSource.pin(root, options)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val root = VersionedSource.path(opts)
    val spark = VersionedSource.spark
    if (Versioned.latestVersion(root).isEmpty)
      new GraftUnbornTable(spark, root, schema)
    else new GraftTable(spark, root, root,
      Some(VersionedSource.pin(root, opts)), pathAddressed = true)
  }

  /** `df.write.format("graft-versioned")` — the batch write path a
    * Delta switcher expects. SaveMode maps onto the commit verbs:
    * Append appends a version, Overwrite replaces the snapshot,
    * ErrorIfExists (the `save()` default) refuses a non-empty table,
    * Ignore is a no-op on one. Options: `statsCols`/`bloomCols`
    * (comma-separated — data-skipping stats for later reads),
    * `partitionBy` (hive-layout table partitioning; the V1 writer
    * path rejects `.partitionBy(...)` for relation providers, so it
    * rides an option), `mergeSchema`. Every write is one atomic CAS
    * manifest commit with OCC retry — concurrent writers serialize,
    * none is lost. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val root = VersionedSource.path(opts)
    val exists = Versioned.latestVersion(root).isDefined
    def csv(k: String): Seq[String] =
      Option(opts.get(k)).map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"versioned table at $root already exists (SaveMode.ErrorIfExists" +
            " is save()'s default — use .mode(\"append\") or" +
            " .mode(\"overwrite\"))")
      case SaveMode.Ignore if exists => // no-op, like INSERT IF NOT EXISTS
      case m =>
        Versioned.commit(sqlContext.sparkSession, root, data,
          mode = if (m == SaveMode.Overwrite) "overwrite" else "append",
          statsCols = csv("statsCols"),
          partitionBy = csv("partitionBy"),
          bloomCols = csv("bloomCols"),
          mergeSchema = Option(opts.get("mergeSchema")).exists(_.toBoolean))
    }
    // Spark only reads the schema back (to re-cache plans over the root)
    val ctx = sqlContext
    val written = Versioned.tableSchema(ctx.sparkSession, root, None)
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object VersionedSource {
  val Name = "graft-versioned"

  private def spark: SparkSession = SparkSession.active

  private def path(opts: CaseInsensitiveStringMap): String =
    Option(opts.get("path")).getOrElse(throw new IllegalArgumentException(
      s"""$Name needs .option("path", <table root>)"""))

  /** The version a read pins: `versionAsOf`, or `timestampAsOf`
    * resolved to the snapshot current at that instant (the Delta
    * TIMESTAMP AS OF surface, see [[Versioned.parseTimestampMillis]]),
    * or the latest. A root with no version fails, naming it. */
  private def pin(root: String, opts: CaseInsensitiveStringMap): Long = {
    val latest = Versioned.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val byVersion = Option(opts.get("versionAsOf")).map(_.toLong)
    val byTs = Option(opts.get("timestampAsOf"))
    require(byTs.isEmpty || byVersion.isEmpty,
      "set versionAsOf OR timestampAsOf, not both")
    byTs.map(s => Versioned.versionAsOfTimestamp(root,
        Versioned.parseTimestampMillis(s)))
      .orElse(byVersion).getOrElse(latest)
  }

  /** The CDC envelope a change feed appends to the table's columns. */
  private[sources] val envelope: StructType = new StructType()
    .add("_change_type", StringType, nullable = true)
    .add("_commit_version", LongType, nullable = true)

  /** Change-feed schema = the table's schema at `version` (latest when
    * `None`) + the CDC envelope. */
  def feedSchema(spark: SparkSession, root: String,
      version: Option[Long] = None): StructType =
    StructType(Versioned.tableSchema(spark, root, version).fields ++
      envelope.fields)

  /** Pushed conjunctive filters → inclusive per-column intervals for
    * manifest-stats pruning. Only shapes that IMPLY a bound survive
    * (`Or` never does; a strict `>` is safely widened to `>=`); values
    * the stats comparator can't type are skipped. Package-visible so
    * the spec asserts the translation on raw `Filter` trees. */
  private[sources] def bounds(filters: Seq[Filter]): Seq[Versioned.ColumnBound] = {
    def ok(v: Any): Boolean = v match {
      case null => false
      case _: Number | _: String | _: java.sql.Date | _: java.sql.Timestamp |
           _: java.time.LocalDate | _: java.time.Instant => true
      case _ => false
    }
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case other => Seq(other)
    }
    filters.flatMap(leaves).collect {
      case EqualTo(a, v) if ok(v) => Versioned.ColumnBound(a, Some(v), Some(v))
      case GreaterThan(a, v) if ok(v) => Versioned.ColumnBound(a, Some(v), None)
      case GreaterThanOrEqual(a, v) if ok(v) =>
        Versioned.ColumnBound(a, Some(v), None)
      case LessThan(a, v) if ok(v) => Versioned.ColumnBound(a, None, Some(v))
      case LessThanOrEqual(a, v) if ok(v) =>
        Versioned.ColumnBound(a, None, Some(v))
      // IN-list: prunes like a union of point lookups. No practical
      // cap — past 8 values the bound compiles to sorted arrays with
      // binary-search range windows and ONCE-per-value memoized bloom
      // positions (Versioned.compileInProbe), so a 10⁴-value IN costs
      // O(V log V) planning, not per-(value × file) hashing; past 10⁵
      // values bloom probing drops out and range windows still prune.
      // The 2²⁰ guard only bounds planner memory on adversarial lists.
      case In(a, vs) if vs.nonEmpty && vs.length <= (1 << 20) &&
          vs.forall(ok) =>
        Versioned.inBound(a, vs.toIndexedSeq)
      // null-count stats: IS NULL skips files with zero recorded
      // nulls; IS NOT NULL skips all-null files (Spark pushes an
      // IsNotNull alongside almost every comparison, so this engages
      // on ordinary filters for free)
      case org.apache.spark.sql.sources.IsNull(a) =>
        Versioned.nullBound(a, isNull = true)
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        Versioned.nullBound(a, isNull = false)
    }
  }

  /** EXACT `Filter` → `Column` translation — every node must
    * translate, or None. Needed where the predicate defines what gets
    * DELETED/replaced: the advisory [[toColumn]] may widen a partial
    * `And`, which is safe for scans and catastrophic for deletes. */
  private[sources] def exactColumn(f: Filter): Option[Column] = f match {
    case And(l, r) =>
      for { a <- exactColumn(l); b <- exactColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- exactColumn(l); b <- exactColumn(r) } yield a || b
    case Not(c) => exactColumn(c).map(!_)
    case leaf => toColumn(leaf)
  }

  /** Source `Filter` → `Column`, where expressible — re-applied inside
    * the scan so parquet row-group pruning sees the predicates too.
    * A partially-translatable `And` keeps the translatable side (still
    * a superset); a partially-translatable `Or`/`Not` is dropped. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case Not(c) => toColumn(c).map(!_)
    case And(l, r) => (toColumn(l), toColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b) => a.orElse(b)
    }
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case _ => None
  }
}

/** Version offset: the manifest version the batch read UP TO
  * (inclusive) — the table's own commit log is the stream's WAL. */
final case class VersionOffset(v: Long) extends OffsetV1 {
  override def json(): String = v.toString
}

/** Sub-version offset for file/byte-grain admission control
  * (`maxFilesPerTrigger`/`maxBytesPerTrigger`, the Delta-source
  * shape): versions BEFORE `v` are fully consumed, and of version
  * `v`'s insert files (manifest order) the first `idx` are consumed —
  * so a backfill commit drains across several bounded micro-batches
  * with exactly-once restart. Only ever minted for PURE-INSERT
  * versions ([[graft.operators.Versioned.feedAdmissionUnits]]). */
final case class VersionFileOffset(v: Long, idx: Long) extends OffsetV1 {
  require(idx >= 0, s"partial offset needs idx >= 0, got $idx")
  override def json(): String = s"$v:$idx"
}
