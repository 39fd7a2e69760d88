package graft.sources

import java.io.File
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, And, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Versioned

/** A DSv2 `TableCatalog` over [[Versioned]] lake tables — catalog
  * NAMES for what was previously only path-addressable:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.sources.GraftCatalog
  *               spark.sql.catalog.graft.warehouse = /lake/warehouse
  *
  *   CREATE TABLE graft.gold.daily (day DATE, rev DOUBLE)
  *     PARTITIONED BY (day)
  *   INSERT INTO graft.gold.daily SELECT …
  *   SELECT * FROM graft.gold.daily VERSION AS OF 3   -- time travel
  *   ALTER TABLE graft.gold.daily ADD COLUMNS (n BIGINT)
  *   SHOW TABLES IN graft.gold / DESCRIBE graft.gold.daily
  * }}}
  *
  * The reference's whole Gold layer speaks named relations (every dbt
  * `ref()`; the Spark path writes `toTable(...)` against a catalog —
  * `pipelines/02-kafka-spark-iceberg/spark/jobs/bronze_ingest.py:
  * 173-183`); this closes that gap without a metastore: the warehouse
  * DIRECTORY is the catalog (namespace = subdirectory, table = a
  * directory with a `_graft_log`), so catalog state shares the
  * manifest log's CAS atomicity instead of adding a second source of
  * truth that could diverge from it.
  *
  * A catalog name and a path (`format("graft-versioned")`,
  * [[VersionedSource]]) resolve to the same [[GraftTable]], so both
  * read, stream and stream-write on one DSv2 stack. Every plain batch
  * read takes the native scan ([[GraftRowLevelScan]]: vectorized
  * parquet, manifest-stats file pruning, commit-time statistics for
  * auto-broadcast, pending deletion vectors applied in the reader)
  * unless a metadata-only aggregate answers from the manifest; every
  * stream read takes [[GraftMicroBatchStream]]. Catalog batch writes
  * ride the DSv2→V1 write bridge (`V1Write`), streaming writes and
  * dynamic overwrite the executor-staged DSv2 write core — every write
  * is one atomic CAS manifest commit.
  */
object GraftCatalog {
  /** The one identifier→path rule both surfaces share — the catalog's
    * own DDL resolution AND the SQL dispatcher's `cat.ns.table`
    * targets ([[graft.operators.VersionedSql]]) — so the two can
    * never desynchronize on escaping or normalization. Identifiers
    * map 1:1 onto warehouse-relative paths; path metacharacters are
    * rejected so a name can never escape the warehouse. */
  private[graft] def checkPart(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
        p != "." && p != ".." && !p.startsWith("_"),
      s"invalid catalog name part: '$p'")
    p
  }

  private[graft] def resolveRoot(warehouse: String,
      parts: Seq[String]): String =
    parts.foldLeft(new File(warehouse).getAbsoluteFile)(
      (d, p) => new File(d, checkPart(p))).getPath
}

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: File = _
  // the session current when `initialize` ran: the last fallback for
  // a call from a thread with no active session in a JVM whose default
  // session was cleared
  private var initSession: Option[SparkSession] = None

  // ---- FunctionCatalog: the partition-transform functions. Spark
  // loads these to RESOLVE the transforms a scan reports in its
  // KeyGroupedPartitioning (storage-partitioned join alignment) —
  // V2ExpressionUtils looks the name up with an EMPTY namespace.
  override def listFunctions(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftFunctions.names.map(n =>
        Identifier.of(Array.empty[String], n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    (if (ident.namespace().isEmpty) GraftFunctions.load(ident.name())
     else None).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>")
    warehouse = new File(w).getAbsoluteFile
    warehouse.mkdirs()
    initSession =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
  }

  override def name(): String = catalogName

  // the ACTIVE session first: streaming micro-batches plan on a cloned
  // session whose conf must govern (see GraftWriteLayout.conf); then
  // the JVM default; then the session that initialized this catalog
  private def spark: SparkSession =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .orElse(initSession)
      .getOrElse(throw new IllegalStateException(
        s"catalog '$catalogName' has no Spark session: none is active " +
          "on this thread, none is the JVM default, and none was " +
          "current when the catalog initialized"))

  private def checkPart(p: String): String = GraftCatalog.checkPart(p)

  private def nsDir(namespace: Array[String]): File =
    namespace.foldLeft(warehouse)((d, p) => new File(d, checkPart(p)))

  private[sources] def rootOf(ident: Identifier): String =
    new File(nsDir(ident.namespace), checkPart(ident.name)).getPath

  private def isTableDir(f: File): Boolean =
    new File(f, "_graft_log").isDirectory

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!dir.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(isTableDir).map(f => Identifier.of(namespace, f.getName))
      .sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new File(rootOf(ident)))

  override def loadTable(ident: Identifier): Table =
    loadPinned(ident, None)

  /** `VERSION AS OF n` time travel — the version string is the
    * manifest version number, or a TAG name (`VERSION AS OF
    * 'release-v1'`): tags resolve against the named table (or the
    * base table of a `.changes` metadata read) and a miss fails
    * loudly naming the available tags. */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(n) => loadPinned(ident, Some(n))
      case None =>
        val own = new File(rootOf(ident))
        val base =
          if (isTableDir(own)) own.getPath
          else if (ident.name == "changes" && ident.namespace.nonEmpty)
            rootOf(Identifier.of(ident.namespace.dropRight(1),
              ident.namespace.last))
          else throw new NoSuchTableException(ident)
        loadPinned(ident, Some(Versioned.resolveTag(base, version)))
    }

  /** `TIMESTAMP AS OF` time travel — micros since epoch (Spark's
    * contract for this overload) resolve to the newest commit at or
    * before that wall-clock instant. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!isTableDir(new File(root))) throw new NoSuchTableException(ident)
    loadPinned(ident,
      Some(Versioned.versionAsOfTimestamp(root, timestamp / 1000L)))
  }

  private def loadPinned(ident: Identifier, v: Option[Long]): Table = {
    val root = rootOf(ident)
    if (!isTableDir(new File(root)) ||
        Versioned.latestVersion(root).isEmpty) {
      // `cat.ns.t.changes` — the CHANGE-FEED metadata table (Iceberg's
      // db.table.changes convention): resolves when the prefix names a
      // real table and nothing shadows the suffix. Serves the CDC
      // envelope (rows + _change_type + _commit_version) for batch
      // window reads and native micro-batch streaming.
      if (ident.name == "changes" && ident.namespace.nonEmpty) {
        val baseNs = ident.namespace.dropRight(1)
        val baseIdent = Identifier.of(baseNs, ident.namespace.last)
        val baseRoot = rootOf(baseIdent)
        if (isTableDir(new File(baseRoot)) &&
            Versioned.latestVersion(baseRoot).isDefined)
          // a VERSION/TIMESTAMP AS OF pin on the feed is honored, not
          // dropped: the schema pins at v and the batch window defaults
          // to endingVersion=v — `t.changes VERSION AS OF 3` reads the
          // feed as it stood at v3
          return new GraftFeedTable(spark, fullName(ident), baseRoot, v)
      }
      // `cat.ns.t.history` / `.files` / `.tags` — read-only METADATA
      // TABLES (Iceberg's db.table.<meta> convention): the commit log,
      // the (optionally pinned) live file inventory, and the tag map,
      // each as an ordinary queryable relation
      if (Set("history", "files", "tags")(ident.name) &&
          ident.namespace.nonEmpty) {
        val baseIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val baseRoot = rootOf(baseIdent)
        if (isTableDir(new File(baseRoot)) &&
            Versioned.latestVersion(baseRoot).isDefined) {
          def noPin(): Unit = require(v.isEmpty,
            s"VERSION/TIMESTAMP AS OF on ${ident.name} is not " +
              "meaningful — the relation already spans the log")
          val mk: () => DataFrame = ident.name match {
            case "history" => noPin(); () =>
              Versioned.history(spark, baseRoot)
            case "tags" => noPin(); () => {
              val s = spark
              import s.implicits._
              Versioned.tagsOf(baseRoot).toSeq.sortBy(_._1)
                .toDF("tag", "version")
            }
            case _ => () => { // files: pinnable — the snapshot's inventory
              val s = spark
              import s.implicits._
              val ver = v.getOrElse(
                Versioned.latestVersion(baseRoot).get)
              val (entries, _) = Versioned.aggMeta(baseRoot, ver)
              entries.map(e => (e.path, e.bytes, e.rows))
                .toDF("path", "bytes", "rows")
            }
          }
          return new GraftMetaTable(fullName(ident), mk)
        }
      }
      throw new NoSuchTableException(ident)
    }
    new GraftTable(spark, fullName(ident), root, v)
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = new File(root).getParentFile
    if (!dir.isDirectory) throw new NoSuchNamespaceException(ident.namespace)
    val (partCols, transforms) = parsePartitions(partitions)
    checkProperties(properties)
    Versioned.createTable(spark, root, schema, partCols,
      transforms = transforms)
    new GraftTable(spark, fullName(ident), root, None)
  }

  /** DSv2 partition transforms → (partition columns, hidden transform
    * specs): identity columns pass through; bucket/truncate/
    * days/months/years/hours become HIDDEN materialized transforms
    * (Iceberg's hidden partitioning) — every write derives the value,
    * the user never carries a derived column. Shared by CREATE and the
    * atomic staged CTAS/RTAS path. */
  private def parsePartitions(partitions: Array[Transform])
      : (Seq[String], Seq[Versioned.PartTransform]) = {
    def ref(t: Transform): String = {
      val parts = t.references()(0).fieldNames.toSeq
      require(parts.size == 1,
        s"nested partition column not supported: ${parts.mkString(".")}")
      parts.head
    }
    val parsed: Seq[Either[String, Versioned.PartTransform]] =
      partitions.toSeq.map { t =>
        t.name match {
          case "identity" => Left(ref(t))
          case "bucket" =>
            val n = t.arguments().collectFirst {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value().isInstanceOf[Number] =>
                l.value().asInstanceOf[Number].intValue()
            }.getOrElse(throw new IllegalArgumentException(
              s"bucket transform needs a literal bucket count: $t"))
            require(t.references().length == 1,
              s"sorted/multi-column bucket transforms are not " +
                s"supported: $t")
            Right(Versioned.PartTransform("bucket", n, ref(t)))
          case "truncate" =>
            val n = t.arguments().collectFirst {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value().isInstanceOf[Number] =>
                l.value().asInstanceOf[Number].intValue()
            }.getOrElse(throw new IllegalArgumentException(
              s"truncate transform needs a literal width: $t"))
            require(t.references().length == 1,
              s"multi-column truncate transforms are not supported: $t")
            Right(Versioned.PartTransform("truncate", n, ref(t)))
          case fn @ ("days" | "months" | "years" | "hours") =>
            Right(Versioned.PartTransform(fn, 0, ref(t)))
          case other => throw new IllegalArgumentException(
            s"unsupported PARTITIONED BY transform: $other — " +
              "supported: identity columns, bucket(n, col), " +
              "truncate(n, col), days(col), months(col), years(col), " +
              "hours(col)")
        }
      }
    val partCols = parsed.map {
      case Left(c) => c
      case Right(tx) => tx.hidden
    }
    (partCols, parsed.collect { case Right(tx) => tx })
  }

  // ---- StagingTableCatalog: ATOMIC `CREATE [OR REPLACE] TABLE … AS
  // SELECT` (Spark plans AtomicCreateTableAsSelect/-ReplaceTableAsSelect
  // when the catalog stages). The staged write lands the query's data
  // files under the table root UNPUBLISHED — files are invisible until
  // a manifest references them, the engine's core invariant — and
  // commitStagedChanges() publishes ONE manifest CAS: a failed or
  // aborted CTAS leaves nothing visible (no empty-shell table, no
  // partial data), and REPLACE … AS SELECT swaps the table in one
  // commit with the pre-replace history still time-travelable.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      orReplace = false, replaceOnly = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      orReplace = false, replaceOnly = true)

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      orReplace = true, replaceOnly = false)

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      orReplace: Boolean, replaceOnly: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = rootOf(ident)
    // stage-time checks fail FAST; the commit-time CAS re-decides
    // against whatever the table looks like then (concurrent racers)
    if (!orReplace && !replaceOnly && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (replaceOnly && !tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val dir = new File(root).getParentFile
    if (!dir.isDirectory) throw new NoSuchNamespaceException(ident.namespace)
    val (partCols, transforms) = parsePartitions(partitions)
    checkProperties(properties)
    Versioned.validatePartitionSpec(schema, partCols, transforms)
    new GraftStagedCtasTable(spark, fullName(ident), root, schema,
      partCols, transforms, orReplace, replaceOnly)
  }

  /** Spark passes bookkeeping properties (provider, owner, location)
    * on every CREATE — those are derivable or implied here; anything
    * a USER declared would be silently lost, so reject it loudly. */
  private def checkProperties(
      properties: util.Map[String, String]): Unit = {
    val userProps = properties.asScala.keys
      .filterNot(Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
        TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
        TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COMMENT))
    require(userProps.isEmpty,
      s"TBLPROPERTIES are not supported: ${userProps.mkString(", ")}")
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // Validate EVERY change before committing ANY: a multi-change
    // statement must not half-apply on a late validation failure
    // (`ADD COLUMNS (a INT, b NOT NULL)` rejecting b after a already
    // published would leave the statement torn).
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"nested column paths are not supported: " +
            a.fieldNames.mkString("."))
        require(a.position() == null,
          "column positions are not supported — new columns append")
        require(a.defaultValue() == null,
          "column DEFAULTs are not supported — added columns null-fill")
        require(a.isNullable,
          s"column '${a.fieldNames.head}' declared NOT NULL — an " +
            "added column must be nullable: existing rows have no " +
            "value to give it")
      case c @ (_: TableChange.RenameColumn | _: TableChange.DeleteColumn |
          _: TableChange.UpdateColumnType) =>
        val names = c match {
          case r: TableChange.RenameColumn => r.fieldNames
          case d: TableChange.DeleteColumn => d.fieldNames
          case u: TableChange.UpdateColumnType => u.fieldNames
        }
        require(names.length == 1,
          s"nested column paths are not supported: ${names.mkString(".")}")
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other — supported: ADD " +
          "COLUMNS, RENAME COLUMN, DROP COLUMN, ALTER COLUMN TYPE " +
          "(lossless widening)")
    }
    // All AddColumns in the statement land as ONE manifest commit —
    // `ADD COLUMNS (a INT, b INT)` is atomic (the tombstone gate sees
    // the whole set at once). Mixed-kind statements apply in order;
    // each kind is itself one atomic commit.
    val adds = changes.collect { case a: TableChange.AddColumn =>
      org.apache.spark.sql.types.StructField(
        a.fieldNames.head, a.dataType, nullable = true)
    }
    if (adds.nonEmpty) Versioned.addColumns(spark, root, adds.toSeq)
    changes.foreach {
      case _: TableChange.AddColumn => () // batched above
      case r: TableChange.RenameColumn =>
        Versioned.renameColumn(spark, root, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        Versioned.dropColumns(spark, root, Seq(d.fieldNames.head))
      case u: TableChange.UpdateColumnType =>
        Versioned.widenColumn(spark, root, u.fieldNames.head,
          u.newDataType)
      case other => throw new UnsupportedOperationException(
        s"unreachable: $other")
    }
    loadTable(ident)
  }

  // DROP TABLE deletes the table directory recursively. Shallow
  // clones of this table hold ABSOLUTE references to its data files
  // and would dangle — the same vacuum-class hazard renameTable
  // documents: clones are not registered anywhere (a clone is just
  // another table whose manifest points here), so the drop cannot
  // detect them. A dangling clone fails loudly at read time (missing
  // file); re-clone or restore to recover. Deep-copy a clone (full
  // overwrite) before dropping its source if it must outlive it.
  override def dropTable(ident: Identifier): Boolean = {
    val f = new File(rootOf(ident))
    if (!isTableDir(f)) false
    else { deleteRecursively(f); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = new File(rootOf(from))
    if (!isTableDir(src)) throw new NoSuchTableException(from)
    val dst = new File(rootOf(to))
    if (dst.exists()) throw new TableAlreadyExistsException(to)
    if (!dst.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(to.namespace)
    // manifests reference data files by RELATIVE path, so a directory
    // move is complete and atomic on one filesystem; shallow clones of
    // this table hold absolute refs and would dangle — refuse is not
    // detectable from here, so the vacuum-class caveat is documented
    if (!src.renameTo(dst)) throw new IllegalStateException(
      s"rename $src -> $dst failed (cross-device move?)")
  }

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    Option(warehouse.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !isTableDir(f))
      .map(f => Array(f.getName)).sortBy(_.head)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!dir.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !isTableDir(f))
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = nsDir(namespace)
      dir.isDirectory && !isTableDir(dir)
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      nsDir(namespace).getPath).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    nsDir(namespace).mkdirs()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespace properties are not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!dir.isDirectory) false
    else {
      val nonEmpty = Option(dir.listFiles()).exists(_.nonEmpty)
      if (nonEmpty && !cascade)
        throw org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace,
            s"namespace ${namespace.mkString(".")} is not empty", None)
      deleteRecursively(dir)
      true
    }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .foreach(deleteRecursively)
    f.delete()
  }
}

/** One versioned table, addressed by catalog name or (with
  * `pathAddressed`) by its root through [[VersionedSource]], pinned to
  * `versionAsOf` (time travel) or floating at latest.
  *
  * STREAMING is NATIVE DSv2 end to end, for either address:
  *
  *  - `spark.readStream.table("graft.ns.t")` (or
  *    `readStream.format("graft-versioned").load(root)`) plans through
  *    the `MICRO_BATCH_READ` capability onto [[GraftMicroBatchStream]]
  *    — a ROW stream of the table's appends (manifest versions as
  *    offsets, exactly-once restart; Delta's streaming-read default:
  *    a row-removing commit fails loudly unless `skipChangeCommits`).
  *    Projecting the `_change_type` / `_commit_version` metadata
  *    columns makes it the full change feed ([[GraftStreamEnvelope]]).
  *    Reader options: `startingVersion`, `startingTimestamp`,
  *    `maxVersionsPerTrigger`, `maxFilesPerTrigger`,
  *    `maxBytesPerTrigger`, `skipChangeCommits`;
  *  - `spark.readStream.table("graft.ns.t.changes")` is the CHANGE
  *    FEED metadata table ([[GraftFeedTable]], Iceberg's
  *    `db.table.changes` convention) — the full CDC envelope, batch
  *    and streaming;
  *  - `df.writeStream.toTable("graft.ns.t")` (or
  *    `writeStream.format("graft-versioned")`) lands each micro-batch
  *    as one atomic manifest commit with the in-manifest
  *    (queryId, epochId) replay guard through the executor-staged
  *    DSv2 write core.
  *
  * This is the reference's bronze shape — a streaming write addressed
  * by table name (`pipelines/02-kafka-spark-iceberg/spark/jobs/
  * bronze_ingest.py:173-183`, `writeStream…toTable`).
  *
  * A path-addressed table declares no batch-write capability: Spark
  * then routes every `df.write` save mode to
  * [[VersionedSource.createRelation]], the one path batch write.
  * `streamEnvelope` names the envelope columns a stream over this
  * table serves (set by [[GraftStreamEnvelope]], never by callers). */
final class GraftTable(spark: SparkSession, fullName: String,
    root: String, versionAsOf: Option[Long],
    pathAddressed: Boolean = false,
    private[sources] val streamEnvelope: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDelete
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // pin ONCE at load: the scan's file set and the reported schema must
  // come from the same manifest or a concurrent commit could tear them
  private val pinned: Long = versionAsOf
    .orElse(Versioned.latestVersion(root))
    .getOrElse(throw new IllegalArgumentException(s"no versions at $root"))

  override def name(): String = fullName

  override lazy val schema: StructType =
    Versioned.tableSchema(spark, root, Some(pinned))

  override def partitioning(): Array[Transform] = {
    val tx = Versioned.transformsOf(root, Some(pinned))
      .map(t => t.hidden -> t).toMap
    Versioned.partitionByOf(root, Some(pinned)).map { pc =>
      tx.get(pc) match {
        case Some(t) if t.fn == "bucket" => Expressions.bucket(t.n, t.src)
        case Some(t) if t.fn == "truncate" =>
          Expressions.apply(t.fn,
            Expressions.literal(java.lang.Integer.valueOf(t.n)),
            Expressions.column(t.src))
        case Some(t) => Expressions.apply(t.fn, Expressions.column(t.src))
        case None => Expressions.identity(pc)
      }
    }.toArray
  }

  override def properties(): util.Map[String, String] = {
    val tx = Versioned.transformsOf(root, Some(pinned))
    val tags = Versioned.tagsOf(root)
    (Map(TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> VersionedSource.Name) ++
      (if (tx.isEmpty) Map.empty[String, String]
       else Map("graft.partition.transforms" ->
         tx.map(_.show).mkString(", "))) ++
      (if (tags.isEmpty) Map.empty[String, String]
       else Map("graft.tags" -> tags.toSeq.sortBy(_._1)
         .map { case (n, v) => s"$n=v$v" }.mkString(", ")))).asJava
  }

  override def version(): String = pinned.toString

  /** This table, pinned where it is, with a stream that serves the
    * `names` envelope columns after the data columns. */
  private[sources] def withStreamEnvelope(names: Seq[String]): GraftTable =
    new GraftTable(spark, fullName, root, Some(pinned), pathAddressed, names)

  // catalog batch writes ride the V1 bridge (append / truncate-overwrite
  // / replaceWhere); STREAMING_WRITE and OVERWRITE_DYNAMIC ride the
  // executor-staged DSv2 core (GraftWriteCore) — tasks write parquet,
  // the driver publishes metadata only. A path-addressed table keeps
  // only the streaming write (TRUNCATE = Complete mode).
  override def capabilities(): util.Set[TableCapability] =
    if (pathAddressed)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE)
    else
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.STREAMING_WRITE, TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, root, pinned, schema, options,
      streamEnvelope)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, root, info)

  /** `_file` — the manifest-relative path of the data file a row came
    * from — and `_pos`, its row index within that file. Together they
    * are the row identity the delta-based operation's `rowId` speaks
    * (and what the deletion-vector verbs key on); the group-based
    * rewrite carries `_file` alone for file provenance. Served by the
    * native scan. `_change_type` / `_commit_version` are the change-feed
    * envelope, served by streams only ([[GraftStreamEnvelope]]; a
    * batch scan refuses them). A name the table schema declares as a
    * data column is omitted: there it reads as data. */
  override def metadataColumns(): Array[MetadataColumn] = {
    def meta(n: String, dt: org.apache.spark.sql.types.DataType,
        nullable: Boolean, doc: String): MetadataColumn =
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = nullable
        override def comment(): String = doc
      }
    (Array(
      meta("_file", org.apache.spark.sql.types.StringType, nullable = false,
        "manifest-relative path of the row's data file"),
      meta("_pos", org.apache.spark.sql.types.LongType, nullable = false,
        "row index within the row's data file")) ++
      VersionedSource.envelope.fields.map(f => meta(f.name, f.dataType,
        nullable = true, "change-feed envelope (streaming reads)")))
      .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c.name)))
  }

  /** The effective row-level mode for this snapshot: `cow` (group-based
    * copy-on-write replace), `mor` (delta-based deletion vectors), or
    * the `auto` default — copy-on-write for a clean table, delta when
    * deletion vectors are already pending (copy-on-write would refuse
    * there, so bare-SQL DML composes with the DV verbs without a
    * compact between). */
  private def rowLevelMode: String =
    spark.conf.getOption("spark.graft.rowlevel.mode")
      .getOrElse("auto") match {
      case "cow" => "cow"
      case "mor" => "mor"
      case "auto" =>
        if (Versioned.pendingDvEntries(root, pinned).nonEmpty) "mor"
        else "cow"
      case other => throw new IllegalArgumentException(
        s"spark.graft.rowlevel.mode must be cow, mor or auto; got $other")
    }

  /** Plain `spark.sql` MERGE/UPDATE/DELETE against the catalog name —
    * Spark's own analyzer rewrites plan onto the group-based
    * copy-on-write operation ([[GraftRowLevelOperation]]) or the
    * delta-based merge-on-read one ([[GraftDeltaOperation]]) per
    * [[rowLevelMode]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write
          .RowLevelOperation = {
        // the operation's provenance metadata columns would silently
        // bind to a DATA column of the same name — refuse up front
        Seq("_file", "_pos").foreach(m =>
          require(!schema.fieldNames.contains(m),
            s"table $fullName declares a '$m' data column, which " +
              "collides with the row-level provenance metadata column " +
              "— rename it, or use the SQL dispatcher (Versioned.sql)"))
        if (rowLevelMode == "mor")
          new GraftDeltaOperation(spark, root, pinned, info.command,
            schema)
        else
          new GraftRowLevelOperation(spark, root, pinned, info.command,
            schema)
      }
    }

  /** The DELETE fast path: Spark's `OptimizeMetadataOnlyDeleteFromTable`
    * converts any DELETE whose condition translates EXACTLY into this
    * call — routed onto [[Versioned.delete]], the manifest-stats
    * file-pruned verb (untouched files carry by reference), instead of
    * the group-based full rewrite. Under the delta (merge-on-read)
    * mode the fast path steps aside: position deltas beat a predicate
    * rewrite for small deletes, and [[Versioned.delete]] refuses
    * pending vectors anyway. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    rowLevelMode == "cow" &&
      filters.forall(f => VersionedSource.exactColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.toSeq.flatMap(VersionedSource.exactColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Versioned.delete(spark, root, cond, expectedVersion = Some(pinned))
    ()
  }

  // ---- SupportsPartitionManagement: the hive-layout partitions as a
  // first-class catalog surface. LISTING is metadata-only (distinct
  // partition tuples decoded from per-file single-valued footer stats
  // — `SHOW PARTITIONS cat.ns.t` never touches data); DROP/TRUNCATE
  // PARTITION route onto the stats-pruned delete verb, which removes
  // a partition's files WHOLE (single-valued files either match the
  // tuple entirely or not at all — one metadata commit, no rewrite).
  // ADD/RENAME PARTITION refuse: in a file-per-tuple lake a partition
  // EXISTS exactly while rows do (Delta takes the same stance).

  private def partCols: Seq[org.apache.spark.sql.types.StructField] =
    Versioned.partitionByOf(root, Some(pinned)).map(pc =>
      schema.fields.find(_.name == pc).getOrElse(
        throw new IllegalStateException(
          s"partition column $pc missing from schema of $fullName")))

  override def partitionSchema(): StructType = StructType(partCols)

  /** Distinct partition tuples at the pinned version, optionally
    * filtered by a sub-tuple (`names` = the filtering columns, `ident`
    * their values — Spark's SHOW PARTITIONS (PARTITION …) shape). */
  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val cols = partCols
    val tuples = GraftMetaAgg.partitionTuples(root, pinned, StructType(cols))
    val nameIdx = names.map(n => cols.indexWhere(_.name.equalsIgnoreCase(n)))
    require(nameIdx.forall(_ >= 0),
      s"unknown partition column(s) ${names.mkString(", ")} on $fullName")
    tuples.filter { t =>
      nameIdx.zipWithIndex.forall { case (ti, ii) =>
        val dt = cols(ti).dataType
        t.get(ti, dt) == ident.get(ii, dt)
      }
    }.toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$fullName: partitions exist exactly while rows do (file-per-" +
        "tuple layout) — INSERT rows to create one")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$fullName: partition metadata is derived from the manifest")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** `ALTER TABLE … DROP PARTITION (…)`: one atomic manifest commit
    * retiring the tuple's files whole — O(affected files), no data
    * rewrite. Returns false when the partition has no rows. */
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val cols = partCols
    if (listPartitionIdentifiers(cols.map(_.name).toArray, ident).isEmpty)
      return false
    val cond = cols.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.functions.col(f.name) ===
        org.apache.spark.sql.functions.lit(toExternal(ident, i, f.dataType))
    }.reduce(_ && _)
    Versioned.delete(spark, root, cond, expectedVersion = Some(pinned))
    true
  }

  /** `TRUNCATE TABLE … PARTITION (…)`: same commit shape as drop —
    * in a file-per-tuple lake an empty partition and an absent one
    * are the same state. */
  override def truncatePartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    dropPartition(ident) || (throw new org.apache.spark.sql.catalyst
      .analysis.NoSuchPartitionException(fullName, ident,
        partitionSchema()))

  /** Catalyst-internal partition value → the external literal the
    * delete predicate compares with. */
  private def toExternal(row: org.apache.spark.sql.catalyst.InternalRow,
      i: Int, dt: org.apache.spark.sql.types.DataType): Any = dt match {
    case org.apache.spark.sql.types.StringType => row.getUTF8String(i).toString
    case org.apache.spark.sql.types.DateType =>
      java.time.LocalDate.ofEpochDay(row.getInt(i).toLong)
    case org.apache.spark.sql.types.IntegerType => row.getInt(i)
    case org.apache.spark.sql.types.LongType => row.getLong(i)
    case org.apache.spark.sql.types.ShortType => row.getShort(i)
    case org.apache.spark.sql.types.ByteType => row.getByte(i)
    case org.apache.spark.sql.types.DoubleType => row.getDouble(i)
    case org.apache.spark.sql.types.FloatType => row.getFloat(i)
    case other => throw new UnsupportedOperationException(
      s"unsupported partition column type $other on $fullName")
  }

  override def toString: String = s"GraftTable($fullName, v$pinned)"
}

/** A path-addressed root with no version yet, as a first streaming
  * write sees it: write-only, through the same [[GraftWriteBuilder]] a
  * live table uses — the first commit creates the table. (A first
  * batch `save()` goes to [[VersionedSource.createRelation]]; a read
  * fails in [[VersionedSource.inferSchema]], naming the root.) */
private[sources] final class GraftUnbornTable(spark: SparkSession,
    root: String, tableSchema: StructType) extends Table with SupportsWrite {

  override def name(): String = root
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, root, info)
  override def toString: String = s"GraftUnbornTable($root)"
}

/** Pushdown capture: filters feed manifest-stats FILE pruning (plus
  * in-scan re-application for parquet row-group pruning), required
  * columns the projection — both strictly advisory: every filter the
  * scan does not apply exactly is re-applied by Spark above it, so
  * stats gaps can't change results. `streamEnvelope` is what a stream
  * built from this builder serves after the data columns. */
final class GraftScanBuilder(spark: SparkSession, root: String,
    version: Long, tableSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    streamEnvelope: Seq[String] = Nil)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggScan: Option[Scan] = None

  // partition columns where an EqualTo/In prunes files EXACTLY (every
  // live file single-valued, non-null by invariant, provably-exact
  // literal comparison) — see GraftMetaAgg.exactPartitionCols
  private lazy val exactCols: Map[String,
      org.apache.spark.sql.types.DataType] =
    GraftMetaAgg.exactPartitionCols(root, version, tableSchema)

  private def litOk(dt: org.apache.spark.sql.types.DataType,
      v: Any): Boolean = v != null && ((dt, v) match {
    case (org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType,
          _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long) => true
    case (org.apache.spark.sql.types.DateType,
          _: java.sql.Date | _: java.time.LocalDate) => true
    case (org.apache.spark.sql.types.StringType, _: String) => true
    case _ => false
  })

  /** True for the filters the scan APPLIES itself (not returned as
    * residual): exact-grain partition predicates. Everything else
    * stays advisory — returned for Spark to re-evaluate, so stats
    * gaps can never change results. */
  private def consumed(f: Filter): Boolean = f match {
    case org.apache.spark.sql.sources.EqualTo(a, v) =>
      exactCols.get(a).exists(litOk(_, v))
    case org.apache.spark.sql.sources.In(a, vs) =>
      vs.nonEmpty && vs.length <= (1 << 20) &&
        exactCols.get(a).exists(dt => vs.forall(litOk(dt, _)))
    // partition values are non-null by the write invariant (a null
    // partition value aborts the commit), and exactCols re-proves it
    // per file from the recorded null counts — the IsNotNull Spark
    // pushes alongside every comparison is a tautology here
    case org.apache.spark.sql.sources.IsNotNull(a) =>
      exactCols.contains(a)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    residual = filters.filterNot(consumed)
    residual // consumed partition predicates prune exactly in-scan;
             // the rest re-evaluates above (advisory pruning)
  }

  // ---- LIMIT file cap, PARTIAL pushdown: the scan plans just enough
  // files (by exact manifest row counts) to cover the limit — a
  // LIMIT 10 on a million-file table opens ONE file — and Spark keeps
  // its own Limit above (isPartiallyPushed), so the cap only ever has
  // to yield AT LEAST `limit` rows. The scan skips the cap whenever
  // per-file live-row counts aren't exact (pending deletion vectors)
  // or the file grouping is load-bearing (storage-partitioned scans);
  // a residual filter refuses here too (Spark doesn't offer the push
  // through a Filter, but the builder re-checks).
  private var limitHint: Option[Int] = None

  override def pushLimit(limit: Int): Boolean = {
    limitHint = Some(limit)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- metadata-only aggregates (COUNT/MIN/MAX, GROUP BY partition
  // columns) answered from the manifest as a COMPLETE pushdown onto a
  // LocalScan — zero tasks at any table size; anything not exactly
  // answerable refuses and plans the ordinary scan (GraftMetaAgg's
  // scaladoc enumerates the refusal cases). Both hooks compute: Spark
  // consults supportCompletePushDown first, but partial pushdown must
  // also answer COMPLETE values (a single final row per group is a
  // valid partial state for count/min/max — sums of one count, mins
  // of one min — so the same scan serves either plan shape).
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    // residual filters refuse (Spark would not offer the aggregation
    // then anyway — defensive); consumed partition filters narrow the
    // answered file set through the same exact prune the scan runs
    aggScan =
      if (residual.nonEmpty) None
      else GraftMetaAgg.tryCompute(spark, root, version, tableSchema, agg,
        pruned =
          if (pushed.isEmpty) None
          else Some(Versioned.candidateFilesForBounds(root, version,
            VersionedSource.bounds(pushed.toIndexedSeq)).toSet))
    aggScan.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = supportCompletePushDown(agg)

  // Two outcomes: a pushed metadata-only aggregation (a LocalScan —
  // the result is already computed), or the NATIVE DSv2 scan every
  // other catalog batch and stream read takes — Spark's vectorized
  // parquet reader with FilePartition-style packing/splitting,
  // manifest-stats pruning, commit-time statistics (broadcast
  // decisions from manifest truth), and the `_file`/`_pos` provenance
  // metadata columns when asked for (a user SELECT, or Spark's
  // runtime-group-filter subquery for row-level DML). Pending DELETION
  // VECTORS stay on the native scan: the columnar reader applies them
  // as a per-batch live-row mapping (the Delta/Iceberg DV read
  // architecture), so MoR's steady state between compactions keeps
  // `BatchScan … ColumnarToRow`, splitting, and packing. A table whose
  // SCHEMA declares a `_file`/`_pos` column reads it as data (the scan
  // decides that from the pinned schema).
  override def build(): Scan =
    aggScan.getOrElse(
      new GraftRowLevelScan(spark, root, version, required,
        pushed.toIndexedSeq, _ => (), dvAware = true,
        // streaming rides the same builder: the scan carries the
        // native micro-batch stream factory
        streamFactory = Some(() => new GraftMicroBatchStream(spark, root,
          StructType(required.fields ++ streamEnvelope.map(n =>
            VersionedSource.envelope(n))), tableSchema, options)),
        spjAllowed = true,
        limitHint = limitHint.filter(_ => residual.isEmpty)))
}

/** Read-only catalog METADATA TABLE: serves a driver-computed frame
  * (commit history, file inventory, tags) through the DSv2→V1 bridge —
  * metadata stays O(log) driver work, never a distributed scan. */
private[sources] final class GraftMetaTable(tableName: String,
    mk: () => DataFrame) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = mk().schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = GraftMetaTable.this.schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = GraftMetaTable.this.schema()
            override def buildScan(): RDD[Row] = mk().rdd
          }.asInstanceOf[T]
        override def description(): String = s"GraftMetaTable($tableName)"
      }
    }
}

/** The write builder. Batch modes ride the DSv2→V1 bridge: INSERT
  * INTO appends, INSERT OVERWRITE truncate-replaces (preserving the
  * declared partition layout — the Spark/Delta contract), and INSERT
  * OVERWRITE … PARTITION (p=…) / `writeTo.overwrite(cond)` replaces
  * exactly the rows matching the filter ([[Versioned.replaceWhere]] —
  * touched files only, the rest carried by reference). Streaming
  * (`writeStream.toTable`) and dynamic partition overwrite ride the
  * executor-staged DSv2 core instead ([[GraftWriteCore]]). Every mode
  * is one atomic CAS manifest commit. */
/** The staged table an atomic CTAS/RTAS writes into: the V1 write
  * stages the query's files under the root (unpublished — invisible),
  * `commitStagedChanges` is one manifest CAS, `abortStagedChanges`
  * deletes whatever was staged. The declared partition spec (identity
  * columns + hidden transforms) applies to the staged write itself. */
private[sources] final class GraftStagedCtasTable(spark: SparkSession,
    fullName: String, root: String, tableSchema: StructType,
    partCols: Seq[String], transforms: Seq[Versioned.PartTransform],
    orReplace: Boolean, replaceOnly: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  @volatile private var staged: Seq[Versioned.FileEntry] = Nil
  @volatile private var written = false

  override def name(): String = fullName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // REPLACE TABLE plans truncate-then-write; the staged table has
      // no published rows to truncate, so the call is a no-op marker
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data0: DataFrame,
                overwrite: Boolean): Unit = {
              // staged writes are V1 (never rewritten by V2Writes) and
              // target a table with NO manifest yet — the clustered
              // write layout applies against the DECLARED spec, so a
              // partitioned CTAS of a wide query lands O(partitions)
              // files, not O(tasks × partitions)
              val data = GraftWriteLayout.applyV1Declared(spark, data0,
                partCols, transforms)
              staged = Versioned.stageCtasFiles(spark, root, data,
                partCols, transforms)
              written = true
            }
          }
        override def toString: String = s"GraftStagedCtasWrite($root)"
      }
    }

  override def commitStagedChanges(): Unit = {
    require(written,
      s"staged CTAS at $root committed before its write ran")
    Versioned.publishCtas(root, staged, tableSchema.json, partCols,
      transforms, orReplace, replaceOnly)
    ()
  }

  override def abortStagedChanges(): Unit =
    staged.foreach(e => { new File(root, e.path).delete(); () })

  override def toString: String = s"GraftStagedCtasTable($fullName)"
}

final class GraftWriteBuilder(spark: SparkSession, root: String,
    info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite
    with SupportsDynamicOverwrite
    with org.apache.spark.sql.GraftStreamingUpdateAsAppend {

  // None = append; Some(None) = truncate-replace; Some(Some(c)) =
  // replace rows matching c
  private var overwriteCond: Option[Option[
    org.apache.spark.sql.Column]] = None
  private var dynamic = false

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteCond =
      if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
        Some(None)
      else Some(Some(filters.toSeq.map(exact).reduce(_ && _)))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true
    this
  }

  // the overwrite condition defines what gets DELETED, so unlike the
  // advisory read-path translation it must be EXACT — an
  // untranslatable leaf is a loud error, never a wider predicate
  private def exact(f: Filter): org.apache.spark.sql.Column = f match {
    case And(l, r) => exact(l) && exact(r)
    case other => VersionedSource.toColumn(other).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot overwrite by filter $other — not exactly " +
          "translatable to a table predicate"))
  }

  // Spark applies the declared write distribution/ordering to the
  // logical query BEFORE handing it to either the executor-staged V2
  // writers or the V1 bridge (V2Writes runs prepareQuery on every
  // AppendData/Overwrite*/micro-batch write) — declaring it here, and
  // as advisory (strictlyRequired=false), plans ONE AQE rebalance per
  // write: O(partitions) output files instead of O(tasks × partitions),
  // skewed partitions still split across tasks. See [[GraftWriteLayout]].
  private trait GraftWriteDistribution
      extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      GraftWriteLayout.distribution(spark, root, info.schema)
    override def distributionStrictlyRequired(): Boolean = false
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      GraftWriteLayout.ordering(spark, root, info.schema)
    // spark.graft.write.targetFileSize: the AQE rebalance sizes its
    // output partitions to this byte budget — ONE partition tuple
    // holding 10 GB splits into ~targetFileSize files instead of one
    // giant file, and many tiny tuples still coalesce (Iceberg's
    // write.target-file-size-bytes economics). 0 = Spark's advisory
    // default.
    override def advisoryPartitionSizeInBytes(): Long =
      GraftWriteLayout.targetFileSize
  }

  override def build(): Write =
    if (dynamic) new Write with GraftWriteDistribution {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new GraftDynamicOverwriteWrite(spark, root, info.schema)
      override def toString: String = s"GraftDynamicWrite($root)"
    }
    else new V1Write with GraftWriteDistribution {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data0: DataFrame, overwrite: Boolean): Unit = {
            // V1 writes never see Spark's V2 distribution rewrite —
            // the bridge applies the declared write layout itself
            val data = GraftWriteLayout.applyV1(spark, root, data0)
            overwriteCond match {
              case None =>
                Versioned.commit(spark, root, data)
              case Some(None) =>
                Versioned.commit(spark, root, data, mode = "overwrite",
                  partitionBy = Versioned.partitionByOf(root))
              case Some(Some(cond)) =>
                Versioned.replaceWhere(spark, root, cond, data)
            }
          }
        }
      // `writeStream.toTable` (bare — no format needed): Append mode
      // appends epochs, Complete mode (truncate()) overwrites the
      // snapshot per epoch; exactly-once via the (queryId, epochId)
      // replay guard riding IN the manifest
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = {
        val mode = overwriteCond match {
          case None => "append"
          case Some(None) => "overwrite"
          case Some(Some(_)) => throw new UnsupportedOperationException(
            "streaming replaceWhere is not supported — use Append or " +
              "Complete output mode")
        }
        def csv(k: String): Seq[String] =
          Option(info.options.get(k))
            .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
            .getOrElse(Nil)
        new GraftStreamingWrite(spark, root, info.queryId, info.schema,
          mode, csv("statscols"),
          Option(info.options.get("mergeschema")).exists(_.toBoolean))
      }
      override def toString: String = s"GraftV1Write($root)"
    }
}
