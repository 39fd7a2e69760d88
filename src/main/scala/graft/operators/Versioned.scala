package graft.operators

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or => CatOr}
import org.apache.spark.sql.types.{DataType, Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Versioned parquet table — the transaction-log economics of a
  * lakehouse format (Delta/Iceberg, whose jars this environment lacks)
  * rebuilt on plain parquet + a manifest log:
  *
  * {{{
  *   table/
  *     data/<batch-uuid>/part-*.parquet   immutable data files
  *     _graft_log/v<0-padded>.json        one manifest per version
  *     _graft_log/segments/seg-*.json     immutable file-list segments
  * }}}
  *
  * Each manifest lists the table's LIVE files (with per-file row counts,
  * byte sizes, and parquet-footer min/max stats for requested columns) —
  * small inline, large via immutable SEGMENT files that unchanged-file
  * commits carry by reference (the Iceberg manifest-list economics: an
  * append to a million-file table writes O(delta) metadata bytes, not a
  * million re-serialized entries). That buys, at 100 TB scale:
  *
  *  - **Reads never list directories.** A snapshot is one small JSON
  *    read + a direct-file-list scan — object-store LIST over millions
  *    of files is the classic lakehouse killer, and manifests are how
  *    every production format avoids it.
  *  - **Time travel**: every version's file list is retained until
  *    [[vacuum]]; `readVersion(v)` reproduces the exact snapshot.
  *  - **Atomic commits + optimistic concurrency**: a manifest is
  *    written to a temp file and published with `Files.createLink` —
  *    hard-link creation is create-EXCLUSIVE on POSIX (unlike rename,
  *    which silently replaces), so two writers racing to publish the
  *    same version get exactly one winner. Every DML verb pins the
  *    snapshot it READ as the parent it publishes against, so any
  *    interleaved commit surfaces as a version conflict — and the
  *    loser automatically RE-RUNS its body against the winner's
  *    published snapshot (serializable by construction: commits
  *    linearize on the hard-link CAS, and each retry recomputes from
  *    committed state). Callers that pin `expectedVersion` opt into
  *    manual CAS and get [[Versioned.VersionConflictException]]
  *    unretried. This is Delta's log-protocol commit + retry loop,
  *    minus the cloud-store LWT shims.
  *  - **Stats pruning before the scan**: [[readPruned]] drops files
  *    whose manifest min/max can't overlap the predicate, without
  *    opening the files.
  *
  * Readers of version N see an immutable file set; writers never mutate
  * published files (append/overwrite/compact all write NEW batch dirs).
  * Schema is enforced by default and evolves with `mergeSchema = true`
  * (see [[evolvedSchema]]); snapshots keep their OWN schema, so time
  * travel predates later columns. Scoped out, documented: multi-table
  * transactions.
  *
  * Reference analog: the lake-table layer under the reference's Silver
  * writes (pipelines/02-kafka-spark-iceberg/spark/jobs/
  * silver_transform.py:132 `writeTo(...).overwritePartitions()`;
  * pipelines/22-hudi-cdc-storage Hudi upsert + time-travel reads).
  */
object Versioned {

  final class VersionConflictException(msg: String)
    extends RuntimeException(msg)

  private[graft] case class FileEntry(
      path: String, // relative to table root
      rows: Long,
      bytes: Long,
      // col -> (typeTag, min, max) with typeTag in {"long","double","string"}
      stats: Map[String, (String, String, String)],
      // col -> per-file Bloom filter over CAST(col AS STRING) — the
      // point-lookup complement to min/max stats: ranges prune scans
      // when data is clustered, blooms prune them when overlapping key
      // ranges hide a sparse membership (the Delta/Hudi bloom-index
      // economics). Absent = no pruning for that column, always safe.
      blooms: Map[String, BloomStat] = Map.empty,
      // per-stats-column null counts (Delta's nullCount): prunes
      // IS NULL (no nulls here) and IS NOT NULL (all-null file)
      // predicates, and is recorded even for all-null files, which
      // have NO min/max. Absent = no null pruning, always safe.
      nulls: Map[String, Long] = Map.empty)

  private[graft] case class BloomStat(bits: Int, hashes: Int,
    words: IndexedSeq[Long])

  private case class Manifest(
      version: Long,
      action: String,
      files: Seq[FileEntry],
      // streaming exactly-once: the (appId, batchId) this commit carries.
      // Riding IN the manifest means the data and its replay guard
      // publish in the same atomic hard-link — no side marker file that
      // can diverge from the table under a crash between two writes.
      txnApp: Option[String] = None,
      txnBatch: Option[Long] = None,
      // schema JSON of the committed DataFrame: keeps a zero-file
      // snapshot (empty first batch, overwrite-to-empty) readable
      schemaJson: Option[String] = None,
      // row-level change files (Delta CDF): written by merge/delete when
      // cdf=true, read by changeFeed; relative paths like data files
      cdf: Seq[String] = Nil,
      // hive-layout partition columns: every data file holds exactly one
      // partition tuple, recorded as min==max stats for these columns —
      // partition pruning IS stats pruning, and [[overwritePartitions]]
      // swaps whole file sets by tuple
      partitionBy: Seq[String] = Nil,
      // free-form commit metadata (Delta's commitInfo): written by the
      // verb that publishes, read back newest-first via [[lastProps]] —
      // incremental-maintenance watermarks ride here so state and data
      // publish in the same atomic hard-link
      props: Map[String, String] = Map.empty,
      // ACCUMULATED positional deletion vectors (per live file) as of
      // this version; a dv-delete version's own delta is this minus
      // the parent's (the feed derives it — no redundant storage)
      dvs: Seq[DvEntry] = Nil,
      // publish wall-clock (epoch millis) — TIMESTAMP AS OF resolution
      // and history. Absent on pre-round-6 manifests (the file's mtime
      // stands in). Commit clocks may skew; resolution takes the LAST
      // version at-or-before the asked instant in version order, the
      // Delta convention.
      ts: Option[Long] = None,
      // immutable file-list SEGMENTS this manifest references (relative
      // paths under _graft_log/segments/). The manifest's live set is
      // `files` (inline entries) ∪ the segments' entries; a commit that
      // doesn't touch a segment's files carries the segment BY
      // REFERENCE, so commit write-amplification is O(changed files +
      // segment count), never O(table files) — the Iceberg
      // manifest-list economics. After [[readManifest]], `files` is the
      // RESOLVED union; `segments` is kept for carry and vacuum.
      segments: Seq[String] = Nil,
      // CHECK constraints (name → SQL predicate), a table property
      // inherited commit-to-commit like partitionBy: every verb that
      // writes NEW rows evaluates them IN the write job (rows that
      // fail abort the commit — Delta's invariant enforcement), and
      // [[addConstraint]] validates existing data before publishing
      constraints: Map[String, String] = Map.empty,
      // DROP COLUMN tombstones (lowercased name → version the drop
      // published FROM): files live at that version may still
      // physically carry the column, so re-ADDing the name would
      // resurrect stale values through parquet name resolution.
      // [[addColumns]] gates on live ∩ live-at-drop = ∅ (files written
      // post-drop align to a schema without the column, so they can
      // never carry it); [[publishEntries]] auto-clears a tombstone the
      // moment a commit retires the last pre-drop file — OPTIMIZE or a
      // full overwrite heals the table with no special-casing.
      dropped: Map[String, Long] = Map.empty,
      // COLUMN MAPPING (Delta's column-mapping mode, Iceberg's field
      // IDs): logical column name → the PHYSICAL parquet name it is
      // stored under. A column's physical name is fixed at creation
      // (its then-current name) and NEVER changes — RENAME COLUMN only
      // updates this map, so it is one metadata commit at any table
      // size. Absent entry = identity. Readers project files under the
      // physical schema and alias back to logical; writers alias
      // logical → physical just before the parquet write; file stats
      // are keyed PHYSICAL (immutable across renames, so stats
      // recorded before a rename keep pruning after it). [[compact]]
      // rewrites every file under logical names and clears the map
      // (canonicalization).
      physNames: Map[String, String] = Map.empty,
      // HIDDEN partition transforms (Iceberg's hidden partitioning):
      // for each entry, `partitionBy` contains its `hidden` column —
      // a schema-invisible materialized column every write derives as
      // `fn(src)`. Inherited commit-to-commit like partitionBy; a
      // re-layout that drops the hidden column drops its transform.
      transforms: Seq[PartTransform] = Nil,
      // PRIOR-GENERATION transforms still tagging live files after a
      // partition-spec evolution (Iceberg's multi-spec contract): old
      // files keep their old hidden column and prune under the OLD
      // derivation; new writes derive only `transforms`. Entries
      // self-clean — a publish drops any legacy transform whose hidden
      // column no longer appears in any live file's stats (compaction
      // migrates the table to one spec without knowing spec history).
      legacyTransforms: Seq[PartTransform] = Nil)

  /** One HIDDEN partition transform (Iceberg's hidden partitioning):
    * the table is partitioned by `fn(src)` without the user carrying a
    * derived column. The engine materializes the transform as `hidden`
    * — a real (but schema-invisible) column every write derives and
    * every data file stores with min==max footer stats — so the entire
    * partition machinery (tuple-per-file invariant, stats pruning,
    * dynamic overwrite, partition management, SPJ grouping) works on
    * it UNCHANGED, exactly as if the user had declared the derived
    * column themselves. `fn` ∈ bucket|days|months|years|hours; `n` is
    * the bucket count (0 otherwise).
    *
    * Why bucket matters at 100 TB: identity-partitioning a
    * high-cardinality join key is impossible (one partition per key),
    * but `bucket(N, key)` gives BOTH sides of a fact-fact join a
    * stable, bounded co-partitioning — the storage-partitioned join
    * then runs with no exchange on either side. Why time transforms
    * matter: `days(ts)` gives day-grain file pruning for ANY predicate
    * on the raw timestamp (the hidden column's min==max stats are the
    * day; the source column's own min/max stay day-bounded), without
    * the user maintaining a derived date column. */
  private[graft] case class PartTransform(
      hidden: String, fn: String, n: Int, src: String) {
    /** The derivation, as dialect-neutral SQL over the logical write
      * frame. A NULL source derives a NULL hidden value, so the
      * engine's existing "partition values must be non-null" error
      * fires (bucket needs the explicit guard: Spark's hash(NULL) is
      * the seed, not NULL — without the CASE a null key would silently
      * land in bucket pmod(42, n)). `srcType` drives the
      * type-dependent derivations (truncate is width-of-prefix on
      * strings, floor-to-multiple on integrals); the type-independent
      * transforms ignore it. */
    def sql(srcType: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      fn match {
        case "bucket" =>
          s"CASE WHEN `$src` IS NULL THEN CAST(NULL AS INT) " +
            s"ELSE pmod(hash(`$src`), $n) END"
        case "days" => s"CAST(`$src` AS DATE)"
        case "months" => s"TRUNC(CAST(`$src` AS DATE), 'MONTH')"
        case "years" => s"TRUNC(CAST(`$src` AS DATE), 'YEAR')"
        case "hours" => s"DATE_TRUNC('HOUR', `$src`)"
        // Iceberg's truncate: order-preserving width reduction —
        // strings keep their first n chars, integrals floor to the
        // nearest multiple of n (pmod keeps negatives correct).
        // Sources are restricted to INT/BIGINT/STRING (Iceberg's own
        // truncate domain): TINYINT/SMALLINT would be type-INCONSISTENT
        // across the derivation sites — this SQL form promotes to INT
        // (`v - pmod(v, n)`) while a source-typed expression wraps at
        // the type bounds (truncate(5, -128y): SQL derives -130, byte
        // arithmetic wraps to 126) — so they are rejected at
        // validatePartitionSpec and here.
        case "truncate" => srcType match {
          case _: StringType => s"substring(`$src`, 1, $n)"
          case _: IntegerType | _: LongType =>
            s"`$src` - pmod(`$src`, $n)"
          case other => throw new IllegalArgumentException(
            s"truncate($n, $src): unsupported source type ${other.sql}" +
              " (needs STRING, INT, or BIGINT)")
        }
        case other => throw new IllegalArgumentException(
          s"unknown partition transform: $other")
      }
    }
    /** The hidden column's type — fixed by the transform for bucket
      * and the time grains; the SOURCE type for truncate (an
      * order-preserving width reduction keeps its domain). */
    def dataType(srcType: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = fn match {
      case "bucket" => org.apache.spark.sql.types.IntegerType
      case "days" | "months" | "years" =>
        org.apache.spark.sql.types.DateType
      case "hours" => org.apache.spark.sql.types.TimestampType
      case "truncate" => srcType
      case other => throw new IllegalArgumentException(
        s"unknown partition transform: $other")
    }
    /** The source field's type under `schema`, for [[sql]]/[[dataType]]
      * at sites that hold the write/read schema. */
    def srcTypeIn(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.DataType =
      schema.fields.find(_.name.equalsIgnoreCase(src)).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"transform $show: source column '$src' is not in the frame " +
            s"(${schema.fieldNames.mkString(", ")})"))
    /** Display form, e.g. `bucket(16, key)` / `days(ts)`. */
    def show: String =
      if (fn == "bucket" || fn == "truncate") s"$fn($n, $src)"
      else s"$fn($src)"
  }

  private[graft] object PartTransform {
    /** The deterministic hidden-column name for a transform. Prefixed
      * so user columns can never collide silently (creation refuses a
      * schema that declares the name). */
    def hiddenName(fn: String, n: Int, src: String): String =
      if (fn == "bucket" || fn == "truncate") s"_pt_${fn}${n}_$src"
      else s"_pt_${fn}_$src"

    def apply(fn: String, n: Int, src: String): PartTransform =
      PartTransform(hiddenName(fn, n, src), fn, n, src)
  }

  /** Positional deletion vector: row positions (parquet row_index) of
    * ONE immutable data file that are deleted — the Delta/Iceberg DV
    * mechanism. Exact row-level merge-on-read: no predicate
    * re-evaluation at read time, no data rewrite at delete time.
    *
    * Two storage forms, composable per file:
    *  - `positions`: inline in the manifest (point deletes — small,
    *    zero extra files);
    *  - `sidecars`: relative paths of parquet position files
    *    (`file: string, pos: long`) written BY EXECUTORS at delete
    *    time — a wide delete's positions never pass through the
    *    driver or bloat the manifest (Delta/Iceberg's DV-file
    *    economics). A sidecar may cover many data files; the entry's
    *    effective set is positions ∪ {pos | (file, pos) ∈ sidecars}.
    *
    * `scRows` is the EXACT count of this file's positions stored in
    * its sidecars (the delete verbs know it at publish time — inline
    * counts are `positions.size` already), so the file's live-row
    * count is manifest arithmetic: `rows − positions.size − scRows`.
    * That keeps LIMIT's file cap and metadata-only COUNT(*) armed on
    * DV-pending snapshots with ZERO sidecar reads (the Iceberg
    * per-file `record_count`/DV-cardinality economics). `None` means
    * unknown (a pre-round-12 manifest) — exact-count consumers fall
    * back to one bounded sidecar scan, never guess. */
  private[graft] case class DvEntry(file: String, positions: Seq[Long],
      sidecars: Seq[String] = Nil, scRows: Option[Long] = None) {
    /** Exact deleted-position count, when knowable without IO. */
    def deletedExact: Option[Long] =
      if (sidecars.isEmpty) Some(positions.size.toLong)
      else scRows.map(_ + positions.size)
  }

  private def logDir(root: String) = new File(root, "_graft_log")

  /** Manifest path → filesystem file. Entries are root-relative for
    * files the table owns; a shallow clone ([[cloneShallow]]) records
    * the SOURCE table's files as absolute paths, which resolve as-is —
    * one branch point instead of clone-awareness in every reader. */
  private def resolve(root: String, path: String): File = {
    val f = new File(path)
    if (f.isAbsolute) f else new File(root, path)
  }
  private def manifestFile(root: String, v: Long) =
    new File(logDir(root), f"v$v%012d.json")

  /** All published versions, ascending (possibly non-contiguous after
    * vacuum). */
  def versions(root: String): Seq[Long] = {
    val d = logDir(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(f => f.getName.matches("v\\d{12}\\.json"))
      .map(_.getName.drop(1).dropRight(5).toLong).sorted
  }

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  // ------------------------------------------- optimistic concurrency

  private val occMaxRetries = 20

  /** The optimistic-concurrency driver every DML verb runs under:
    * `body` reads the CURRENT snapshot, pins its version as the
    * publish parent, and loses the create-exclusive hard-link race iff
    * a concurrent writer committed first — in which case the body is
    * simply RE-RUN against the winner's published snapshot. This is
    * serializable by construction: the CAS linearizes commits, and a
    * retry recomputes everything (touched-file partition, schema
    * rules, merge-on-read guards) from committed state, so no
    * interleaving can lose an update. Retries re-run Spark jobs and
    * may orphan the failed attempt's batch dir — [[vacuum]] sweeps
    * unreferenced files, the same economics as Delta's aborted-commit
    * data files.
    *
    * A caller that pinned `expectedVersion` asked for manual CAS
    * semantics (fail fast, let the application reconcile) and gets the
    * conflict exception unretried. */
  private def withOccRetry[T](expectedVersion: Option[Long])(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: VersionConflictException =>
          if (expectedVersion.isDefined || attempt >= occMaxRetries) throw e
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  // ------------------------------------------------------------ commit

  /** Write `df` as a new batch and publish the next version.
    *
    * @param mode           "append" (new files join the live set) or
    *                       "overwrite" (new files REPLACE the live set)
    * @param statsCols      columns whose parquet-footer min/max are
    *                       recorded per file (enables [[readPruned]])
    * @param expectedVersion optimistic-concurrency guard: fail with
    *                       [[VersionConflictException]] if the table has
    *                       moved past this snapshot version (compare-and
    *                       -swap semantics). None = publish after
    *                       whatever is latest, still atomic.
    * @return the published version number
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      mode: String = "append", statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false,
      partitionBy: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3,
      props: Map[String, String] = Map.empty): Long = {
    require(mode == "append" || mode == "overwrite",
      s"unknown commit mode: $mode")
    // the batch data is written at most once PER (LAYOUT, CONSTRAINT
    // SET): a concurrent overwrite can re-partition the table
    // mid-retry, and a concurrent ADD CONSTRAINT changes what the
    // write job must validate — either invalidates the staged batch
    // (its rows were checked against the OLD constraints; republishing
    // them would let the manifest claim a constraint the data may
    // violate, the concurrent-metadata-change abort Delta does). Only
    // the schema rules + publish re-run on a clean version conflict.
    var written: Option[(Seq[String], Map[String, String],
      Map[String, String], Seq[FileEntry])] = None
    withOccRetry(expectedVersion) {
      val latest = latestVersion(root)
      expectedVersion.foreach { ev =>
        if (latest.exists(_ != ev))
          throw new VersionConflictException(
            s"table at $root is at version ${latest.get}, expected $ev")
        if (latest.isEmpty && ev != 0)
          throw new VersionConflictException(
            s"table at $root is empty, expected version $ev")
      }
      // ONE parent-manifest read per OCC attempt feeds every inherited
      // table property below (the hot commit path re-parses nothing)
      val parentM = latest.map(readManifest(root, _))
      // partitioning is sticky: appends inherit the table layout (an
      // explicit mismatch is an error, never a silent re-layout);
      // overwrite replaces rows AND layout, like it replaces schema
      val parentPart = parentM.map(_.partitionBy).getOrElse(Seq.empty)
      val partCols =
        if (mode == "overwrite") partitionBy
        else if (partitionBy.isEmpty) parentPart
        else {
          require(parentPart.isEmpty || parentPart == partitionBy,
            s"table at $root is partitioned by ${parentPart.mkString(",")}" +
              s"; an append cannot re-partition by ${partitionBy.mkString(",")}")
          partitionBy
        }
      val schema = evolvedSchema(root, df, mode, mergeSchema)
      val constraints = parentM.map(_.constraints)
        .getOrElse(Map.empty[String, String])
      // an overwrite replaces every file, so it CANONICALIZES the
      // column mapping away (files land under logical names); appends
      // write under the table's current mapping. Staged batches are
      // keyed on the mapping too: a concurrent rename between staging
      // and retry must force a rewrite, or the manifest would claim
      // physical names the staged files don't use.
      val phys =
        if (mode == "overwrite") Map.empty[String, String]
        else parentM.map(_.physNames)
          .getOrElse(Map.empty[String, String])
      val entries = written.collect {
          case (p, cs, ph, e)
            if p == partCols && cs == constraints && ph == phys => e
        }
        .getOrElse {
          val (e, _) = writeBatch(spark, root, df, statsCols, partCols,
            bloomCols, bloomBits, bloomHashes, physOverride = Some(phys))
          written = Some((partCols, constraints, phys, e)); e
        }
      val base =
        if (mode == "append") currentFiles(root, latest) else Seq.empty
      publishEntries(root, base ++ entries, latest.getOrElse(0L),
        action = mode, txn, schema,
        partitionBy = Some(partCols), props = props,
        dvs = carriedDvs(root, latest, mode),
        dropped = if (mode == "overwrite") Some(Map.empty) else None,
        physNames = if (mode == "overwrite") Some(Map.empty) else None)
    }
  }

  /** Newest-first scan of retained manifests for the first one carrying
    * ALL of `keys` in its props — the read side of commit metadata
    * (same retention caveat as [[lastCommittedBatch]]: vacuum must keep
    * the consumer's window). */
  def lastProps(root: String, keys: Seq[String]): Option[Map[String, String]] =
    versions(root).reverseIterator
      .map(v => readManifest(root, v).props)
      .find(p => keys.forall(p.contains))

  // ----------------------------------------------------- COPY INTO

  private val CopyLedgerKey = "graft.copyInto.ledger"

  // --------------------------------------------- TAGS (named versions)

  /** Manifest props key carrying the table's TAGS as one JSON object
    * `{name: version}` — Iceberg's tags: durable NAMES for versions.
    * Always inherited commit-to-commit (a tag pins HISTORY — an
    * overwrite replacing the live data does not unpin the snapshot the
    * tag names), and VACUUM retains every tagged version's manifest
    * and files regardless of the retention count, so `VERSION AS OF
    * 'release-v1'` keeps resolving for as long as the tag lives. */
  private[graft] val TagsKey = "graft.tags"

  def tagsOf(root: String): Map[String, Long] =
    latestVersion(root).map(readManifest(root, _)) match {
      case Some(m) => m.props.get(TagsKey).map { j =>
        mapper.readTree(j).properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty)
      case None => Map.empty
    }

  private def renderTags(tags: Map[String, Long]): String =
    mapper.writeValueAsString(tags.view.mapValues(
      java.lang.Long.valueOf).toMap.asJava)

  /** Resolve a tag name to its version — loud on a miss, naming what
    * exists (a typo'd release name must never silently read HEAD). */
  def resolveTag(root: String, name: String): Long =
    tagsOf(root).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $root — " +
        (if (tagsOf(root).isEmpty) "the table has no tags"
         else s"tags: ${tagsOf(root).keys.toSeq.sorted.mkString(", ")}")))

  /** CREATE TAG: publish a metadata-only commit whose tags map names
    * `version` (default: the current head). Duplicate names refuse —
    * a tag is immutable once minted (drop it first to re-point). */
  def createTag(root: String, name: String,
      version: Option[Long] = None): Long = withOccRetry(None) {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' — tags must be [A-Za-z0-9._-]+")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val target = version.getOrElse(latest)
    readManifest(root, target) // throws with the vacuum/missing hint
    val m = readManifest(root, latest)
    val tags = tagsOf(root)
    require(!tags.contains(name),
      s"tag '$name' already exists on $root (at v${tags(name)}) — " +
        "DROP TAG first to re-point it")
    publishEntries(root, m.files, latest, "tag",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      props = Map(TagsKey -> renderTags(tags + (name -> target))))
  }

  /** DROP TAG — the named version loses its retention pin and ages
    * out through ordinary VACUUM. Missing names refuse loudly. */
  def dropTag(root: String, name: String): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val tags = tagsOf(root)
    require(tags.contains(name),
      s"no tag '$name' on $root to drop" +
        (if (tags.isEmpty) "" else s" — tags: ${tags.keys.toSeq.sorted
          .mkString(", ")}"))
    publishEntries(root, m.files, latest, "tag",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      props = Map(TagsKey -> renderTags(tags - name)))
  }

  // ------------------------------------------- ANALYZE column stats

  /** Manifest props key carrying the table's ANALYZE-computed column
    * statistics as one JSON object `{col: {ndv, nulls, rows, min,
    * max, avgLen, maxLen, ver}}` (col keys lowercased logical names;
    * min/max in the manifest's long/double stats scale — dates as
    * epoch days, timestamps as micros). Inherited commit-to-commit
    * (stale-but-useful after DML, the standard ANALYZE contract);
    * DROPPED by overwrite/restore/clone, which replace the data the
    * stats describe; re-keyed by RENAME COLUMN; trimmed by DROP
    * COLUMN. */
  private[graft] val ColStatsKey = "graft.colstats"

  /** Equi-height histogram (Spark's ANALYZE … FOR COLUMNS shape):
    * `height` rows per bin, each bin `(lo, hi, ndv)` in the double
    * scale CBO compares in (dates epoch days, timestamps micros). */
  private[graft] case class Histo(height: Double,
      bins: Seq[(Double, Double, Long)])

  private[graft] case class ColStat(
      ndv: Long, nulls: Long, rows: Long,
      min: Option[String], max: Option[String],
      avgLen: Option[Long], maxLen: Option[Long], ver: Long,
      hist: Option[Histo] = None)

  private def renderColStats(m: Map[String, ColStat]): String =
    mapper.writeValueAsString(m.view.mapValues { s =>
      (Map[String, Any]("ndv" -> s.ndv, "nulls" -> s.nulls,
        "rows" -> s.rows, "ver" -> s.ver) ++
        s.min.map("min" -> _) ++ s.max.map("max" -> _) ++
        s.avgLen.map("avgLen" -> java.lang.Long.valueOf(_)) ++
        s.maxLen.map("maxLen" -> java.lang.Long.valueOf(_)) ++
        s.hist.map(h => "hist" -> Map[String, Any](
          "h" -> h.height,
          "bins" -> h.bins.map { case (lo, hi, n) =>
            Seq[Any](lo, hi, n).asJava }.asJava).asJava)).asJava
    }.toMap.asJava)

  private[graft] def parseColStats(json: String): Map[String, ColStat] = {
    val node = mapper.readTree(json)
    node.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ColStat(
        v.get("ndv").asLong(), v.get("nulls").asLong(),
        v.get("rows").asLong(),
        Option(v.get("min")).map(_.asText()),
        Option(v.get("max")).map(_.asText()),
        Option(v.get("avgLen")).map(_.asLong()),
        Option(v.get("maxLen")).map(_.asLong()),
        v.get("ver").asLong(),
        Option(v.get("hist")).map { h =>
          Histo(h.get("h").asDouble(),
            h.get("bins").elements().asScala.map { b =>
              val it = b.elements().asScala.toSeq
              (it(0).asDouble(), it(1).asDouble(), it(2).asLong())
            }.toSeq)
        })
    }.toMap
  }

  /** The ANALYZE-computed column statistics carried at `version`
    * (empty if the table was never analyzed, or a data-replacing verb
    * dropped them). */
  private[graft] def colStatsOf(root: String,
      version: Long): Map[String, ColStat] =
    readManifest(root, version).props.get(ColStatsKey)
      .map(parseColStats).getOrElse(Map.empty)

  /** ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS: ONE aggregate
    * pass over the snapshot computes per-column NDV (HLL++), null
    * count, min/max (long/double-scale, stats-supported types only),
    * and string lengths, then publishes them as a METADATA-ONLY commit
    * (files carried by reference). The DSv2 scan reports them through
    * `Statistics.columnStats`, so Catalyst's cost-based optimizer —
    * join reordering, filter selectivity, broadcast decisions beyond
    * raw size — plans 100 TB joins from commit-time truth instead of
    * rough size heuristics (the ANALYZE economics every warehouse
    * ships; Delta/Iceberg keep these in the snapshot the same way). */
  def analyze(spark: SparkSession, root: String,
      cols: Seq[String] = Nil): Long = withOccRetry(None) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val schema = tableSchema(spark, root, Some(latest))
    def statable(dt: DataType): Boolean = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DateType |
           _: TimestampType | _: StringType | _: BooleanType |
           _: DecimalType => true
      case _ => false
    }
    val fields =
      if (cols.isEmpty) schema.fields.toSeq.filter(f => statable(f.dataType))
      else cols.map { n =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE column '$n' does not exist on $root " +
              s"(have: ${schema.fieldNames.mkString(", ")})"))
        require(statable(f.dataType),
          s"ANALYZE column '$n' has unsupported type ${f.dataType.sql}")
        f
      }
    require(fields.nonEmpty, "ANALYZE needs at least one supported column")
    val df = readVersion(spark, root, latest)
    def rangeable(dt: DataType): Boolean = dt match {
      case _: StringType | _: BooleanType => false
      case _ => true
    }
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("__rows")) ++ fields.flatMap { f =>
        val c = col(f.name)
        Seq(approx_count_distinct(c).as(s"__ndv_${f.name}"),
          count(c).as(s"__nn_${f.name}")) ++
          (if (rangeable(f.dataType))
            Seq(min(c).as(s"__min_${f.name}"),
              max(c).as(s"__max_${f.name}"))
          else Nil) ++
          (f.dataType match {
            case _: StringType =>
              Seq(avg(length(c)).as(s"__al_${f.name}"),
                max(length(c)).as(s"__ml_${f.name}"))
            case _ => Nil
          })
      }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    def g(n: String): Any = row.get(row.fieldIndex(n))
    val rows = g("__rows").asInstanceOf[Long]
    // min/max normalize to the manifest stats scale (dates epoch days,
    // timestamps micros) so the scan can decode them like file stats
    def scale(v: Any): Option[String] = Option(v).map {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case t: java.sql.Timestamp =>
        (t.getTime * 1000L + t.getNanos / 1000 % 1000).toString
      case i: java.time.Instant =>
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case b: java.math.BigDecimal => b.toPlainString
      case other => other.toString
    }
    val fresh = fields.map { f =>
      lc(f.name) -> ColStat(
        ndv = g(s"__ndv_${f.name}").asInstanceOf[Long],
        nulls = rows - g(s"__nn_${f.name}").asInstanceOf[Long],
        rows = rows,
        min = if (rangeable(f.dataType)) scale(g(s"__min_${f.name}"))
              else None,
        max = if (rangeable(f.dataType)) scale(g(s"__max_${f.name}"))
              else None,
        avgLen = f.dataType match {
          case _: StringType => Option(g(s"__al_${f.name}"))
            .map(v => math.ceil(v.asInstanceOf[Double]).toLong)
          case _ => None
        },
        maxLen = f.dataType match {
          case _: StringType => Option(g(s"__ml_${f.name}"))
            .map(_.asInstanceOf[Int].toLong)
          case _ => None
        },
        ver = latest)
    }.toMap
    // EQUI-HEIGHT HISTOGRAMS (opt-in, Spark's ANALYZE histogram shape):
    // `spark.graft.analyze.histogramBins` = N > 1 adds two bounded
    // passes — percentile boundaries, then per-bin NDV — for every
    // range-typed analyzed column. CBO's range-filter selectivity then
    // sees the DISTRIBUTION, not just [min, max]: on skewed data the
    // uniformity assumption is exactly what misplans joins.
    val histBins = spark.conf.getOption("spark.graft.analyze.histogramBins")
      .map(_.toInt).getOrElse(0)
    val histFields =
      if (histBins > 1) fields.filter(f => rangeable(f.dataType)) else Nil
    val hists: Map[String, Histo] =
      if (histFields.isEmpty) Map.empty
      else {
        def dbl(f: org.apache.spark.sql.types.StructField)
            : org.apache.spark.sql.Column = f.dataType match {
          case _: DateType => org.apache.spark.sql.functions.expr(
            s"CAST(datediff(`${f.name}`, DATE '1970-01-01') AS DOUBLE)")
          case _: TimestampType => org.apache.spark.sql.functions.expr(
            s"CAST(unix_micros(`${f.name}`) AS DOUBLE)")
          case _ => col(f.name).cast("double")
        }
        val pcts = lit((0 to histBins).map(_.toDouble / histBins).toArray)
        val pctAggs = histFields.map(f =>
          percentile_approx(dbl(f), pcts, lit(10000)).as(s"__pct_${f.name}"))
        val prow = df.agg(pctAggs.head, pctAggs.tail: _*).collect().head
        val bounds: Map[String, Seq[Double]] = histFields.flatMap { f =>
          Option(prow.get(prow.fieldIndex(s"__pct_${f.name}")))
            .map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq
              .map(_.asInstanceOf[Double]))
            .filter(bs => bs.size == histBins + 1)
            .map(f.name -> _)
        }.toMap
        if (bounds.isEmpty) Map.empty
        else {
          val binAggs = bounds.toSeq.flatMap { case (n, bs) =>
            val f = histFields.find(_.name == n).get
            (0 until histBins).map { i =>
              val lo = bs(i); val hi = bs(i + 1)
              val in =
                if (i == 0) dbl(f) >= lit(lo) && dbl(f) <= lit(hi)
                else dbl(f) > lit(lo) && dbl(f) <= lit(hi)
              approx_count_distinct(when(in, dbl(f))).as(s"__bin_${n}_$i")
            }
          }
          val brow = df.agg(binAggs.head, binAggs.tail: _*).collect().head
          bounds.map { case (n, bs) =>
            val nn = g(s"__nn_$n").asInstanceOf[Long] // non-null rows
            lc(n) -> Histo(
              height = nn.toDouble / histBins,
              bins = (0 until histBins).map { i =>
                (bs(i), bs(i + 1),
                  brow.getLong(brow.fieldIndex(s"__bin_${n}_$i")))
              })
          }
        }
      }
    val freshH =
      if (hists.isEmpty) fresh
      else fresh.map { case (n, st) => n -> st.copy(hist = hists.get(n)) }
    // merge over any previously analyzed columns (re-ANALYZE of a
    // subset refreshes just that subset)
    val merged = colStatsOf(root, latest) ++ freshH
    publishEntries(root, m.files, latest, "analyze",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      props = Map(ColStatsKey -> renderColStats(merged)))
  }

  // ---- sharded ledger internals: the cumulative identity set lives
  // as GENERATIONAL APPEND-ONLY shard files plus one index file
  // carrying a Bloom summary per shard. Each copy writes O(fresh)
  // bytes (its own shard + a new index referencing prior shards
  // unchanged); the probe tests candidate identities against the
  // blooms and loads ONLY hit shards — the common incremental copy
  // (few new files against millions ingested) reads no shard at all,
  // and a full re-listing reads only the shards its files live in.
  // Past [[copyShardCompactAt]] generations, one copy folds the
  // shards into a single file (the rare O(total) event, amortized).
  private val CopyIndexMagic = "#graft-copy-index v1"
  private val copyShardCompactAt = 64
  private val copyBloomBitsPerEntry = 10
  private val copyBloomHashes = 5

  private def copyBloomPositions(id: String, bits: Int): Seq[Int] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(id, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(id, 0x85ebca6b)
    (0 until copyBloomHashes).map(i => math.floorMod(h1 + i * h2, bits))
  }

  private def copyBloomOf(ids: Iterable[String]): Array[Long] = {
    val bits = math.max(64, Integer.highestOneBit(
      math.max(1, ids.size) * copyBloomBitsPerEntry) * 2)
    val words = new Array[Long](bits / 64)
    ids.foreach(id => copyBloomPositions(id, bits).foreach(p =>
      words(p >> 6) |= (1L << (p & 63))))
    words
  }

  private case class CopyShard(rel: String, words: Array[Long]) {
    def mightContain(id: String): Boolean = {
      val bits = words.length * 64
      copyBloomPositions(id, bits).forall(p =>
        (words(p >> 6) & (1L << (p & 63))) != 0L)
    }
  }

  private def renderCopyIndex(shards: Seq[CopyShard]): String =
    (CopyIndexMagic +: shards.map(s =>
      s"${s.rel}\t${s.words.map(java.lang.Long.toHexString).mkString(",")}"))
      .mkString("\n")

  private def parseCopyIndex(lines: Seq[String]): Seq[CopyShard] =
    lines.tail.filter(_.nonEmpty).map { l =>
      val Array(rel, hex) = l.split('\t')
      CopyShard(rel, hex.split(',')
        .map(java.lang.Long.parseUnsignedLong(_, 16)))
    }

  /** Test hook: fires with the shard path whenever a probe has to
    * LOAD a shard (a Bloom hit) — specs pin that incremental copies
    * never materialize the cumulative set on the driver. */
  @volatile private[graft] var copyShardLoadHook: String => Unit = _ => ()

  /** Test visibility: the head ledger's shards as
    * (relPath, bloomMightContain) — lets specs reason about which
    * shards a candidate identity CAN touch. */
  private[graft] def copyLedgerProbe(
      root: String): Seq[(String, String => Boolean)] =
    latestVersion(root).map(readManifest(root, _).props)
      .flatMap(_.get(CopyLedgerKey)).map { ref =>
        val lines = Files.readAllLines(resolve(root, ref).toPath)
          .asScala.toSeq
        val shards =
          if (lines.headOption.contains(CopyIndexMagic))
            parseCopyIndex(lines)
          else Seq(CopyShard(ref, copyBloomOf(lines)))
        shards.map(s => (s.rel, (id: String) => s.mightContain(id)))
      }.getOrElse(Nil)

  /** Test helper: publish a synthetic ledger generation of `ids` (one
    * shard + index referenced from a metadata-only commit) — the exact
    * layout a real ingest of that many files would leave, without
    * creating the files. */
  private[graft] def plantCopyLedger(spark: SparkSession, root: String,
      ids: Seq[String]): Unit = {
    val copyDir = new File(logDir(root), "copy")
    copyDir.mkdirs()
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val shardName = s"shard-$tag-planted.txt"
    Files.write(new File(copyDir, shardName).toPath,
      ids.mkString("\n").getBytes("UTF-8"))
    val prior = copyLedgerProbe(root).map(_._1).map { rel =>
      val lines = Files.readAllLines(resolve(root, rel).toPath)
        .asScala.toSeq
      CopyShard(rel, copyBloomOf(lines))
    }
    val shards = prior :+
      CopyShard(s"_graft_log/copy/$shardName", copyBloomOf(ids))
    val indexName = s"ledger-$tag-planted.txt"
    Files.write(new File(copyDir, indexName).toPath,
      renderCopyIndex(shards).getBytes("UTF-8"))
    commit(spark, root, read(spark, root).limit(0),
      props = Map(CopyLedgerKey -> s"_graft_log/copy/$indexName"))
    ()
  }

  /** Recursive source listing, `_`/`.`-prefixed names skipped (the
    * Spark convention). An unreadable or vanished directory FAILS the
    * copy loudly — `listFiles()` returning null would otherwise
    * under-list the source and report a "successful" copy that skipped
    * files (the same hazard for a distributed walk whose executor
    * doesn't share the driver's filesystem). Static so the distributed
    * listing can ship it to executors. */
  private def walkSource(d: File): Seq[File] = {
    val entries = d.listFiles()
    if (entries == null) throw new IllegalStateException(
      s"COPY INTO source listing failed at $d — directory unreadable, " +
        "vanished mid-walk, or not visible from this host (executors " +
        "must share the driver's filesystem); refusing to silently " +
        "skip its files")
    entries.toSeq.sortBy(_.getName).flatMap {
      case f if f.getName.startsWith("_") ||
          f.getName.startsWith(".") => Nil
      case f if f.isDirectory => walkSource(f)
      case f => Seq(f)
    }
  }

  /** Idempotent batch file ingestion (the `COPY INTO` verb — the
    * batch analog of the reference's Kafka-offset bronze ingest,
    * `pipelines/02-kafka-spark-iceberg/spark/jobs/bronze_ingest.py:
    * 121-183`, where exactly-once comes from offsets + checkpoints;
    * a batch loader needs the file-identity equivalent). Lists data
    * files under `sourceDir` (recursively, skipping `_`/`.`-prefixed
    * names, the Spark convention), ingests only files whose identity
    * `(absolute path, length, mtime)` no prior copy recorded, and
    * appends them as ONE commit.
    *
    * The ingestion ledger (the cumulative identity set) is written as
    * a sidecar under `_graft_log/copy/` and referenced from the
    * commit's props — ledger and data publish in the SAME atomic
    * manifest CAS, so every crash window is safe: a crash between
    * ledger write and publish leaves an unreferenced ledger + staged
    * data files (tiny debris a retry never reads and [[vacuum]]'s
    * sweep ages out); there is NO window where files count as
    * ingested with their rows unpublished, or vice versa.
    *
    * A re-run over an unchanged directory is a NO-OP returning the
    * current version (no new manifest). A file APPENDED to the
    * directory between runs ingests alone; a file REWRITTEN in place
    * (new length/mtime) counts as new — the Delta COPY INTO contract.
    * `force = true` ignores the ledger and re-ingests everything
    * (Delta's COPY_OPTIONS force). Concurrent copies over one
    * directory serialize on the version pin — exactly one ingests.
    *
    * The ledger reference INHERITS commit-to-commit like constraints
    * (see [[publishEntries]]), so ingestion memory survives unrelated
    * commits, vacuum retention, overwrite and restore — the Delta
    * contract (restore rolls back DATA, never COPY INTO history; use
    * `force` to re-ingest deliberately). Vacuum sweeps ledger files
    * no retained manifest references.
    *
    * Scale shape: the ledger probe is ONE head-manifest read + one
    * sidecar read; the ingest reads ONLY the fresh files (never the
    * table); ledger size is O(total ingested files) — line-per-file
    * text, ~100 bytes/file.
    *
    * @return the version containing the result
    */
  def copyInto(spark: SparkSession, root: String, sourceDir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      mergeSchema: Boolean = false,
      force: Boolean = false): Long = {
    // Identity caveat (the Delta contract, documented): (path, length,
    // mtime) misses an in-place rewrite that preserves length within
    // the filesystem's mtime granularity (1 s on many) — ingest
    // pipelines should write new file names, or pass force.
    val srcDir = new File(sourceDir)
    require(srcDir.isDirectory,
      s"COPY INTO source is not a directory: $sourceDir")
    // the listing is O(source files) and must return to the driver (it
    // IS the candidate set); a WIDE landing zone (many top-level
    // subdirectories) walks them on executors instead of one driver
    // thread — identities are (path, len, mtime) triples either way
    val topListed = srcDir.listFiles()
    if (topListed == null) throw new IllegalStateException(
      s"COPY INTO source listing failed at $srcDir — directory " +
        "unreadable or vanished; refusing to silently skip its files")
    val top = topListed.toSeq.sortBy(_.getName)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    val (topDirs, topFiles) = top.partition(_.isDirectory)
    val listed: Seq[(String, Long, Long)] =
      (if (topDirs.size >= 32) {
        val paths = topDirs.map(_.getPath)
        topFiles.map(f => (f.getAbsolutePath, f.length(), f.lastModified())) ++
          spark.sparkContext
            .parallelize(paths, math.min(paths.size, 64))
            .flatMap(p => walkSource(new File(p)).map(f =>
              (f.getAbsolutePath, f.length(), f.lastModified())))
            .collect().toSeq
      } else walkSource(srcDir).map(f =>
        (f.getAbsolutePath, f.length(), f.lastModified()))).sorted
    def ident(t: (String, Long, Long)) = s"${t._1}|${t._2}|${t._3}"
    // OCC loop: the ledger read and the commit pin the SAME version,
    // so two concurrent copies over one directory serialize — the
    // loser re-reads the winner's ledger and finds nothing fresh
    // (without the pin, both would observe the empty ledger and
    // double-ingest every file)
    var attempt = 0
    while (true) {
      val headV = latestVersion(root)
      val ledgerRef: Option[String] =
        if (force) None
        else headV.map(readManifest(root, _).props)
          .flatMap(_.get(CopyLedgerKey))
      // prior shards (bloom summaries only — nothing loaded yet) and a
      // lazy probe: a shard's identity lines load ONLY on a bloom hit,
      // once, for this copy. A legacy single-file ledger is itself a
      // valid shard; its bloom is computed from the one full read its
      // probe needs anyway, and the index written below references the
      // file unchanged — upgrade without rewrite.
      val priorShards: Seq[CopyShard] = ledgerRef.map { ref =>
        val lf = resolve(root, ref)
        require(lf.isFile, s"COPY INTO ledger missing: ${lf.getPath}")
        val lines = Files.readAllLines(lf.toPath).asScala.toSeq
        if (lines.headOption.contains(CopyIndexMagic)) parseCopyIndex(lines)
        else Seq(CopyShard(ref, copyBloomOf(lines)))
      }.getOrElse(Nil)
      val loaded = scala.collection.mutable.HashMap.empty[String, Set[String]]
      def shardIds(s: CopyShard): Set[String] =
        loaded.getOrElseUpdate(s.rel, {
          copyShardLoadHook(s.rel)
          Files.readAllLines(resolve(root, s.rel).toPath)
            .asScala.filterNot(_.isEmpty).toSet
        })
      def recorded(id: String): Boolean =
        priorShards.exists(s => s.mightContain(id) && shardIds(s)(id))
      val fresh = listed.filterNot(t => recorded(ident(t)))
      if (fresh.isEmpty)
        return headV.getOrElse(
          throw new IllegalArgumentException("COPY INTO from an empty " +
            s"source into a non-existent table: $sourceDir -> $root"))
      val df = spark.read.format(format).options(options)
        .load(fresh.map(_._1): _*)
      // new generation: a fresh-identities shard + a new index carrying
      // prior shards BY REFERENCE (O(fresh) write); past the
      // compaction threshold, fold everything into one shard instead
      // (the rare amortized O(total) event). Files go live only once
      // the commit below publishes the index reference.
      val copyDir = new File(logDir(root), "copy")
      copyDir.mkdirs()
      val tag = java.util.UUID.randomUUID().toString.take(12)
      val freshIds = fresh.map(ident)
      val shards: Seq[CopyShard] =
        if (priorShards.size + 1 > copyShardCompactAt) {
          val all = (priorShards.flatMap(shardIds) ++ freshIds).sorted
          val name = s"shard-$tag-compact.txt"
          Files.write(new File(copyDir, name).toPath,
            all.mkString("\n").getBytes("UTF-8"))
          Seq(CopyShard(s"_graft_log/copy/$name", copyBloomOf(all)))
        } else {
          val name = s"shard-$tag.txt"
          Files.write(new File(copyDir, name).toPath,
            freshIds.mkString("\n").getBytes("UTF-8"))
          priorShards :+
            CopyShard(s"_graft_log/copy/$name", copyBloomOf(freshIds))
        }
      val indexName = s"ledger-$tag.txt"
      Files.write(new File(copyDir, indexName).toPath,
        renderCopyIndex(shards).getBytes("UTF-8"))
      copyIntoCrashHook()
      try {
        return commit(spark, root, df, mode = "append",
          statsCols = statsCols, mergeSchema = mergeSchema,
          expectedVersion = Some(headV.getOrElse(0L)),
          props = Map(CopyLedgerKey -> s"_graft_log/copy/$indexName"))
      } catch {
        case e: VersionConflictException =>
          if (attempt >= occMaxRetries) throw e
          attempt += 1 // stale ledger + stale pin: re-read and retry
      }
    }
    sys.error("unreachable")
  }

  /** Test hook: fires between the ledger sidecar write and the data
    * commit — the COPY INTO crash window. */
  @volatile private[graft] var copyIntoCrashHook: () => Unit = () => ()

  /** Schema enforcement + evolution (Delta's contract): the incoming
    * frame may always OMIT existing columns (they read back as null —
    * parquet is columnar, absence is free); it may ADD columns or leave
    * the schema unchanged only per the rules below. Returns the table
    * schema the new manifest records.
    *
    *  - same column set + types → unchanged.
    *  - new columns, `mergeSchema = false` → REJECTED (enforcement:
    *    accidental producer drift must not silently widen the table).
    *  - new columns, `mergeSchema = true` → table schema gains them
    *    (appended in the incoming frame's order).
    *  - a type change for an existing column → always rejected; columnar
    *    files with two types for one name cannot be read together
    *    (rewrite the table via overwrite to re-type).
    *  - `mode = "overwrite"` replaces rows AND schema: the incoming
    *    schema simply becomes the table schema.
    */
  private def evolvedSchema(root: String, df: DataFrame, mode: String,
      mergeSchema: Boolean): String =
    evolvedSchemaOf(root, df.schema, mode, mergeSchema)

  private def evolvedSchemaOf(root: String,
      incoming: org.apache.spark.sql.types.StructType, mode: String,
      mergeSchema: Boolean): String = {
    import org.apache.spark.sql.types.StructType
    if (mode == "overwrite") return incoming.json
    val currentJson = latestVersion(root)
      .flatMap(v => readManifest(root, v).schemaJson)
    currentJson match {
      case None => incoming.json
      case Some(json) =>
        val current = DataType.fromJson(json).asInstanceOf[StructType]
        val curByName = current.fields.map(f => f.name -> f).toMap
        val mismatched = incoming.fields.filter(f =>
          curByName.get(f.name).exists(_.dataType != f.dataType))
        if (mismatched.nonEmpty) throw new IllegalArgumentException(
          s"incompatible type change for column(s) " +
            mismatched.map(f => s"${f.name}: ${curByName(f.name).dataType
              .simpleString} -> ${f.dataType.simpleString}").mkString(", ") +
            s" at $root — retype requires an overwrite")
        val added = incoming.fields.filterNot(f => curByName.contains(f.name))
        if (added.isEmpty) json
        else if (!mergeSchema) throw new IllegalArgumentException(
          s"schema enforcement: incoming columns ${added.map(_.name)
            .mkString(", ")} are not in the table at $root — pass " +
            "mergeSchema=true to evolve the schema")
        else {
          // a mergeSchema append is an ADD COLUMNS in disguise — it
          // must pass the same stale-resurrection gates
          latestVersion(root).foreach(v =>
            requireAddable(root, readManifest(root, v), added.map(_.name)))
          StructType(current.fields ++
            added.map(_.copy(nullable = true))).json
        }
    }
  }

  /** Write a change-file dataset (table schema + `_change_type`) under
    * `cdf/<uuid>/` and return the relative parquet paths for the
    * manifest. Change files are NOT data files: no stats, never part of
    * a snapshot, vacuumed with their version. */
  private def writeCdf(spark: SparkSession, root: String,
      df: DataFrame): Seq[String] = {
    val dir = new File(new File(root, "cdf"),
      java.util.UUID.randomUUID().toString)
    df.write.parquet(dir.getPath)
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => rootPath.relativize(f.toPath.toAbsolutePath.normalize())
        .toString).toSeq
  }

  /** Write `df` as one immutable batch dir and return its manifest
    * entries (plus the schema JSON every manifest records so an empty
    * snapshot stays readable). Shared by every committing verb.
    *
    * With `partitionBy` set, the batch is written hive-layout (one
    * dynamic-partition job, `data/<uuid>/__p_day=.../part-*.parquet`)
    * via SHADOW columns, so the real partition columns stay IN the
    * data files — readers read explicit file lists and never
    * reconstruct values from directory names. Each file then provably
    * holds ONE partition tuple, recorded as min==max footer stats:
    * partition pruning needs no machinery beyond stats pruning, and
    * [[overwritePartitions]] can swap file sets by tuple. Partition
    * values must be non-null and of a stats-supported type (integral,
    * floating, string, date, timestamp) — enforced here so the
    * invariant holds for every later reader. */
  private def writeBatch(spark: SparkSession, root: String, df0: DataFrame,
      statsCols: Seq[String],
      partitionBy: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3,
      // column-mapping override: None = the latest manifest's mapping
      // (every incremental verb), Some(Map.empty) = write under
      // logical names (compact/overwrite canonicalization)
      physOverride: Option[Map[String, String]] = None,
      // staged CTAS/RTAS: Some(None) writes against NO manifest — no
      // inherited constraints (a replace defines a NEW table; the old
      // one's CHECKs die with it) and no inherited transform
      // derivation (the caller derives the DECLARED spec itself)
      latestOverride: Option[Option[Manifest]] = None)
      : (Seq[FileEntry], String) = {
    import org.apache.spark.sql.functions.{col => c}
    val latestM = latestOverride.getOrElse(
      latestVersion(root).map(readManifest(root, _)))
    // CHECK constraints ride the write job itself (no second pass):
    // each row is filtered through assert_true(coalesce(cond, true)) —
    // SQL CHECK semantics, NULL passes — so one violating row aborts
    // the write before anything publishes. Rewrite paths (delete
    // survivors, compaction) re-check committed rows, which is
    // consistent because addConstraint validated them at add time.
    val df = latestM.map(_.constraints)
      .getOrElse(Map.empty).foldLeft(df0) { case (d, (name, cond)) =>
        import org.apache.spark.sql.functions.{assert_true, coalesce, expr,
          isnull, lit}
        // SQL CHECK semantics: a row that OMITS a referenced column
        // inserts NULL there, and NULL passes CHECK — pad the missing
        // columns with null literals for the evaluation only (they are
        // dropped again, so the written file still omits them)
        val have = d.columns.map(lc).toSet
        val missing = spark.sessionState.sqlParser.parseExpression(cond)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last
          }.distinct.filterNot(r => have(lc(r)))
        val padded = missing.foldLeft(d)((dd, mc) =>
          dd.withColumn(mc, lit(null)))
        val checked = padded.filter(isnull(assert_true(
          coalesce(expr(cond), lit(true)),
          lit(s"CHECK constraint '$name' violated: $cond"))))
        missing.foldLeft(checked)((dd, mc) => dd.drop(mc))
      }
    // HIDDEN partition transforms: derive each materialized column
    // from its source (recomputing is deterministic, so a frame that
    // already carries one — a rewrite of physical files — converges to
    // the same value). The derived column is written INTO the file, so
    // its min==max footer stats make every partition mechanism (tuple
    // invariant, pruning, dynamic overwrite, SPJ) work unchanged. The
    // table schema never sees it: schemaJson is captured from the
    // caller's frame.
    val dfT = latestM.map(_.transforms).getOrElse(Nil)
      .filter(t => partitionBy.contains(t.hidden))
      .foldLeft(df)((d, t) =>
        d.drop(t.hidden).withColumn(t.hidden,
          org.apache.spark.sql.functions.expr(t.sql(
            t.srcTypeIn(d.schema)))))
    // COLUMN MAPPING write edge: alias logical → physical just before
    // the parquet write (constraints above evaluated on the logical
    // frame). Everything below — the write, footer stats, blooms —
    // sees physical names; the manifest schema stays LOGICAL.
    val phys = physOverride.getOrElse(
      latestM.map(_.physNames).getOrElse(Map.empty))
    def p(n: String): String = phys.getOrElse(n, n)
    val physDf =
      if (phys.isEmpty) dfT
      else dfT.select(dfT.columns.toSeq.map(n => c(n).as(p(n))): _*)
    val physPart = partitionBy.map(p)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new File(new File(root, "data"), batch)
    val parquetFiles: Seq[File] =
      if (physPart.isEmpty) {
        physDf.write.parquet(batchDir.getPath)
        batchDir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      } else {
        val shadow = physPart.map(pc => s"__p_$pc")
        val w = physPart.zip(shadow)
          .foldLeft(physDf)((d, pp) => d.withColumn(pp._2, c(pp._1)))
        w.write.partitionBy(shadow: _*).parquet(batchDir.getPath)
        val found = walkParquet(batchDir)
        found.filter(_.getPath.contains("__HIVE_DEFAULT_PARTITION__"))
          .foreach { f =>
            throw new IllegalArgumentException(
              s"null value in partition column(s) ${partitionBy.mkString(",")}" +
                " — partitioned tables require non-null partition values")
          }
        found
      }
    // stats and blooms are keyed PHYSICAL: immutable across renames,
    // so entries recorded before a rename keep pruning after it
    val entries = parquetFiles.sortBy(_.getPath)
      .map(f => fileEntry(spark, root, f,
        (statsCols.map(p) ++ physPart).distinct))
    entries.foreach { e =>
      physPart.foreach { pc =>
        require(e.stats.get(pc).exists(s => s._2 == s._3),
          s"partition column $pc has no single-valued footer stats in " +
            s"${e.path} — partition columns must be non-null and of a " +
            "stats-supported type (integral, floating, string, date, " +
            "timestamp)")
      }
    }
    val withBlooms =
      if (bloomCols.isEmpty) entries
      else {
        val blooms = batchBlooms(spark, parquetFiles, bloomCols.map(p),
          bloomBits, bloomHashes)
        entries.map { e =>
          val abs = resolve(root, e.path).getCanonicalPath
          blooms.get(abs).map(b => e.copy(blooms = b)).getOrElse(e)
        }
      }
    (withBlooms, df.schema.json)
  }

  /** Per-file Bloom filters for a freshly written batch, in ONE extra
    * Spark pass: group rows by `input_file_name` and fold each bloom
    * column through the deterministic [[graft.functions.expressions.BloomFilter]]
    * aggregate over `CAST(col AS STRING)`. The pass reads only the
    * bloom columns (column-pruned scan of the batch just written) —
    * the same one-extra-pass economics as a lake engine's stats/index
    * collection. Returns canonical-absolute-path → col → bloom. */
  private def batchBlooms(spark: SparkSession, files: Seq[File],
      bloomCols: Seq[String], bits: Int,
      hashes: Int): Map[String, Map[String, BloomStat]] = {
    import org.apache.spark.sql.functions.{col => c, input_file_name}
    import graft.functions.expressions.BloomFilter.bloom_build
    val aggs = bloomCols.map(bc =>
      bloom_build(c(bc).cast("string"), bits, hashes).as(s"__bloom_$bc"))
    spark.read.parquet(files.map(_.getPath): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { row =>
        val abs = new File(new java.net.URI(row.getString(0)).getPath)
          .getCanonicalPath
        abs -> bloomCols.zipWithIndex.map { case (bc, i) =>
          bc -> BloomStat(bits, hashes,
            row.getSeq[Long](i + 1).toIndexedSeq)
        }.toMap
      }.toMap
  }

  private def walkParquet(dir: File): Seq[File] = {
    val out = Seq.newBuilder[File]
    def go(f: File): Unit =
      if (f.isDirectory) f.listFiles().foreach(go)
      else if (f.getName.endsWith(".parquet")) out += f
    go(dir)
    out.result()
  }

  /** The single partition tuple a file provably holds: for each
    * partition column, its min==max stats value (typed tag included so
    * `1` as long never collides with `"1"` as string). None when any
    * column's stats are absent or span a range — such a file may mix
    * partitions and must be handled conservatively. */
  private def partitionTuple(e: FileEntry,
      cols: Seq[String]): Option[Seq[(String, String)]] = {
    val vs = cols.flatMap(pc => e.stats.get(pc) match {
      case Some((tpe, mn, mx)) if mn == mx => Some((tpe, mn))
      case _ => None
    })
    if (vs.size == cols.size) Some(vs) else None
  }

  /** The streaming exactly-once commit (Delta's `txnAppId`/`txnVersion`
    * dedup): commit `df` tagged (appId, batchId) unless a retained
    * manifest already carries a batchId ≥ this one for `appId` — a
    * foreachBatch replay after checkpoint recovery then becomes a no-op
    * instead of a duplicate append. Returns true if the batch was
    * committed, false if it was a recognized replay.
    *
    * The guard is evaluated INSIDE the CAS loop: the publish pins the
    * snapshot the guard was checked against, so two zombie writers
    * racing the same (appId, batchId) serialize on the hard link and
    * the loser RE-CHECKS the guard against the winner's manifest —
    * exactly one copy of the batch can ever land (a plain
    * check-then-commit would let both pass the check and double-append).
    *
    * Caveat (documented, same shape as Delta's txn retention): the
    * guard scans RETAINED manifests, so vacuum must keep at least the
    * versions spanning the stream's possible replay window. */
  def commitIfNew(spark: SparkSession, root: String, df: DataFrame,
      appId: String, batchId: Long, statsCols: Seq[String] = Nil,
      mode: String = "append", mergeSchema: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3): Boolean = {
    require(mode == "append" || mode == "overwrite",
      s"unknown commit mode: $mode")
    var written: Option[(Seq[String], Map[String, String],
      Map[String, String], Seq[FileEntry])] = None
    while (true) {
      if (lastCommittedBatch(root, appId).exists(_ >= batchId)) return false
      val parent = latestVersion(root)
      // schema rules re-check against the CURRENT snapshot each retry
      val schema = evolvedSchema(root, df, mode, mergeSchema)
      // appends inherit the table's partition layout (streaming sinks
      // into a partitioned table keep the per-file-tuple invariant);
      // the batch data is written at most once per (layout, constraint
      // set, column mapping) — a concurrent ADD CONSTRAINT or RENAME
      // invalidates the staged batch, same as in commit()
      val parentM = parent.map(readManifest(root, _))
      val partCols =
        if (mode == "overwrite") Seq.empty[String]
        else parentM.map(_.partitionBy).getOrElse(Nil)
      val constraints = parentM.map(_.constraints)
        .getOrElse(Map.empty[String, String])
      val phys =
        if (mode == "overwrite") Map.empty[String, String]
        else parentM.map(_.physNames)
          .getOrElse(Map.empty[String, String])
      val entries = written.collect {
          case (p, cs, ph, e)
            if p == partCols && cs == constraints && ph == phys => e
        }
        .getOrElse {
          val (e, _) = writeBatch(spark, root, df, statsCols, partCols,
            bloomCols, bloomBits, bloomHashes, physOverride = Some(phys))
          written = Some((partCols, constraints, phys, e)); e
        }
      val base =
        if (mode == "append") currentFiles(root, parent) else Seq.empty
      try {
        publishEntries(root, base ++ entries, parent.getOrElse(0L), mode,
          Some((appId, batchId)), schema,
          partitionBy = Some(partCols), dvs = carriedDvs(root, parent, mode),
          dropped = if (mode == "overwrite") Some(Map.empty) else None,
          physNames = if (mode == "overwrite") Some(Map.empty) else None)
        return true
      } catch {
        case _: VersionConflictException => // table moved: re-check guard
      }
    }
    false // unreachable
  }

  // -------------------------------------- executor-staged publishes
  //
  // The DSv2 write path (graft.sources.GraftWriteCore): EXECUTOR tasks
  // write the parquet files and compute their manifest entries; the
  // driver publishes METADATA ONLY — the Iceberg/Delta streaming-write
  // architecture, where commit cost is O(files written), never a
  // second pass over the data. The staged batch was written under the
  // table properties read at PLAN time (`planned`); a concurrent
  // commit that changed layout, constraints, or column mapping
  // invalidates the staged files (they were written under the OLD
  // rules), so the publish fails loudly — Delta's concurrent-
  // metadata-change abort; a stream restart (or statement retry)
  // re-plans against the winner's snapshot.

  /** Plan-time table properties an executor-staged write depends on. */
  private[graft] case class PlannedTableMeta(
      partitionBy: Seq[String],
      constraints: Map[String, String],
      physNames: Map[String, String],
      transforms: Seq[PartTransform] = Nil)

  private[graft] def plannedMeta(root: String): PlannedTableMeta =
    latestVersion(root).map(readManifest(root, _)) match {
      case Some(m) => PlannedTableMeta(m.partitionBy, m.constraints,
        m.physNames, m.transforms)
      case None => PlannedTableMeta(Nil, Map.empty, Map.empty)
    }

  private def checkPlanned(root: String, parentM: Option[Manifest],
      planned: PlannedTableMeta): Unit = {
    val now = PlannedTableMeta(
      parentM.map(_.partitionBy).getOrElse(Nil),
      parentM.map(_.constraints).getOrElse(Map.empty),
      parentM.map(_.physNames).getOrElse(Map.empty),
      parentM.map(_.transforms).getOrElse(Nil))
    if (now != planned) throw new VersionConflictException(
      s"table at $root changed layout/constraints/column-mapping since " +
        "this write was planned — the staged files were written under " +
        "the old rules and cannot publish; re-run the write (a stream " +
        "restart re-plans automatically)")
  }

  /** Staged files in a partitioned table must each provably hold ONE
    * partition tuple (the writeBatch invariant, enforced for the
    * executor path too so every later reader can prune by tuple). */
  private def requireSingleTuple(entries: Seq[FileEntry],
      physPart: Seq[String]): Unit =
    entries.foreach { e =>
      physPart.foreach { pc =>
        require(e.stats.get(pc).exists(s => s._2 == s._3),
          s"partition column $pc has no single-valued footer stats in " +
            s"${e.path} — partition columns must be non-null and of a " +
            "stats-supported type")
      }
    }

  /** The executor-staged analog of [[commitIfNew]]: publish
    * already-written entries as one micro-batch commit with the
    * in-manifest (appId, batchId) replay guard. Returns true if
    * published, false on a recognized replay (the staged files then
    * stay orphaned and age out via [[vacuum]], same economics as a
    * lost OCC race). */
  private[graft] def publishStagedIfNew(root: String,
      entries: Seq[FileEntry],
      incoming: org.apache.spark.sql.types.StructType,
      appId: String, batchId: Long, mode: String,
      mergeSchema: Boolean, planned: PlannedTableMeta): Boolean = {
    require(mode == "append" || mode == "overwrite",
      s"unknown commit mode: $mode")
    while (true) {
      if (lastCommittedBatch(root, appId).exists(_ >= batchId))
        return false
      val parent = latestVersion(root)
      val parentM = parent.map(readManifest(root, _))
      checkPlanned(root, parentM, planned)
      val schema = evolvedSchemaOf(root, incoming, mode, mergeSchema)
      val partCols =
        if (mode == "overwrite") Seq.empty[String] else planned.partitionBy
      requireSingleTuple(entries,
        partCols.map(n => planned.physNames.getOrElse(n, n)))
      val base =
        if (mode == "append") currentFiles(root, parent) else Seq.empty
      try {
        publishEntries(root, base ++ entries, parent.getOrElse(0L), mode,
          Some((appId, batchId)), schema,
          partitionBy = Some(partCols),
          dvs = carriedDvs(root, parent, mode),
          dropped = if (mode == "overwrite") Some(Map.empty) else None,
          physNames =
            if (mode == "overwrite") Some(Map.empty) else None)
        return true
      } catch {
        case _: VersionConflictException => // table moved: re-check guard
      }
    }
    false // unreachable
  }

  /** The executor-staged analog of [[overwritePartitions]] (Spark's
    * dynamic partition overwrite through the DSv2 catalog): replace
    * exactly the partition tuples present in `entries`, carry every
    * other live file by reference. An unpartitioned table degenerates
    * to a full overwrite — Spark's own dynamic-mode semantics. */
  private[graft] def publishStagedDynamicOverwrite(root: String,
      entries: Seq[FileEntry],
      incoming: org.apache.spark.sql.types.StructType,
      planned: PlannedTableMeta): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(
        s"no versions at $root to overwrite into"))
    val m = readManifest(root, latest)
    checkPlanned(root, Some(m), planned)
    if (m.partitionBy.isEmpty)
      // dynamic overwrite of an unpartitioned table = full overwrite
      publishEntries(root, entries, latest, "overwrite",
        schemaJson = evolvedSchemaOf(root, incoming, "overwrite",
          mergeSchema = false),
        partitionBy = Some(Nil), dropped = Some(Map.empty),
        physNames = Some(Map.empty))
    else {
      require(m.dvs.isEmpty, s"table at $root has " +
        "pending merge-on-read state; compact to materialize it before " +
        "a partition overwrite (its by-reference file carry would " +
        "resurrect deleted rows)")
      val schema = evolvedSchemaOf(root, incoming, "append",
        mergeSchema = false)
      val physPart = m.partitionBy.map(n => m.physNames.getOrElse(n, n))
      requireSingleTuple(entries, physPart)
      if (entries.isEmpty) latest // empty frame: nothing to replace
      else {
        val newTuples = entries.flatMap(partitionTuple(_, physPart)).toSet
        val (replaced, carried) = m.files.partition(f =>
          partitionTuple(f, physPart) match {
            case Some(t) => newTuples.contains(t)
            case None => true
          })
        val mixed = replaced.filter(f =>
          partitionTuple(f, physPart).isEmpty)
        require(mixed.isEmpty, s"table at $root has ${mixed.size} " +
          "file(s) without single-tuple partition stats under the " +
          "current spec (older-generation files after ALTER TABLE … " +
          "SET PARTITION SPEC, or a pre-invariant layout) — run " +
          "OPTIMIZE to migrate every file to the current spec before " +
          "a dynamic partition overwrite, or use the " +
          "overwritePartitions verb (it rescues old-generation " +
          "remainders)")
        publishEntries(root, carried ++ entries, latest,
          "overwrite-partitions", schemaJson = schema,
          partitionBy = Some(m.partitionBy))
      }
    }
  }

  /** The executor-staged publish behind DSv2 row-level operations
    * (Spark's own MERGE/UPDATE/DELETE rewrite against the catalog
    * table): replace EXACTLY the files the operation's scan read with
    * the staged replacement entries, carry every other live file by
    * reference. Pinned-version CAS, unretried: the replacement rows
    * were computed from the pinned snapshot, so a concurrent commit
    * invalidates them — fail loudly (Delta's concurrent-modification
    * abort; the statement is safe to re-run). */
  private[graft] def publishStagedReplace(root: String,
      scanned: Seq[String], entries: Seq[FileEntry],
      incoming: org.apache.spark.sql.types.StructType,
      expected: Long, planned: PlannedTableMeta,
      action: String): Long = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    if (latest != expected) throw new VersionConflictException(
      s"table at $root moved to version $latest during a row-level " +
        s"operation planned against version $expected — re-run the " +
        "statement against the current snapshot")
    // a fully-pruned operation (runtime group filter matched nothing)
    // swaps nothing for nothing — no new version, like merge's no-op
    if (scanned.isEmpty && entries.isEmpty) return latest
    val m = readManifest(root, latest)
    checkPlanned(root, Some(m), planned)
    require(m.dvs.isEmpty, s"table at $root has " +
      "pending merge-on-read state; compact to materialize it before a " +
      "copy-on-write row-level operation (its by-reference file carry " +
      "would resurrect deleted rows)")
    val physPart = m.partitionBy.map(n => m.physNames.getOrElse(n, n))
    requireSingleTuple(entries, physPart)
    val schema = evolvedSchemaOf(root, incoming, "append",
      mergeSchema = false)
    val scannedSet = scanned.toSet
    val kept = m.files.filterNot(f => scannedSet(f.path))
    publishEntries(root, kept ++ entries, latest, action,
      schemaJson = schema, partitionBy = Some(m.partitionBy))
  }

  /** The executor-staged publish behind DELTA-BASED row-level
    * operations (`SupportsDelta` — the merge-on-read shape of bare-SQL
    * MERGE/UPDATE/DELETE): every DATA file carries by identity; the
    * commit publishes only the new deletion-vector positions (inline
    * per-file lists plus executor-written sidecar parquet, merged into
    * the parent's vectors) and the staged INSERT/UPDATE-postimage file
    * entries — O(delta) metadata for a small mutation in a large
    * table, the Iceberg position-delta / Delta deletion-vector
    * economics. Pinned-version CAS, unretried, like
    * [[publishStagedReplace]]: the delta was computed from the pinned
    * snapshot. Pending deletion vectors MERGE (the scan that produced
    * this delta anti-filtered them, so the union stays exact). The
    * change feed replays the commit lazily
    * from the manifest — fresh positions as delete envelopes, new
    * files as inserts — no change files needed. */
  private[graft] def publishStagedDelta(root: String,
      deletes: Seq[(String, Seq[Long])],
      sidecars: Seq[(String, Seq[(String, Long)])],
      entries: Seq[FileEntry],
      incoming: org.apache.spark.sql.types.StructType,
      expected: Long, planned: PlannedTableMeta,
      command: String): Long = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    if (latest != expected) throw new VersionConflictException(
      s"table at $root moved to version $latest during a row-level " +
        s"operation planned against version $expected — re-run the " +
        "statement against the current snapshot")
    if (deletes.isEmpty && sidecars.isEmpty && entries.isEmpty)
      return latest // no-match no-op: publish nothing
    val m = readManifest(root, latest)
    checkPlanned(root, Some(m), planned)
    // protocol: `deletes` lists EVERY touched file (an empty position
    // list marks a file whose positions all went to sidecars), and
    // each sidecar names the exact files it covers — a covered file
    // missing from `deletes` would attach to nothing and silently
    // resurrect its rows, so it refuses loudly
    val freshByFile = deletes.toMap
    sidecars.foreach { case (sc, covered) =>
      require(covered.nonEmpty,
        s"delta sidecar $sc reports no covered files")
      covered.foreach { case (f, n) =>
        require(freshByFile.contains(f),
          s"delta sidecar $sc covers file $f, which is missing from " +
            "the touched-file records")
        require(n > 0,
          s"delta sidecar $sc reports $n rows for covered file $f")
      }
    }
    val live = m.files.map(_.path).toSet
    deletes.foreach { case (f, _) =>
      require(live(f), s"delta delete names a file not live at " +
        s"v$latest: $f") }
    val physPart = m.partitionBy.map(n => m.physNames.getOrElse(n, n))
    requireSingleTuple(entries, physPart)
    val schema = evolvedSchemaOf(root, incoming, "append",
      mergeSchema = false)
    val dvByFile = m.dvs.map(d => d.file -> d).toMap
    // each sidecar reference attaches ONLY to the files it actually
    // covers (the writer reported its own deleted map), so DV
    // application and change-feed replay scan O(relevant sidecars) per
    // file — never every sidecar of a wide multi-task delete
    val sidecarsFor: Map[String, Seq[String]] = sidecars
      .flatMap { case (sc, covered) => covered.map { case (f, _) => f -> sc } }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // exact per-file sidecar cardinality of THIS commit (each writer
    // reported the rows it spilled per covered file) — rides the merged
    // entry so live-row counts stay manifest arithmetic, no sidecar IO
    val scRowsFor: Map[String, Long] = sidecars
      .flatMap { case (_, covered) => covered }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // every touched file gets (at least) an entry carrying its sidecar
    // references; inline positions merge per file
    val touched = dvByFile.keySet ++ freshByFile.keySet
    val mergedDvs = touched.toSeq.sorted.map { f =>
      val prev = dvByFile.get(f)
      DvEntry(f,
        (prev.map(_.positions).getOrElse(Nil) ++
          freshByFile.getOrElse(f, Nil)).sorted,
        prev.map(_.sidecars).getOrElse(Nil) ++
          sidecarsFor.getOrElse(f, Nil),
        prev.map(_.scRows).getOrElse(Some(0L))
          .map(_ + scRowsFor.getOrElse(f, 0L)))
    }
    publishEntries(root, m.files ++ entries, latest, "write-delta",
      schemaJson = schema, partitionBy = Some(m.partitionBy),
      props = Map("graft.rowlevel.command" -> command),
      dvs = mergedDvs)
  }

  /** Highest batchId any retained manifest carries for `appId` —
    * scanned newest-first: a given app's batchIds only grow with the
    * version (commitIfNew enforces it), so the first manifest carrying
    * the app answers in O(1) manifest reads on an active stream
    * instead of re-parsing the whole log every micro-batch. */
  def lastCommittedBatch(root: String, appId: String): Option[Long] =
    versions(root).reverseIterator
      .map(readManifest(root, _))
      .collectFirst { case m if m.txnApp.contains(appId) => m.txnBatch.get }

  private def currentFiles(root: String, v: Option[Long]): Seq[FileEntry] =
    v.map(ver => readManifest(root, ver).files).getOrElse(Seq.empty)

  // deletion vectors ride with their files: appends carry them (they
  // index EXISTING files' rows; new files have none), overwrite/compact
  // replace the live set and clear them
  private def carriedDvs(root: String, parent: Option[Long],
      mode: String): Seq[DvEntry] =
    if (mode != "append") Nil
    else parent.map(readManifest(root, _).dvs).getOrElse(Nil)

  // ------------------------------------------------------------ read

  /** Latest snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(root).getOrElse(
        throw new IllegalArgumentException(s"no versions at $root")))

  /** A wall-clock instant as epoch millis, in each form the reader
    * options accept (`timestampAsOf`, `startingTimestamp`): epoch
    * millis, an ISO instant (`2024-01-01T00:00:00Z`), or a
    * `yyyy-MM-dd HH:mm:ss` wall clock read as UTC. */
  def parseTimestampMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** TIMESTAMP AS OF resolution: the version that was CURRENT at
    * `tsMillis` — the last version whose publish instant is
    * at-or-before it, in version order (clock-skewed commit times
    * cannot reorder history). Pre-round-6 manifests without a
    * recorded instant fall back to the manifest file's mtime. Fails
    * loudly when `tsMillis` predates the first retained version (the
    * Delta contract — an instant before history has no snapshot). */
  def versionAsOfTimestamp(root: String, tsMillis: Long): Long = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no versions at $root")
    def instant(v: Long): Long =
      readManifest(root, v).ts.getOrElse(manifestFile(root, v).lastModified())
    val hit = vs.foldLeft(Option.empty[Long]) { (acc, v) =>
      if (instant(v) <= tsMillis) Some(v) else acc
    }
    hit.getOrElse(throw new IllegalArgumentException(
      s"timestamp $tsMillis predates the first retained version of $root " +
        s"(v${vs.head} published at ${instant(vs.head)})"))
  }

  /** The largest version published strictly BEFORE `tsMillis` (0 when
    * every retained version is at-or-after it) — the EXCLUSIVE stream
    * start for `startingTimestamp`: commits at-or-after the instant
    * are included, Delta's inclusive startingTimestamp contract. */
  def versionBeforeTimestamp(root: String, tsMillis: Long): Long = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no versions at $root")
    def instant(v: Long): Long =
      readManifest(root, v).ts.getOrElse(manifestFile(root, v).lastModified())
    vs.foldLeft(0L)((acc, v) => if (instant(v) < tsMillis) v else acc)
  }

  /** Time travel by wall clock: the snapshot that was current at
    * `tsMillis` (see [[versionAsOfTimestamp]]). */
  def readTimestampAsOf(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOfTimestamp(root, tsMillis))

  /** Time travel: the exact file set published as version `v`, under
    * version `v`'s OWN schema (evolution is versioned too: a snapshot
    * from before a column existed doesn't have it), minus any pending
    * deletion vectors recorded as of `v`. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val m = readManifest(root, v)
    if (m.files.isEmpty) emptyLike(spark, root)
    else readLive(spark, root, m, m.files.map(_.path))
  }

  /** Read `relPaths` of manifest `m`, aligned to its schema, with each
    * file's pending deletion-vector positions anti-joined away. */
  private def readLive(spark: SparkSession, root: String, m: Manifest,
      relPaths: Seq[String]): DataFrame = {
    // deletion-vector'd files read row positions and anti-join their
    // deleted set; clean files take the plain vectorized path
    val dvFiles = m.dvs.map(_.file).toSet
    val (dvd, clean) = relPaths.partition(dvFiles)
    val pieces = Seq.newBuilder[DataFrame]
    if (clean.nonEmpty)
      pieces += readAligned(spark,
        clean.map(p => resolve(root, p).getPath), m.schemaJson, m.physNames)
    if (dvd.nonEmpty) {
      // ONE scan of all vectored files + ONE distributed anti-join
      // keyed on (file, position) — never a per-file plan branch or
      // a positions IN-literal, so a thousand-file wide delete reads
      // as a single hash join, not a thousand-way union
      val raw = readWithPositions(spark, root, dvd, m.schemaJson, m.physNames)
      pieces += raw.join(dvPositions(spark, root, m.dvs),
          Seq("__vfile", "__vpos"), "left_anti")
        .drop("__vfile", "__vpos")
    }
    pieces.result().reduce(_ unionByName _)
  }

  /** Read manifest-relative `relPaths` aligned to the table schema,
    * carrying each row's identity as `__vfile` (manifest-relative data
    * file path) and `__vpos` (parquet `_metadata.row_index`) — the
    * (file, position) key every deletion-vector verb joins on. The
    * file column comes from an exact join against the candidate list
    * (bounded by file count), not path string surgery. */
  private def readWithPositions(spark: SparkSession, root: String,
      relPaths: Seq[String], schemaJson: Option[String],
      physNames: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col => c, regexp_replace}
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val lookup = relPaths.map { p =>
      (resolve(root, p).toPath.toAbsolutePath.normalize().toString, p)
    }.toDF("__vabs", "__vfile")
    // under a column mapping the files are projected PHYSICAL and
    // aliased back to logical after the position join (same edge as
    // [[readAligned]])
    val logical = schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    val physical = logical.map(s =>
      if (physNames.isEmpty) s else physSchema(s, physNames))
    val reader = physical match {
      case Some(ps) => spark.read.schema(ps)
      case None => spark.read.option("mergeSchema", "true")
    }
    val raw = reader
      .parquet(relPaths.map(p => resolve(root, p).getPath): _*)
      .withColumn("__vabs",
        regexp_replace(c("_metadata.file_path"), "^file:/+", "/"))
      .withColumn("__vpos", c("_metadata.row_index"))
    val keyed = raw.join(broadcast(lookup), Seq("__vabs")).drop("__vabs")
    (logical, physical) match {
      case (Some(ls), Some(ps)) =>
        aliasToLogical(keyed, ls, ps, extra = Seq("__vfile", "__vpos"))
      case _ => keyed
    }
  }

  /** Every deleted (file, position) of `dvs` as a DataFrame
    * (`__vfile`, `__vpos`): inline positions from the manifest (small
    * by construction — the inline threshold bounds them) unioned with
    * the executor-written sidecar parquet files. */
  private def dvPositions(spark: SparkSession, root: String,
      dvs: Seq[DvEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    val pieces = Seq.newBuilder[DataFrame]
    val inline = dvs.flatMap(d => d.positions.map(p => (d.file, p)))
    if (inline.nonEmpty)
      pieces += inline.toDF("__vfile", "__vpos")
    val sidecars = dvs.flatMap(_.sidecars).distinct
    if (sidecars.nonEmpty)
      pieces += spark.read
        .parquet(sidecars.map(p => resolve(root, p).getPath): _*)
        .select(c("file").as("__vfile"), c("pos").as("__vpos"))
    pieces.result().reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, Long)].toDF("__vfile", "__vpos"))
  }

  private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** The physical parquet schema a logical schema reads/writes under a
    * column mapping: same fields, storage names substituted. */
  private def physSchema(
      schema: org.apache.spark.sql.types.StructType,
      phys: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = phys.getOrElse(f.name, f.name))))

  /** Alias a physically-projected frame back to logical names, in
    * schema order; `extra` columns (position/envelope fields) carry
    * through as-is. The single mapping read edge — [[readAligned]] and
    * [[readWithPositions]] must never diverge on it. */
  private def aliasToLogical(df: DataFrame,
      logical: org.apache.spark.sql.types.StructType,
      physical: org.apache.spark.sql.types.StructType,
      extra: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    df.select(logical.fields.toSeq.zip(physical.fields).map {
      case (lf, pf) => c(s"`${pf.name}`").as(lf.name)
    } ++ extra.map(c): _*)
  }

  /** Align `df` to `schema`: present columns pass through, missing ones
    * null-fill with the declared type, order follows `schema`; `extra`
    * columns (envelope fields etc.) are carried after, as-is. THE
    * single alignment rule — batch reads, the change feed, and the
    * streaming source must never diverge on it. */
  def alignTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
      extra: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      if (have(f.name)) c(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ extra.map(c): _*)
  }

  /** Read parquet `paths` under the manifest's table schema: files
    * written before a column was added simply lack it (the reader
    * null-fills columns absent from a file when the schema is given
    * explicitly), and a column NO live file carries is null-filled the
    * same way — so every reader sees one stable schema, in manifest
    * order, regardless of which files survive. Passing the MANIFEST
    * schema instead of mergeSchema=true also skips the per-file footer
    * schema merge at planning time — the manifest is the source of
    * truth, so a snapshot read costs one manifest fetch plus the scan,
    * never an extra footer pass (the lake-format read economics). */
  private def readAligned(spark: SparkSession, paths: Seq[String],
      schemaJson: Option[String],
      physNames: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.types.StructType
    schemaJson match {
      case None => // pre-schema manifest: merge the (homogeneous) footers
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
      case Some(json) =>
        val schema = DataType.fromJson(json).asInstanceOf[StructType]
        if (physNames.isEmpty)
          alignTo(spark.read.schema(schema).parquet(paths: _*), schema)
        else {
          // COLUMN MAPPING read edge: project the files under the
          // PHYSICAL schema (one scan — physical names are immutable,
          // so every file era agrees on them), then alias back to
          // logical. Files written before a column existed null-fill
          // exactly as in the identity path.
          val physical = physSchema(schema, physNames)
          aliasToLogical(spark.read.schema(physical).parquet(paths: _*),
            schema, physical)
        }
    }
  }

  // a zero-file snapshot (empty first batch, overwrite-to-empty) still
  // needs a schema: every manifest records the committed schema JSON,
  // falling back to any retained data file for pre-schema manifests
  private def emptyLike(spark: SparkSession, root: String): DataFrame = {
    val manifests = versions(root).reverseIterator.map(readManifest(root, _))
    manifests.flatMap(m => m.schemaJson.map(Left(_)) orElse
        m.files.headOption.map(f => Right(f.path)))
      .nextOption() match {
      case Some(Left(json)) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      case Some(Right(path)) =>
        spark.read.parquet(resolve(root, path).getPath).limit(0)
      case None => throw new IllegalArgumentException(
        s"table at $root has no schema in any retained version")
    }
  }

  /** The manifest-level file pruning: files whose recorded [min, max]
    * for `col` cannot intersect [lo, hi] are never handed to the scan.
    * Returns the snapshot ALREADY filtered exactly (`col BETWEEN lo AND
    * hi`), so callers get correct rows regardless of stats coverage —
    * files without stats for `col` are conservatively kept. */
  def readPruned(spark: SparkSession, root: String, col: String,
      lo: Any, hi: Any, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val keep = candidateFiles(root, v, col, lo, hi)
    val df =
      if (keep.isEmpty) readVersion(spark, root, v).limit(0)
      else readLive(spark, root, readManifest(root, v), keep)
    df.filter(c(col) >= lit(lo) && c(col) <= lit(hi))
  }

  /** The relative paths [[readPruned]] would scan (exposed so specs and
    * operators can assert the pruning itself). */
  def candidateFiles(root: String, version: Long, col: String,
      lo: Any, hi: Any): Seq[String] =
    candidateFilesForBounds(root, version,
      Seq(ColumnBound(col, Some(lo), Some(hi))))

  /** The relative paths a keys-FRAME probe must scan: a file survives
    * only if, for EVERY column in `cols`, its recorded stats admit at
    * least one of the frame's values for that column (conjunctive —
    * the equi-join shape: a joining row matches on ALL keys, so a file
    * any key column provably excludes can hold no match). Per-column
    * pruning is [[partitionFilesByKeys]]: a three-scalar range
    * aggregate over the keys, then an exact per-file membership test
    * via a broadcast interval join — driver traffic bounded by FILE
    * count, never key count. Files without stats for a column are
    * conservatively kept (the no-stats fallback is the full file
    * list), so callers must still join/filter rows exactly. */
  def candidateFilesForKeys(spark: SparkSession, root: String,
      version: Long, keys: DataFrame, cols: Seq[String]): Seq[String] = {
    require(cols.nonEmpty, "candidateFilesForKeys needs at least one column")
    import org.apache.spark.sql.functions.{col => c}
    val m = readManifest(root, version)
    val all = m.files
    val kept = cols.foldLeft(all) { (remaining, cn) =>
      // stats are keyed PHYSICAL — probe under the storage name
      val pn = m.physNames.getOrElse(cn, cn)
      if (remaining.isEmpty) remaining
      else partitionFilesByKeys(spark, remaining,
        keys.select(c(cn).as(pn)).distinct(), pn)._1
    }.map(_.path)
    onKeyPrune(root, version, kept.size, all.size)
    kept
  }

  /** Observability hook: every [[candidateFilesForKeys]] decision
    * reports `(root, version, filesKept, filesTotal)` — lets specs
    * (and diagnostics) assert that a keyed probe read scanned a
    * strict subset of a table's files without plan surgery. */
  @volatile private[graft] var onKeyPrune:
    (String, Long, Int, Int) => Unit = (_, _, _, _) => ()

  /** Read `root`@`version` restricted to the files that may contain a
    * row matching SOME tuple of the `keys` frame on `cols`
    * ([[candidateFilesForKeys]]) — the probe-side read an incremental
    * join maintainer needs: against a 100 TB base with a narrow change
    * window, only the files whose stats overlap the changed keys are
    * scanned, degrading to the full snapshot when the key columns have
    * no recorded stats. Rows are NOT filtered — the caller's join is
    * the exact membership test. */
  def readVersionForKeys(spark: SparkSession, root: String, version: Long,
      keys: DataFrame, cols: Seq[String]): DataFrame =
    readVersionFiles(spark, root, version,
      candidateFilesForKeys(spark, root, version, keys, cols))

  /** An inclusive per-column interval constraint; a `None` side is
    * unbounded. ANDed across a `Seq[ColumnBound]` — the shape a
    * conjunctive pushed-filter set reduces to.
    *
    * `values` (set membership, `IN (…)`): the file survives the bound
    * if ANY value could be present — each value checked as its own
    * point (range containment + bloom probe), so an IN-list point
    * lookup prunes exactly like a union of equality lookups. */
  case class ColumnBound(col: String, lo: Option[Any], hi: Option[Any],
      values: Option[Seq[Any]] = None,
      // Some(true) = IS NULL (file must have nulls recorded > 0),
      // Some(false) = IS NOT NULL (file must not be all-null) —
      // the null-count-stats pushdown shape
      nullness: Option[Boolean] = None)

  /** Set-membership bound constructor (the `In` pushdown shape). */
  def inBound(col: String, vs: Seq[Any]): ColumnBound =
    ColumnBound(col, None, None, values = Some(vs))

  /** Nullness bound constructor (the IS [NOT] NULL pushdown shape). */
  def nullBound(col: String, isNull: Boolean): ColumnBound =
    ColumnBound(col, None, None, nullness = Some(isNull))

  /** Multi-column stats pruning: a file survives only if, for EVERY
    * bound, its recorded [min, max] can intersect the bound's interval.
    * Files without stats for a bound's column are conservatively kept,
    * so callers must still re-apply the predicates to rows.
    *
    * A POINT bound (lo == hi, integral or string) additionally probes
    * the file's manifest Bloom filter when one was recorded at commit
    * time (`bloomCols`): a "definitely absent" answer prunes the file
    * even when its [min, max] range covers the key — the case range
    * stats can't help with once key ranges overlap across files
    * (upserted tables, interleaved writers). False positives keep the
    * file (scan + exact filter stays correct); false negatives cannot
    * occur, so pruning never changes results. Probe input is the same
    * `CAST(col AS STRING)` the build used — integral and string keys
    * round-trip exactly; other types skip the bloom probe. */
  def candidateFilesForBounds(root: String, version: Long,
      bounds: Seq[ColumnBound]): Seq[String] = {
    // each bound compiles ONCE (typed sorted value arrays, memoized
    // bloom positions); the per-file loop then pays binary searches
    // and word lookups, never per-(value × file) hashing — a
    // 10⁴-value IN prunes as fast as a point lookup
    val m = readManifest(root, version)
    // stats are keyed PHYSICAL — translate bound columns through the
    // version's column mapping before compiling probes
    val mapped =
      if (m.physNames.isEmpty) bounds
      else bounds.map(b => b.copy(col = m.physNames.getOrElse(b.col, b.col)))
    // HIDDEN bucket transforms: a point/IN bound on the SOURCE column
    // derives the matching bucket id(s), pruning to O(1/n) of the
    // files — the reason bucket partitioning exists. (Time transforms
    // need no translation: day-pure files keep day-bounded source
    // stats, so range bounds on the source already prune exactly.)
    val probes = (mapped ++ bucketBounds(m, bounds) ++
      truncateBounds(m, bounds)).map(compileBound)
    m.files.filter { f =>
      probes.forall(p => p(f))
    }.map(_.path)
  }

  /** Derived hidden-column bounds for bucket transforms: for each
    * equality/IN bound on a transform's source, evaluate the SAME
    * expression the write derives with (`pmod(hash(v), n)`) on the
    * bound's value(s). Untypeable values decline conservatively —
    * never a wider prune. LEGACY (pre-evolution) transforms derive
    * too: each generation's files carry that generation's hidden
    * column, and a bound compiled for an absent stats column keeps
    * the file — so old files prune under the old derivation, new
    * files under the new, and neither generation's probe can touch
    * the other's files. */
  private def bucketBounds(m: Manifest,
      bounds: Seq[ColumnBound]): Seq[ColumnBound] = {
    val buckets =
      (m.transforms ++ m.legacyTransforms).filter(_.fn == "bucket")
    if (buckets.isEmpty) return Nil
    val schema = m.schemaJson.map(org.apache.spark.sql.types.DataType
      .fromJson(_).asInstanceOf[org.apache.spark.sql.types.StructType])
    def bucketOf(srcType: org.apache.spark.sql.types.DataType,
        n: Int, v: Any): Option[Any] =
      try {
        import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
        Option(Pmod(new Murmur3Hash(Seq(Literal.create(v, srcType))),
          Literal(n)).eval(null))
      } catch { case _: Exception => None }
    buckets.flatMap { t =>
      schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(t.src)))
        .map(_.dataType).toSeq.flatMap { st =>
          bounds.flatMap { b =>
            if (!b.col.equalsIgnoreCase(t.src) || b.nullness.nonEmpty) None
            else {
              val pts: Option[Seq[Any]] =
                if (b.values.isDefined) b.values
                else if (b.lo.isDefined && b.lo == b.hi) Some(Seq(b.lo.get))
                else None
              pts.flatMap { vs =>
                val ids = vs.map(v => bucketOf(st, t.n, v))
                if (ids.exists(_.isEmpty) || ids.isEmpty) None
                else Some(ids.flatten.distinct)
              }.map { ids =>
                if (ids.size == 1)
                  ColumnBound(t.hidden, Some(ids.head), Some(ids.head))
                else inBound(t.hidden, ids)
              }
            }
          }
        }
    }
  }

  /** Derived hidden-column bounds for TRUNCATE transforms (current and
    * legacy generations, like [[bucketBounds]]). Truncate is ORDER-
    * PRESERVING — monotone floor-to-multiple on integrals, monotone
    * prefix on strings — so unlike bucket, RANGE predicates derive
    * too: src ∈ [lo, hi] ⇒ hidden ∈ [truncate(lo), truncate(hi)],
    * each side independently (a one-sided bound stays one-sided).
    * String derivation restricts to ASCII literals, where driver-side
    * char slicing provably agrees with the write-side `substring` and
    * footer-stats ordering; anything else declines conservatively. */
  private def truncateBounds(m: Manifest,
      bounds: Seq[ColumnBound]): Seq[ColumnBound] = {
    val ts = (m.transforms ++ m.legacyTransforms).filter(_.fn == "truncate")
    if (ts.isEmpty) return Nil
    val schema = m.schemaJson.map(org.apache.spark.sql.types.DataType
      .fromJson(_).asInstanceOf[org.apache.spark.sql.types.StructType])
    import org.apache.spark.sql.types._
    def trunc(srcType: DataType, n: Int, v: Any): Option[Any] =
      srcType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          (v match {
            case b: Byte => Some(b.toLong)
            case s: Short => Some(s.toLong)
            case i: Int => Some(i.toLong)
            case l: Long => Some(l)
            case _ => None
          }).map(l => java.lang.Long.valueOf(
            // two's-complement wrap matches the SQL derivation's
            // non-ANSI subtract on the same extreme inputs
            l - (((l % n) + n) % n)): Any)
        case _: StringType => v match {
          case s: String if s.forall(_ < 128) =>
            Some(s.substring(0, math.min(n, s.length)))
          case _ => None
        }
        case _ => None
      }
    ts.flatMap { t =>
      schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(t.src)))
        .map(_.dataType).toSeq.flatMap { st =>
          bounds.flatMap { b =>
            if (!b.col.equalsIgnoreCase(t.src) || b.nullness.nonEmpty) None
            else b.values match {
              case Some(vs) =>
                val ids = vs.map(v => trunc(st, t.n, v))
                if (ids.isEmpty || ids.exists(_.isEmpty)) None
                else {
                  val d = ids.flatten.distinct
                  Some(if (d.size == 1)
                    ColumnBound(t.hidden, Some(d.head), Some(d.head))
                  else inBound(t.hidden, d))
                }
              case None =>
                val lo = b.lo.flatMap(trunc(st, t.n, _))
                val hi = b.hi.flatMap(trunc(st, t.n, _))
                // a side that fails to derive DROPS (wider, sound);
                // both failing derives nothing
                if (lo.isEmpty && hi.isEmpty) None
                else Some(ColumnBound(t.hidden, lo, hi))
            }
          }
        }
    }
  }

  /** Compile one bound into a per-file predicate. Interval bounds and
    * small IN-sets keep the direct path; large IN-sets get the sorted
    * array + position-cache treatment ([[compileInProbe]]). */
  private def compileBound(b: ColumnBound): FileEntry => Boolean =
    b.nullness match {
      // null-count pruning: unrecorded column → conservative keep
      case Some(true) => f => f.nulls.get(b.col).forall(_ > 0L)
      case Some(false) => f => f.nulls.get(b.col).forall(_ < f.rows)
      case None => b.values match {
        case Some(vs) if vs.size > 8 => compileInProbe(b.col, vs)
        case _ => f => boundKeeps(f, b)
      }
    }

  /** Large-IN file probe: values sort ONCE into typed arrays, so the
    * per-file range check is two binary searches for the window of
    * values inside [min, max]; the bloom probe hashes each value's
    * positions ONCE per (bits, hashes) config (memoized) and then
    * tests 3 bits per candidate value per file. Total planning cost
    * O(V log V + V·hashes md5 + files·(log V + window·hashes)) — no
    * per-(value × file) md5, which is what made the old per-point
    * path a planning stall past ~64 values. Falls back to the exact
    * per-point check for mixed-typed value lists (not produced by
    * any SQL IN). Above 100k values bloom probing is skipped
    * (range-window pruning alone — still correct, coarser). */
  private def compileInProbe(col: String,
      vs: Seq[Any]): FileEntry => Boolean = {
    val isIntegral = vs.forall {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => true
      case _ => false
    }
    val isString = vs.forall(_.isInstanceOf[String])
    val isNumeric = vs.forall(_.isInstanceOf[Number])
    val longs: Array[Long] =
      if (isIntegral) vs.map(v => v.asInstanceOf[Number].longValue())
        .distinct.sorted.toArray
      else Array.emptyLongArray
    val strings: Array[String] =
      if (isString) vs.map(_.asInstanceOf[String]).distinct.sorted.toArray
      else Array.empty
    val doubles: Array[Double] =
      if (isNumeric)
        vs.map(v => v.asInstanceOf[Number].doubleValue())
          .distinct.sorted.toArray
      else Array.emptyDoubleArray
    // canonical bloom probe strings, aligned to the sorted arrays
    // (long columns hashed value.toString, string columns the value
    // itself — the same build-time CAST(col AS STRING) contract
    // bloomProbeString documents)
    def canon(tag: String): Array[String] = tag match {
      case "long" if longs.nonEmpty => longs.map(_.toString)
      case "string" if strings.nonEmpty => strings
      case _ => Array.empty
    }
    val bloomable = vs.size <= 100000
    val posCache =
      new java.util.concurrent.ConcurrentHashMap[(String, Int, Int),
        Array[Array[Int]]]()
    def positionsFor(tag: String, bits: Int, hashes: Int): Array[Array[Int]] =
      posCache.computeIfAbsent((tag, bits, hashes), _ =>
        canon(tag).map(s => graft.functions.expressions.BloomFilter
          .positions(s, bits, hashes)))
    // first index with arr(i) >= x (standard lower bound)
    def lowerL(arr: Array[Long], x: Long): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def upperL(arr: Array[Long], x: Long): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) <= x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def lowerS(arr: Array[String], x: String): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def upperS(arr: Array[String], x: String): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) <= x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def lowerD(arr: Array[Double], x: Double): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def upperD(arr: Array[Double], x: Double): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) <= x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def bloomSurvives(f: FileEntry, tag: String, lo: Int, hi: Int): Boolean =
      if (!bloomable) true
      else f.blooms.get(col) match {
        case None => true
        case Some(bl) =>
          val poss = positionsFor(tag, bl.bits, bl.hashes)
          if (poss.isEmpty) true // type combination the bloom can't prove
          else {
            var i = lo
            var found = false
            while (i < hi && !found) {
              val ps = poss(i)
              var j = 0
              var all = true
              while (j < ps.length && all) {
                val p = ps(j)
                all = (bl.words(p >>> 6) & (1L << (p & 63))) != 0L
                j += 1
              }
              found = all
              i += 1
            }
            found
          }
      }
    (f: FileEntry) => f.stats.get(col) match {
      case None => true // no stats → must scan
      case Some((tag, mn, mx)) => tag match {
        case "long" if longs.nonEmpty =>
          val lo = lowerL(longs, mn.toLong)
          val hi = upperL(longs, mx.toLong)
          lo < hi && bloomSurvives(f, tag, lo, hi)
        case "double" if doubles.nonEmpty =>
          val lo = lowerD(doubles, mn.toDouble)
          val hi = upperD(doubles, mx.toDouble)
          lo < hi // double columns never bloom-probe (canonicalization)
        case "string" if strings.nonEmpty =>
          val lo = lowerS(strings, mn)
          val hi = upperS(strings, mx)
          lo < hi && bloomSurvives(f, tag, lo, hi)
        case _ => // mixed/cross-typed list: exact per-point fallback
          vs.exists(v => boundKeeps(f, ColumnBound(col, Some(v), Some(v))))
      }
    }
  }

  /** One bound against one file: interval bounds check range ∩ bloom;
    * an IN-set bound keeps the file iff ANY value survives its own
    * point check. */
  private def boundKeeps(f: FileEntry, b: ColumnBound): Boolean =
    b.values match {
      case Some(vs) => vs.exists(v =>
        boundKeeps(f, ColumnBound(b.col, Some(v), Some(v))))
      case None =>
        val rangeOk = f.stats.get(b.col) match {
          case None => true // no stats recorded → must scan
          case Some((tpe, mn, mx)) => tpe match {
            case "long" =>
              b.lo.forall(l => mx.toLong >= toLong(l)) &&
                b.hi.forall(h => mn.toLong <= toLong(h))
            case "double" =>
              b.lo.forall(l => mx.toDouble >= toDouble(l)) &&
                b.hi.forall(h => mn.toDouble <= toDouble(h))
            case _ =>
              b.lo.forall(l => mx >= l.toString) &&
                b.hi.forall(h => mn <= h.toString)
          }
        }
        rangeOk && bloomKeeps(f, b)
    }

  /** Bloom probe for a point bound; true (keep) unless the file's
    * bloom PROVES the key absent. */
  private def bloomKeeps(f: FileEntry, b: ColumnBound): Boolean =
    (b.lo, b.hi) match {
      case (Some(lo), Some(hi)) if lo == hi =>
        bloomProbeString(f, b.col, lo) match {
          case None => true
          case Some(key) => f.blooms.get(b.col).forall(bl =>
            graft.functions.expressions.BloomFilter.mightContain(
              bl.words, key, bl.bits, bl.hashes))
        }
      case _ => true
    }

  /** The canonical string a bloom probe hashes for a point value —
    * must agree byte-for-byte with what `CAST(col AS STRING)` produced
    * at build time, which depends on the COLUMN's type, not the probe
    * value's: a long column renders 42, a double column "42.0". The
    * file's stats tag is the column-type witness — probe only when it
    * proves the rendering (integral column × integral probe, string ×
    * string); any other combination (double columns, missing stats,
    * cross-typed probes) skips the bloom, because a mis-canonicalized
    * key would FALSE-NEGATIVE and wrongly prune a live file. */
  private def bloomProbeString(f: FileEntry, col: String,
      v: Any): Option[String] =
    (f.stats.get(col).map(_._1), v) match {
      case (Some("string"), s: String) => Some(s)
      case (Some("long"), _: java.lang.Long | _: java.lang.Integer |
           _: java.lang.Short | _: java.lang.Byte) => Some(v.toString)
      case _ => None
    }

  /** Partition `files` into (may-contain-a-key, provably-key-free)
    * against a DISTRIBUTED single-column keys frame — the keys-frame
    * replacement for collecting update/delete keys to the driver.
    *
    * Mechanics: one aggregate gives the keys' global [min, max, count]
    * (three scalars to the driver); files outside the global range
    * drop immediately; the survivors get an exact per-file membership
    * test via a broadcast interval join (each key probes the
    * broadcast (path, min, max) list; distinct hit paths come back —
    * bounded by FILE count, never key count). When keyCount ×
    * survivorFiles would exceed the probe budget the join is skipped
    * and range-pruning alone stands (still correct, just coarser —
    * the same stance Delta takes with partition-only pruning on
    * MERGE). Files without usable stats for `col` are conservatively
    * kept whenever any non-null key exists. Date/timestamp keys
    * normalize to the footer's integer scale (epoch days / micros),
    * matching [[toLong]]'s driver-side convention. */
  private def partitionFilesByKeys(spark: SparkSession,
      files: Seq[FileEntry], keys: DataFrame,
      col: String): (Seq[FileEntry], Seq[FileEntry]) = {
    import org.apache.spark.sql.functions.{broadcast, col => c, count, lit,
      max => fmax, min => fmin, unix_date, unix_micros}
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    import spark.implicits._
    val kcol = keys.columns.head
    val tagOf = files.flatMap(_.stats.get(col).map(_._1)).headOption
    val (stated, statless) = files.partition(f =>
      tagOf.exists(t => f.stats.get(col).exists(_._1 == t)))
    def anyKey: Boolean = !keys.filter(c(kcol).isNotNull).limit(1).isEmpty
    if (stated.isEmpty)
      return if (anyKey) (files, Nil) else (Nil, files)
    val tag = tagOf.get
    val keyNorm = (tag, keys.schema.head.dataType) match {
      case ("long", DateType) => unix_date(c(kcol)).cast("long")
      case ("long", TimestampType) => unix_micros(c(kcol))
      case ("long", TimestampNTZType) =>
        unix_micros(c(kcol).cast("timestamp"))
      case ("long", _) => c(kcol).cast("long")
      case ("double", _) => c(kcol).cast("double")
      case _ => c(kcol).cast("string")
    }
    val nn = keys.filter(c(kcol).isNotNull).select(keyNorm.as("__k"))
    val agg = nn.agg(fmin("__k"), fmax("__k"), count(lit(1))).head()
    if (agg.getLong(2) == 0L) return (Nil, files) // no key matches anything
    val (kmin, kmax, kcnt) = (agg.get(0), agg.get(1), agg.getLong(2))
    def rangeOverlaps(f: FileEntry): Boolean = {
      val (_, mn, mx) = f.stats(col)
      tag match {
        case "long" => mx.toLong >= toLong(kmin) && mn.toLong <= toLong(kmax)
        case "double" =>
          mx.toDouble >= toDouble(kmin) && mn.toDouble <= toDouble(kmax)
        case _ => mx >= kmin.toString && mn <= kmax.toString
      }
    }
    val survivors = stated.filter(rangeOverlaps)
    val hit: Set[String] =
      if (survivors.isEmpty) Set.empty
      else if (kcnt.toDouble * survivors.size > 1e9) survivors.map(_.path).toSet
      else {
        val candDf = survivors
          .map(f => (f.path, f.stats(col)._2, f.stats(col)._3))
          .toDF("__kpath", "__kmn", "__kmx")
        val (mnC, mxC) = tag match {
          case "long" => (c("__kmn").cast("long"), c("__kmx").cast("long"))
          case "double" =>
            (c("__kmn").cast("double"), c("__kmx").cast("double"))
          case _ => (c("__kmn"), c("__kmx"))
        }
        nn.join(broadcast(candDf), c("__k") >= mnC && c("__k") <= mxC)
          .select("__kpath").distinct()
          .collect().map(_.getString(0)).toSet // bounded by file count
      }
    // past the kcnt == 0 return, a non-null key exists: statless files
    // are conservatively touched
    val touched = (statless ++ stated.filter(f => hit(f.path)))
      .map(_.path).toSet
    files.partition(f => touched(f.path))
  }

  /** Copy-on-write DELETE by KEY MEMBERSHIP — the Delta
    * MERGE-with-source shape: remove every row whose `col` appears in
    * the paired single-column keys DataFrame, for ANY of `keySets`
    * (OR across sets — the changed-key shape an incremental
    * join-MV maintains: `aId ∈ ΔA OR bId ∈ ΔB`).
    *
    * Everything stays distributed: file pruning via
    * [[partitionFilesByKeys]] (key-range aggregate + broadcast
    * interval join, per-file rows only), the delete itself via
    * left-anti joins against the keys frames — no collected id list,
    * no `isin` literal tree, at ANY change volume. Null keys never
    * match (SQL IN semantics); rows with a null `col` are kept.
    *
    * Same pending-MoR guards, schema carry, CDF contract (`cdf=true`
    * writes delete envelopes) and CAS publish as [[delete]].
    *
    * @return the version containing the result (a new version, or the
    *         current one when no file can hold any key)
    */
  def deleteKeys(spark: SparkSession, root: String,
      keySets: Seq[(String, DataFrame)],
      statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      cdf: Boolean = false): Long = withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.lit
    require(keySets.nonEmpty, "deleteKeys needs at least one key set")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to delete from"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending deletion " +
      "vector(s); compact to materialize them before a copy-on-write " +
      "delete (its by-reference file carry would resurrect deleted rows)")
    val sets = keySets.map { case (cn, df) =>
      require(df.columns.length == 1,
        s"keys frame for $cn must have exactly one column, " +
          s"got ${df.columns.mkString(",")}")
      cn -> df.toDF(cn)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // a file is touched if ANY set may hit it (stats keyed PHYSICAL)
      val touchedPaths = sets.flatMap { case (cn, k) =>
        val pn = m.physNames.getOrElse(cn, cn)
        partitionFilesByKeys(spark, m.files, k.toDF(pn), pn)._1.map(_.path)
      }.toSet
      val (touched, untouched) =
        m.files.partition(f => touchedPaths(f.path))
      if (touched.isEmpty) latest
      else {
        val base0 = readAligned(spark,
          touched.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames)
        // the touched files feed one anti leg per set (plus semi legs
        // under cdf) — persist so they read once
        val base = base0
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          var kept = base
          val cdfPieces = Seq.newBuilder[DataFrame]
          sets.foreach { case (cn, k) =>
            if (cdf) cdfPieces += kept.join(k, Seq(cn), "left_semi")
            kept = kept.join(k, Seq(cn), "left_anti")
          }
          val cdfPaths =
            if (!cdf) Nil
            else writeCdf(spark, root,
              cdfPieces.result().reduce(_ unionByName _)
                .withColumn("_change_type", lit("delete")))
          // rewritten files INHERIT the table's recorded stats columns
          // (plus any extra requested): a keyed delete must not erase
          // the very stats the NEXT keyed delete prunes by
          val effStats =
            (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
          val (newEntries, schema) =
            writeBatch(spark, root, kept, effStats, m.partitionBy)
          publishEntries(root, untouched ++ newEntries, latest, "delete",
            schemaJson = schema, cdf = cdfPaths)
        } finally base.unpersist()
      }
    } finally sets.foreach(_._2.unpersist())
  }

  /** SHOW PARTITIONS: the distinct partition tuples of `version`'s
    * live files with file/row/byte rollups — straight from the
    * manifest, no file listing or footer read. Values are the recorded
    * stats strings (dates surface as epoch days, timestamps as epoch
    * micros — the footer encoding); a file whose tuple can't be proven
    * single-valued groups under null. */
  def partitions(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val v = version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, v)
    require(m.partitionBy.nonEmpty,
      s"table at $root is not partitioned")
    val grouped = m.files.groupBy(f => m.partitionBy.map(pc =>
      f.stats.get(pc).collect { case (_, mn, mx) if mn == mx => mn }
        .orNull)).toSeq
    val rows = grouped.map { case (tuple, fs) =>
      Row.fromSeq(tuple ++
        Seq(fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum))
    }
    val schema = StructType(
      m.partitionBy.map(pc => StructField(pc, StringType)) ++
        Seq(StructField("num_files", LongType),
          StructField("num_rows", LongType),
          StructField("num_bytes", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The table schema of `version` (latest when `None`) straight from
    * the manifest — no file listing or footer read on the hot path. */
  def tableSchema(spark: SparkSession, root: String,
      version: Option[Long] = None): StructType = {
    val v = version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    readManifest(root, v).schemaJson match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None => readVersion(spark, root, v).schema
    }
  }

  /** (live bytes, live rows) of `version` per the manifest — DSv2
    * `SupportsReportStatistics` reads both so Catalyst's broadcast
    * decision comes from commit-time truth. */
  private[graft] def tableStats(root: String, version: Long): (Long, Long) = {
    val fs = readManifest(root, version).files
    (fs.map(_.bytes).sum, fs.map(_.rows).sum)
  }


  /** path → (bytes, rows) of every live file at `version` — split
    * planning and per-scan statistics read these from the manifest,
    * never from filesystem metadata calls. */
  private[graft] def fileMeta(root: String,
      version: Long): Map[String, (Long, Long)] =
    readManifest(root, version).files
      .map(f => f.path -> (f.bytes, f.rows)).toMap

  /** The pending deletion vectors at `version` — a DV-AWARE native
    * scan anti-filters exactly these positions per file. */
  private[graft] def pendingDvEntries(root: String,
      version: Long): Seq[DvEntry] = readManifest(root, version).dvs

  /** Metadata-only aggregate inputs at `version`: the live file
    * entries (resolved across segments) and the column mapping (file
    * stats are keyed PHYSICAL). */
  private[graft] def aggMeta(root: String, version: Long)
      : (Seq[FileEntry], Map[String, String]) = {
    val m = readManifest(root, version)
    (m.files, m.physNames)
  }

  /** Deleted positions per file at `version` from MANIFEST ARITHMETIC
    * alone — `Some` exactly when every entry's sidecar cardinality was
    * recorded at publish time (all round-12+ commits), `None` on a
    * legacy manifest. Zero IO beyond the manifest read: this is what
    * keeps LIMIT file caps and metadata COUNT(*) armed on DV-pending
    * snapshots at any table size. */
  private[graft] def dvDeletedCountsExact(root: String,
      version: Long): Option[Map[String, Long]] = {
    val ds = readManifest(root, version).dvs
    val exact = ds.flatMap(d => d.deletedExact.map(d.file -> _))
    if (exact.length == ds.length) Some(exact.toMap) else None
  }

  /** Deleted positions per file at `version`: inline counts from the
    * manifest, sidecar counts from one bounded scan (positions are
    * recorded at most once per (file, pos) by the delete verbs'
    * guards, so counting is exact). Manifests that recorded their
    * sidecar cardinalities answer without the scan. */
  private[graft] def dvDeletedCounts(spark: SparkSession, root: String,
      version: Long): Map[String, Long] = {
    dvDeletedCountsExact(root, version).foreach(m => return m)
    import org.apache.spark.sql.functions.{col => c, count}
    val m = readManifest(root, version)
    val sidecarCounts = {
      val scs = m.dvs.flatMap(_.sidecars).distinct
      if (scs.isEmpty) Map.empty[String, Long]
      else spark.read
        .parquet(scs.map(p => resolve(root, p).getPath): _*)
        .groupBy(c("file")).agg(count("*").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    m.dvs.map(d => d.file ->
      (d.positions.size.toLong + sidecarCounts.getOrElse(d.file, 0L)))
      .toMap
  }

  /** The table's declared hive-layout partition columns at `version`
    * (latest when `None`); empty for an unpartitioned table. Manifest
    * metadata only — SQL INSERT OVERWRITE reads this to preserve the
    * declared layout through a full replacement, like Spark/Delta. */
  def partitionByOf(root: String, version: Option[Long] = None): Seq[String] =
    version.orElse(latestVersion(root))
      .map(readManifest(root, _).partitionBy).getOrElse(Nil)

  /** The table's hidden partition transforms at `version` (latest if
    * unset) — each one's `hidden` column appears in [[partitionByOf]]. */
  /** Prior-generation (legacy) transforms still tagging live files at
    * `version` (latest if `None`) — populated by partition-spec
    * evolution, self-cleaning on rewrite. */
  private[graft] def legacyTransformsOf(root: String,
      version: Option[Long] = None): Seq[PartTransform] =
    version.orElse(latestVersion(root))
      .map(readManifest(root, _).legacyTransforms).getOrElse(Nil)

  private[graft] def transformsOf(root: String,
      version: Option[Long] = None): Seq[PartTransform] =
    version.orElse(latestVersion(root))
      .map(readManifest(root, _).transforms).getOrElse(Nil)

  /** Read a pruned subset of `version`'s live files (relative paths from
    * [[candidateFilesForBounds]]) under the version's aligned schema,
    * pending deletion vectors applied; an empty subset still
    * yields the right (empty) shape. */
  def readVersionFiles(spark: SparkSession, root: String, version: Long,
      relPaths: Seq[String]): DataFrame =
    if (relPaths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        tableSchema(spark, root, Some(version)))
    else readLive(spark, root, readManifest(root, version), relPaths)

  // external values (Row.get, caller literals) → the integer scale the
  // parquet footer stats use: dates are epoch days (INT32), timestamps
  // epoch micros (INT64) — without these a DateType merge key would
  // MatchError on the driver
  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => t.getTime * 1000L + t.getNanos / 1000 % 1000
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case s: String => s.toLong
    case other => throw new IllegalArgumentException(
      s"unsupported stats comparison value: $other (${other.getClass})")
  }
  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(
      s"unsupported stats comparison value: $other (${other.getClass})")
  }

  // ------------------------------------------------------------ merge

  /** Copy-on-write MERGE (upsert by unique `key`, dbt incremental
    * `unique_key` semantics, M1) with the full lakehouse economics:
    *
    *  - files whose manifest min/max for `key` cannot contain ANY
    *    update key are carried into the new version BY REFERENCE —
    *    zero bytes rewritten, zero bytes copied (a manifest just keeps
    *    the old path). Files without recorded stats are conservatively
    *    rewritten.
    *  - touched files are anti-joined against the updates, unioned
    *    with them, and written as ONE new batch; the new manifest =
    *    untouched entries + new batch.
    *  - the pre-merge version stays readable (time travel) and the
    *    publish is the same create-exclusive CAS commit, so a
    *    concurrent writer cannot silently lose the race.
    *
    * The update key set stays a DISTRIBUTED frame end-to-end: file
    * pruning runs as a key-range aggregate plus a broadcast interval
    * join against the manifest stats ([[partitionFilesByKeys]]) — a
    * backfill-sized update batch never materializes its keys on the
    * driver or builds a giant literal predicate.
    * `updates` is schema-ENFORCED like commit: new columns and type
    * changes are rejected; omitted columns null-fill. Last-write-wins
    * is the caller's contract (one row per key in `updates`).
    *
    * @return the published version
    */
  def mergeUpsert(spark: SparkSession, root: String, updates: DataFrame,
      key: String, statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      cdf: Boolean = false): Long = withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{col => c, lit}
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to merge into"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending deletion " +
      "vector(s); compact to materialize them before a copy-on-write " +
      "merge (its by-reference file carry would resurrect deleted rows)")
    // schema ENFORCEMENT, the same contract commit/commitIfNew apply:
    // new columns and type changes are rejected (a merge whose keys
    // happen to miss every file must NOT silently replace the table
    // schema with the updates frame's); omitted columns null-fill —
    // the parquet-absence contract every read path already honors
    val tableSchemaJson = evolvedSchema(root, updates, "append",
      mergeSchema = false)
    val aligned = alignTo(updates,
      DataType.fromJson(tableSchemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    // null update keys never equi-match an existing row (the anti-join
    // below keeps everything), and footer min/max never cover nulls —
    // they are pure inserts, so they touch no file. The keys frame
    // stays distributed; only per-file hit rows come back.
    val physKey = m.physNames.getOrElse(key, key)
    val (touched, untouched) = partitionFilesByKeys(spark, m.files,
      aligned.select(c(key).as(physKey)), physKey)
    val base0: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(readAligned(spark,
        touched.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames))
    // with cdf the touched files and the key set each feed 2–3 branches
    // (rewrite + preimage; anti + semi joins) — persist them so the
    // merge reads each touched file once, not three times; both are
    // fully consumed by the write actions below, so unpersist is safe
    val base = if (cdf) base0.map(_.persist()) else base0
    val keySet0 = aligned.select(c(key)).distinct()
    val keySet = if (cdf) keySet0.persist() else keySet0
    try {
      val rewritten = base match {
        case None => aligned
        case Some(b) =>
          b.join(keySet, Seq(key), "left_anti").unionByName(aligned)
      }
      // CDF envelopes (Delta's change types): a matched key emits its
      // old row as update_preimage and its new row as update_postimage
      // (even when values are identical — no-op suppression is the
      // caller's concern); an unmatched (or null) key emits insert.
      // Untouched files provably contain no update key, so `base`
      // covers every match.
      val cdfPaths =
        if (!cdf) Nil
        else {
          val matched = base.map(_.select(c(key)).distinct())
          val pre = base.map(b =>
            b.join(keySet, Seq(key), "left_semi")
              .withColumn("_change_type", lit("update_preimage")))
          val post = matched.map(ks =>
            aligned.join(ks, Seq(key), "left_semi")
              .withColumn("_change_type", lit("update_postimage")))
          val ins = matched.map(ks => aligned.join(ks, Seq(key), "left_anti"))
            .getOrElse(aligned)
            .withColumn("_change_type", lit("insert"))
          val all = (pre.toSeq ++ post.toSeq :+ ins)
            .reduce(_ unionByName _)
          writeCdf(spark, root, all)
        }
      // rewritten files inherit the table's recorded stats columns —
      // a merge must not erase the stats the next pruned verb needs
      val effStats = (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
      val (newEntries, _) =
        writeBatch(spark, root, rewritten, effStats, m.partitionBy)
      publishEntries(root, untouched ++ newEntries, latest, "merge",
        schemaJson = tableSchemaJson, cdf = cdfPaths)
    } finally {
      if (cdf) { base.foreach(_.unpersist()); keySet.unpersist() }
    }
  }

  // -------------------------------------------------- general merge

  /** WHEN MATCHED clause of a general [[merge]]: UPDATE (with explicit
    * assignments, or `set = None` for `SET *` — same-named source
    * columns) or DELETE, each optionally guarded by an extra
    * condition. Clause order is ANSI: the FIRST applicable clause
    * wins per row. */
  sealed trait MatchedClause { def cond: Option[Column] }
  final case class MatchedUpdate(cond: Option[Column],
      set: Option[Seq[(String, Column)]]) extends MatchedClause
  final case class MatchedDelete(cond: Option[Column]) extends MatchedClause

  /** WHEN NOT MATCHED clause: INSERT with explicit per-column values
    * (unassigned columns null-fill) or `values = None` for
    * `INSERT *` (same-named source columns). */
  final case class NotMatchedInsert(cond: Option[Column],
      values: Option[Seq[(String, Column)]])

  /** WHEN NOT MATCHED BY SOURCE clause: UPDATE or DELETE applied to
    * target rows no source row matches. */
  sealed trait BySourceClause { def cond: Option[Column] }
  final case class BySourceUpdate(cond: Option[Column],
      set: Seq[(String, Column)]) extends BySourceClause
  final case class BySourceDelete(cond: Option[Column])
      extends BySourceClause

  /** General ANSI MERGE — the full grammar [[mergeUpsert]]'s fast
    * path doesn't cover: composite (and renamed) equi-keys,
    * conditional WHEN clauses, column-level `SET`, multiple clauses
    * per side, and `WHEN NOT MATCHED BY SOURCE`.
    *
    * Semantics (ANSI / Delta): target rows join source rows on the
    * `keys` equi-pairs (target column, source column); per target
    * row the FIRST matched clause whose condition holds applies; per
    * unmatched source row the first not-matched clause that holds
    * inserts; per target row with no source match the first
    * by-source clause that holds applies. A target row matched by
    * MORE THAN ONE source row while update/delete clauses exist is
    * an error (the Delta ambiguity contract), checked distributed —
    * duplicate-keyed sources are detected with one aggregate, never
    * collected.
    *
    * Scale shape: the join is keys-frame FILE-PRUNED like
    * [[mergeUpsert]] (files whose stats exclude every source key
    * carry by reference, zero bytes moved) — EXCEPT when
    * `notMatchedBySource` is non-empty, which by definition can touch
    * every target row, so every file rewrites (inherent to the verb,
    * exactly Delta's cost model). Conditions and assignment
    * right-hand sides reference the target as `t.<col>` and the
    * source as `s.<col>`; RHS evaluate against the PRE-merge row.
    *
    * Cites the reference's keyed-upsert contract (Hudi RECORDKEY +
    * precombine — `pipelines/22-hudi-cdc-storage/spark/jobs/
    * silver_transform.py:101-114`): a two-field merge key with
    * conditional update is exactly this verb.
    *
    * @param keys equi-join pairs as (target column, source column)
    * @return the version containing the result
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MatchedClause] = Nil,
      notMatched: Seq[NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[BySourceClause] = Nil,
      statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      cdf: Boolean = false,
      mergeSchema: Boolean = false): Long = withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{col => c, count, lit, when}
    require(keys.nonEmpty, "merge needs at least one ON key pair")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "merge needs at least one clause")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to merge into"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending " +
      "merge-on-read state; compact to materialize it before a " +
      "copy-on-write merge (its by-reference file carry would resurrect " +
      "deleted rows)")
    val schema0 = tableSchema(spark, root, Some(latest))
    // schema EVOLUTION (Delta's merge autoMerge): with
    // `mergeSchema = true`, source columns absent from the target
    // join the table schema — star actions copy them, explicit SET
    // may target them, existing rows null-fill (carried files align
    // through the manifest schema like ADD COLUMNS); the drop-column
    // tombstone gate applies exactly as it does for addColumns
    val extra: Seq[org.apache.spark.sql.types.StructField] =
      if (!mergeSchema) Nil
      else source.schema.fields.toSeq.filterNot(sf =>
        schema0.fieldNames.exists(_.equalsIgnoreCase(sf.name)))
        .map(_.copy(nullable = true))
    if (extra.nonEmpty) requireAddable(root, m, extra.map(_.name))
    val schema = org.apache.spark.sql.types.StructType(
      schema0.fields.toSeq ++ extra)
    val extraNames = extra.map(f => lc(f.name)).toSet
    // canonicalize key / assignment target names against the declared
    // schema (case-insensitive, like every verb on this surface)
    def canon(n: String): String = schema.fields
      .find(_.name.equalsIgnoreCase(n)).map(_.name).getOrElse(
        throw new IllegalArgumentException(s"unknown target column " +
          s"'$n' — the table schema is ${schema.fieldNames.mkString(", ")}"))
    val keyPairs = keys.map { case (tk, sk) =>
      (canon(tk), sk)
    }
    keyPairs.foreach { case (tk, _) =>
      require(!extraNames(lc(tk)),
        s"MERGE ON key '$tk' is a NEW column under schema evolution — " +
          "keys must already exist on the target")
    }
    val srcCols = source.columns.toSeq
    keyPairs.foreach { case (_, sk) =>
      require(srcCols.exists(_.equalsIgnoreCase(sk)),
        s"unknown source key column '$sk' — the source has " +
          srcCols.mkString(", "))
    }
    // every SET / INSERT target must be a declared column — a typo'd
    // assignment silently keeping the old value would be a data bug —
    // and no clause may assign one column twice (Delta errors; silently
    // taking the first would be order-dependent data corruption),
    // mirroring the updateRows guard
    def checkTargets(set: Seq[(String, Column)], clause: String): Unit = {
      val names = set.map(a => lc(canon(a._1)))
      require(names.distinct.size == names.size,
        s"duplicate $clause assignment targets (case-insensitive): " +
          names.diff(names.distinct).distinct.mkString(", "))
    }
    matched.foreach {
      case MatchedUpdate(_, Some(set)) =>
        checkTargets(set, "MERGE UPDATE SET")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case BySourceUpdate(_, set) =>
        checkTargets(set, "MERGE NOT MATCHED BY SOURCE SET")
      case _ => ()
    }
    notMatched.foreach(_.values.foreach(
      checkTargets(_, "MERGE INSERT")))
    // NOT MATCHED BY SOURCE can touch any target row — no file can be
    // proven unaffected, so the prune degenerates to a full rewrite
    // (the verb's inherent cost model); otherwise files whose stats
    // exclude every source first-key value carry by reference
    val (touched, untouched) =
      if (notMatchedBySource.nonEmpty) (m.files, Nil)
      else {
        val (tk, sk) = keyPairs.head
        val physKey = m.physNames.getOrElse(tk, tk)
        partitionFilesByKeys(spark, m.files,
          source.select(c(sk).as(physKey)), physKey)
      }
    if (touched.isEmpty && notMatched.isEmpty) return latest
    // an INSERT-ONLY merge never modifies an existing row: every file
    // carries by reference (zero rewrites — Delta's insert-only fast
    // path) and the touched set serves ONLY as the pruned anti-probe;
    // duplicate-keyed sources are legal there (each row inserts or
    // not independently), exactly Delta's contract
    val rewriteNeeded = matched.nonEmpty || notMatchedBySource.nonEmpty
    val src = source.persist() // feeds join, ambiguity guard, inserts
    try {
      val base: Option[DataFrame] =
        if (touched.isEmpty) None
        else Some(readAligned(spark,
          touched.map(f => resolve(root, f.path).getPath),
          m.schemaJson, m.physNames)
          // the probe set feeds the ambiguity guard, the rewrite join
          // and the insert anti-probe — read the parquet once
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
      val joinCond = keyPairs.map { case (tk, sk) =>
        c(s"t.$tk") === c(s"s.$sk")
      }.reduce(_ && _)
      // ambiguity guard (whenever existing rows can be REWRITTEN —
      // matched OR by-source clauses; the left-outer rewrite join
      // would silently duplicate a target row matched by two source
      // rows, even if no clause fires for it): one aggregate over the
      // source + one pruned semi-join, no driver-side collection
      if (rewriteNeeded && base.isDefined) {
        val dups = src.groupBy(keyPairs.map(p => c(p._2)): _*)
          .agg(count(lit(1)).as("__n")).filter(c("__n") > 1)
        require(base.get.as("t").join(dups.as("s"), joinCond, "left_semi")
          .limit(1).isEmpty,
          "MERGE: multiple source rows match the same target row " +
            "while UPDATE/DELETE clauses exist — deduplicate the " +
            "source on the ON keys first (the Delta ambiguity contract)")
      }
      // ---- rewrite pass over touched target rows: one left-outer
      // join, one action column (first applicable clause wins), one
      // projection — no per-clause rescans of the base
      val matchedFlag = c("s.__m").isNotNull
      def guard(cond: Option[Column], base: Column): Column =
        cond.map(base && _).getOrElse(base)
      val nMatched = matched.size
      val actionExpr = (matched.zipWithIndex.map { case (cl, i) =>
        guard(cl.cond, matchedFlag) -> lit(i + 1)
      } ++ notMatchedBySource.zipWithIndex.map { case (cl, j) =>
        guard(cl.cond, !matchedFlag) -> lit(nMatched + j + 1)
      }).foldRight(lit(0): Column) { case ((g, v), acc) =>
        when(g, v).otherwise(acc)
      }
      val deleteIdx: Seq[Int] =
        matched.zipWithIndex.collect {
          case (_: MatchedDelete, i) => i + 1 } ++
        notMatchedBySource.zipWithIndex.collect {
          case (_: BySourceDelete, j) => nMatched + j + 1 }
      // per-field update expression: fold the update clauses' whens
      // over the pre-merge value (indices are mutually exclusive);
      // an evolution-added column has no pre-merge value — NULL
      def sCol(name: String): Option[Column] =
        srcCols.find(_.equalsIgnoreCase(name)).map(n => c(s"s.$n"))
      def tBase(f: org.apache.spark.sql.types.StructField): Column =
        if (extraNames(lc(f.name))) lit(null).cast(f.dataType)
        else c(s"t.${f.name}")
      def outField(f: org.apache.spark.sql.types.StructField): Column = {
        val whens: Seq[(Int, Column)] =
          matched.zipWithIndex.collect {
            case (MatchedUpdate(_, Some(set)), i)
                if set.exists(_._1.equalsIgnoreCase(f.name)) =>
              (i + 1) -> set.find(_._1.equalsIgnoreCase(f.name)).get._2
            case (MatchedUpdate(_, None), i)
                if sCol(f.name).isDefined =>
              (i + 1) -> sCol(f.name).get
          } ++
          notMatchedBySource.zipWithIndex.collect {
            case (BySourceUpdate(_, set), j)
                if set.exists(_._1.equalsIgnoreCase(f.name)) =>
              (nMatched + j + 1) ->
                set.find(_._1.equalsIgnoreCase(f.name)).get._2
          }
        whens.foldLeft(tBase(f)) { case (acc, (i, rhs)) =>
          when(c("__action") === i, rhs.cast(f.dataType)).otherwise(acc)
        }.as(f.name)
      }
      val flagged0 =
        if (!rewriteNeeded) None // insert-only: no rewrite join at all
        else base.map(_.as("t")
          .join(src.withColumn("__m", lit(1)).as("s"), joinCond,
            "left_outer")
          .withColumn("__action", actionExpr))
      val flagged = if (cdf) flagged0.map(_.persist()) else flagged0
      try {
        val rewritten = flagged.map { j =>
          val kept = if (deleteIdx.isEmpty) j
            else j.filter(!c("__action").isin(deleteIdx: _*))
          kept.select(schema.fields.toSeq.map(outField): _*)
        }
        // ---- insert pass: source rows with no target match anywhere
        // (untouched files provably hold no source key, so the anti
        // probe reads only touched rows); first applicable clause wins
        val inserts: Option[DataFrame] =
          if (notMatched.isEmpty) None
          else {
            val anti = base match {
              case Some(b) => src.as("s").join(
                b.select(keyPairs.map(p => c(p._1)): _*).as("t"),
                joinCond, "left_anti")
              case None => src.as("s")
            }
            val insAction = notMatched.zipWithIndex
              .foldRight(lit(0): Column) { case ((cl, i), acc) =>
                when(cl.cond.getOrElse(lit(true)), lit(i + 1))
                  .otherwise(acc)
              }
            val tagged = anti.withColumn("__ins", insAction)
              .filter(c("__ins") > 0)
            def insField(i: Int,
                f: org.apache.spark.sql.types.StructField): Column =
              (notMatched(i).values match {
                case Some(vs) => vs.find(_._1.equalsIgnoreCase(f.name))
                  .map(_._2)
                case None => sCol(f.name)
              }).getOrElse(lit(null)).cast(f.dataType).as(f.name)
            Some(notMatched.indices.map { i =>
              tagged.filter(c("__ins") === i + 1)
                .select(schema.fields.toSeq.map(insField(i, _)): _*)
            }.reduce(_ unionByName _))
          }
        val toWrite = (rewritten.toSeq ++ inserts.toSeq)
          .reduceOption(_ unionByName _)
          .getOrElse(return latest)
        val cdfPaths =
          if (!cdf) Nil
          else {
            val updIdx = (1 to nMatched + notMatchedBySource.size)
              .filterNot(deleteIdx.contains)
            def tRow(j: DataFrame) =
              j.select(schema.fields.toSeq.map(f =>
                tBase(f).as(f.name)): _*)
            val parts =
              flagged.toSeq.flatMap { j =>
                (if (updIdx.isEmpty) Nil else {
                  val upd = j.filter(c("__action").isin(updIdx: _*))
                  Seq(
                    tRow(upd).withColumn("_change_type",
                      lit("update_preimage")),
                    upd.select(schema.fields.toSeq.map(outField): _*)
                      .withColumn("_change_type", lit("update_postimage")))
                }) ++ (if (deleteIdx.isEmpty) Nil else Seq(
                  tRow(j.filter(c("__action").isin(deleteIdx: _*)))
                    .withColumn("_change_type", lit("delete"))))
              } ++ inserts.map(
                _.withColumn("_change_type", lit("insert"))).toSeq
            if (parts.isEmpty) Nil
            else writeCdf(spark, root, parts.reduce(_ unionByName _))
          }
        // rewritten files inherit the table's recorded stats columns
        val effStats = (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
        val (newEntries, outSchema) =
          writeBatch(spark, root, toWrite, effStats, m.partitionBy)
        // insert-only merges never rewrote the touched files — they
        // carry by reference alongside the untouched set
        val carried = if (rewriteNeeded) untouched else m.files
        publishEntries(root, carried ++ newEntries, latest, "merge",
          schemaJson = outSchema, cdf = cdfPaths)
      } finally if (cdf) flagged.foreach(_.unpersist())
      } finally base.foreach(_.unpersist())
    } finally src.unpersist()
  }

  // ---------------------------------------------- partition overwrite

  /** Dynamic partition overwrite (the reference Silver pass's
    * `writeTo(...).overwritePartitions()` — pipelines/02-kafka-spark-
    * iceberg/spark/jobs/silver_transform.py:132): partitions PRESENT in
    * `df` are replaced wholesale; every other partition is carried by
    * reference, zero bytes read or written. This is the idempotent-
    * backfill verb: re-running a day's pipeline replaces exactly that
    * day, at O(changed partitions) cost regardless of table size.
    *
    * Mechanics: `df` is written as a partitioned batch (each new file
    * provably holds one partition tuple); a live file whose recorded
    * tuple matches a new tuple is dropped, others are carried. A file
    * whose tuple can't be proven from stats (possible only on tables
    * with a damaged-stats history — every write path here preserves the
    * per-file-tuple invariant) is conservatively rewritten minus the
    * replaced partitions.
    *
    * Schema follows the append rules (enforced, null-fill on omitted
    * columns); the action is "overwrite-partitions", which change feeds
    * refuse (like overwrite — replaced rows aren't row-level changes).
    *
    * @return the new version, or the current one when `df` is empty
    */
  def overwritePartitions(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Long =
    withOccRetry(expectedVersion) {
      import org.apache.spark.sql.functions.{col => c}
      val latest = latestVersion(root).getOrElse(
        throw new IllegalArgumentException(
          s"no versions at $root to overwrite into"))
      expectedVersion.foreach { ev =>
        if (ev != latest) throw new VersionConflictException(
          s"table at $root is at version $latest, expected $ev")
      }
      val m = readManifest(root, latest)
      require(m.partitionBy.nonEmpty, s"table at $root is not " +
        "partitioned — overwritePartitions needs a partitionBy'd table " +
        "(use commit(mode=\"overwrite\") for a full overwrite)")
      require(m.dvs.isEmpty, s"table at $root has pending deletion " +
        "vector(s); compact to materialize them before a partition " +
        "overwrite")
      val tableSchemaJson = evolvedSchema(root, df, "append",
        mergeSchema = false)
      val aligned = alignTo(df,
        DataType.fromJson(tableSchemaJson).asInstanceOf[StructType])
      val (newEntries, _) =
        writeBatch(spark, root, aligned, statsCols, m.partitionBy)
      if (newEntries.isEmpty) latest // empty frame: nothing to replace
      else {
        // writeBatch guarantees every new file is single-tuple, so the
        // flatMap is total; old files classify by their recorded tuple
        val newTuples = newEntries
          .flatMap(partitionTuple(_, m.partitionBy)).toSet
        val (replaced, carried) = m.files.partition(f =>
          partitionTuple(f, m.partitionBy) match {
            case Some(t) => newTuples.contains(t)
            case None => true // unproven tuple: rewrite its remainder
          })
        val mixed = replaced.filter(f =>
          partitionTuple(f, m.partitionBy).isEmpty)
        val rescued =
          if (mixed.isEmpty) Nil
          else {
            val base = readAligned(spark,
              mixed.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames)
            // a tuple-unproven file is usually an OLD-GENERATION file
            // after partition-spec evolution: derive the CURRENT
            // spec's hidden columns on both sides so the anti-join
            // keys resolve, then drop them — writeBatch re-derives
            import org.apache.spark.sql.functions.expr
            def derived(df0: DataFrame): DataFrame =
              m.transforms.foldLeft(df0)((d, t) =>
                d.withColumn(t.hidden,
                  expr(t.sql(t.srcTypeIn(d.schema)))))
            val kept = derived(base).join(
              derived(aligned).select(m.partitionBy.map(c): _*)
                .distinct(),
              m.partitionBy, "left_anti")
              .drop(m.transforms.map(_.hidden): _*)
            writeBatch(spark, root, kept, statsCols, m.partitionBy)._1
          }
        publishEntries(root, carried ++ rescued ++ newEntries, latest,
          "overwrite-partitions", schemaJson = tableSchemaJson,
          partitionBy = Some(m.partitionBy))
      }
    }

  // ------------------------------------------------------------ delete

  /** Copy-on-write DELETE (the third lakehouse DML verb, after append
    * and merge): remove every row satisfying `cond`, rewriting ONLY the
    * files whose manifest min/max stats could possibly contain a
    * matching row — the file-skipping derivation Delta's
    * DataSkippingReader does, applied to the delete predicate itself:
    *
    *  - `cond` is interval-analyzed against each file's recorded stats
    *    (=, <, <=, >, >=, IN, AND, OR over stats columns vs literals;
    *    anything else is conservatively "may match"). Files that
    *    provably contain no matching row are carried into the new
    *    version BY REFERENCE — zero bytes read or written.
    *  - touched files are rewritten keeping rows where `cond` is NOT
    *    true — SQL DELETE semantics: a NULL predicate does not delete,
    *    so null-keyed rows survive (`!coalesce(cond, false)`).
    *  - if NO file can match, this is a no-op: no new version is
    *    published and the current version is returned unchanged.
    *  - the pre-delete snapshot stays time-travelable until vacuum
    *    (which is also what makes this GDPR-shaped only after vacuum:
    *    physical erasure happens when the old versions are dropped).
    *
    * @return the version containing the result (a new version, or the
    *         current one when the predicate provably matches nothing)
    */
  def delete(spark: SparkSession, root: String, cond: Column,
      statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      cdf: Boolean = false): Long = withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to delete from"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending deletion " +
      "vector(s); compact to materialize them before a copy-on-write " +
      "delete (its by-reference file carry would resurrect deleted rows)")
    val condExpr = resolvedPredicate(spark, root, cond)
    val (touched, untouched) =
      {
      val statsExpr = physForStats(condExpr, m.physNames)
      m.files.partition(f => mayMatch(f, statsExpr))
    }
    if (touched.isEmpty) latest
    else {
      val base = readAligned(spark,
        touched.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames)
      val kept = base.filter(not(coalesce(cond, lit(false))))
      val cdfPaths =
        if (!cdf) Nil
        else writeCdf(spark, root, base.filter(coalesce(cond, lit(false)))
          .withColumn("_change_type", lit("delete")))
      // rewritten files inherit the table's recorded stats columns —
      // a delete must not erase the stats the next pruned verb needs
      val effStats = (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
      val (newEntries, schema) =
        writeBatch(spark, root, kept, effStats, m.partitionBy)
      publishEntries(root, untouched ++ newEntries, latest, "delete",
        schemaJson = schema, cdf = cdfPaths)
    }
  }

  /** Copy-on-write UPDATE (the SQL `UPDATE … SET … WHERE …` verb):
    * apply `assignments` (column → new-value expression) to every row
    * satisfying `cond`, with [[delete]]'s exact scale shape — `cond`
    * interval-analyzes against manifest stats, provably-unaffected
    * files carry by reference (zero bytes moved), only may-match
    * files rewrite. SQL UPDATE semantics throughout: every
    * right-hand side evaluates against the PRE-update row (so
    * `SET a = b, b = a` swaps), assigned values cast to the column's
    * declared type (an UPDATE never changes the table schema), and a
    * NULL predicate updates nothing. CHECK constraints evaluate in
    * the write job like any write. With `cdf = true` the commit
    * records update_preimage/update_postimage envelopes for every
    * updated row ([[changeFeed]] replays them).
    *
    * @return the version containing the result (a new version, or the
    *         current one when the predicate provably matches nothing)
    */
  def updateRows(spark: SparkSession, root: String,
      assignments: Seq[(String, Column)], cond: Column,
      statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      cdf: Boolean = false): Long = withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{coalesce, col => c, lit, when}
    require(assignments.nonEmpty, "updateRows needs at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "duplicate UPDATE assignment targets: " +
        assignments.map(_._1).diff(assignments.map(_._1).distinct).mkString(", "))
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to update"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending deletion " +
      "vector(s); compact to materialize them before a copy-on-write " +
      "update (its by-reference file carry would resurrect deleted rows)")
    val schema = tableSchema(spark, root, Some(latest))
    // assignment targets resolve case-insensitively, like every other
    // verb on this surface (rename/widen/drop/INSERT canon): the
    // declared casing wins so the projection map below hits
    val canonAsg = assignments.map { case (n, v) =>
      schema.fields.find(_.name.equalsIgnoreCase(n))
        .map(_.name).getOrElse(n) -> v
    }
    val unknown = canonAsg.map(_._1)
      .filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE assigns unknown column(s) " +
      s"${unknown.mkString(", ")} — the table schema is " +
      schema.fieldNames.mkString(", "))
    require(canonAsg.map(_._1).distinct.size == canonAsg.size,
      "duplicate UPDATE assignment targets (case-insensitive): " +
        canonAsg.map(_._1).diff(canonAsg.map(_._1).distinct).mkString(", "))
    val condExpr = resolvedPredicate(spark, root, cond)
    val (touched, untouched) =
      {
      val statsExpr = physForStats(condExpr, m.physNames)
      m.files.partition(f => mayMatch(f, statsExpr))
    }
    if (touched.isEmpty) latest
    else {
      val base0 = readAligned(spark,
        touched.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames)
      val base = if (cdf) base0.persist() else base0
      try {
        val asg = canonAsg.toMap
        // the hit flag is computed against the PRE-update row ONCE,
        // then ONE projection rewrites all assigned columns — no
        // sequential withColumn chain where a later RHS would see an
        // earlier assignment's value
        val flagged = base.withColumn("__hit", coalesce(cond, lit(false)))
        def project(df: DataFrame): DataFrame =
          df.select(schema.fields.toSeq.map { f =>
            asg.get(f.name) match {
              case Some(v) =>
                when(c("__hit"), v.cast(f.dataType))
                  .otherwise(c(f.name)).as(f.name)
              case None => c(f.name)
            }
          }: _*)
        val cdfPaths =
          if (!cdf) Nil
          else {
            val hits = flagged.filter(c("__hit"))
            writeCdf(spark, root,
              hits.drop("__hit")
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(project(hits)
                  .withColumn("_change_type", lit("update_postimage"))))
          }
        // rewritten files INHERIT the table's recorded stats columns
        // (plus any extra requested): an UPDATE must not erase the
        // very stats the next pruned verb skips files by
        val effStats = (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
        val (newEntries, outSchema) =
          writeBatch(spark, root, project(flagged), effStats, m.partitionBy)
        publishEntries(root, untouched ++ newEntries, latest, "update",
          schemaJson = outSchema, cdf = cdfPaths)
      } finally if (cdf) base.unpersist()
    }
  }

  /** Atomic predicate-scoped overwrite (Delta's `replaceWhere`): ONE
    * commit that removes every row matching `cond` and inserts `df` in
    * its place — the idempotent-backfill verb ("recompute region X and
    * swap it in") that a delete-then-append pair cannot provide,
    * because readers between the two commits would see the region
    * missing and a crash between them loses it.
    *
    * Scale shape, exactly [[delete]]'s: `cond` interval-analyzes
    * against manifest stats, provably-unaffected files carry by
    * reference (zero bytes moved), only may-match files rewrite. The
    * replacement frame must itself satisfy `cond` (enforced in the
    * write job — Delta's contract: data landing outside the replaced
    * region would silently widen the overwrite), and CHECK constraints
    * apply as on any write. */
  def replaceWhere(spark: SparkSession, root: String, cond: Column,
      df: DataFrame, statsCols: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Long =
    withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{assert_true, coalesce, isnull,
      lit, not}
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to replace"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    require(m.dvs.isEmpty, s"table at $root has pending " +
      "merge-on-read state; compact to materialize it before replaceWhere " +
      "(its by-reference file carry would resurrect deleted rows)")
    val schema = evolvedSchema(root, df, "append", mergeSchema = false)
    // rows outside the replaced region are a contract violation, not a
    // silent widen — checked in the same job that writes them
    val fenced = alignTo(df, org.apache.spark.sql.types.DataType
        .fromJson(schema).asInstanceOf[org.apache.spark.sql.types.StructType])
      .filter(isnull(assert_true(coalesce(cond, lit(false)),
        lit(s"replaceWhere: replacement row does not satisfy the predicate"))))
    val condExpr = resolvedPredicate(spark, root, cond)
    val (touched, untouched) =
      {
      val statsExpr = physForStats(condExpr, m.physNames)
      m.files.partition(f => mayMatch(f, statsExpr))
    }
    val survivors =
      if (touched.isEmpty) None
      else Some(readAligned(spark,
          touched.map(f => resolve(root, f.path).getPath), m.schemaJson, m.physNames)
        .filter(not(coalesce(cond, lit(false)))))
    val toWrite = survivors.map(_.unionByName(fenced, allowMissingColumns = true))
      .getOrElse(fenced)
    // rewritten files inherit the table's recorded stats columns
    val effStats = (statsCols ++ m.files.flatMap(_.stats.keys)).distinct
    val (newEntries, outSchema) =
      writeBatch(spark, root, toWrite, effStats, m.partitionBy)
    publishEntries(root, untouched ++ newEntries, latest, "replace",
      schemaJson = outSchema)
  }

  /** SQL DML entry point — MERGE INTO / UPDATE / DELETE / ALTER TABLE
    * ADD|DROP CONSTRAINT against versioned-table paths, parsed with
    * Spark's own parser and dispatched onto the verbs above; see
    * [[VersionedSql]] for the supported forms. */
  def sql(spark: SparkSession, stmt: String, cdf: Boolean = false): DataFrame =
    VersionedSql(spark, stmt, cdf)

  /** CHECK constraints currently in force (name → SQL predicate). */
  def constraintsOf(root: String): Map[String, String] =
    latestVersion(root).map(readManifest(root, _).constraints)
      .getOrElse(Map.empty)

  /** Add a CHECK constraint (Delta's `ALTER TABLE … ADD CONSTRAINT`):
    * one full validation scan proves EXISTING rows satisfy `cond`
    * (SQL CHECK semantics — NULL passes), then a metadata-only commit
    * publishes it; every later write evaluates it in the write job and
    * aborts on the first violating row. The constraint is a table
    * property: it survives appends, overwrites, restore, and rides
    * into shallow clones. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      cond: String): Long = withOccRetry(None) {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    require(!m.constraints.contains(name),
      s"constraint '$name' already exists on $root")
    val bad = read(spark, root)
      .filter(not(coalesce(expr(cond), lit(true)))).count()
    require(bad == 0L, s"cannot add CHECK constraint '$name' ($cond): " +
      s"$bad existing row(s) violate it")
    publishEntries(root, m.files, latest, "constraint",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      carryFrom = Some(latest),
      constraints = Some(m.constraints + (name -> cond)))
  }

  /** ALTER TABLE ADD COLUMNS — METADATA-ONLY (the Delta semantics: no
    * data file is read, written, or moved at any table size): the
    * commit carries the parent's file set by reference under an
    * EXTENDED schema. Every read path already null-fills columns a
    * file lacks (the parquet-absence contract `alignTo` enforces), so
    * existing rows surface the new columns as NULL; time travel to
    * pre-change versions shows the old schema (evolution is versioned
    * too). New columns must be nullable — existing rows have no value
    * to give them. The action is "schema": zero row delta, skipped
    * losslessly by both change feeds (like constraint commits). */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long =
    withOccRetry(None) {
      require(cols.nonEmpty, "addColumns needs at least one column")
      val latest = latestVersion(root).getOrElse(
        throw new IllegalArgumentException(s"no versions at $root"))
      val m = readManifest(root, latest)
      val schema = tableSchema(spark, root, Some(latest))
      val dup = cols.map(_.name)
        .filter(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(dup.isEmpty,
        s"column(s) ${dup.mkString(", ")} already exist on $root")
      require(cols.forall(_.nullable),
        "added columns must be nullable — existing rows null-fill them")
      requireAddable(root, m, cols.map(_.name))
      val cleared = m.dropped --
        cols.map(_.name.toLowerCase(java.util.Locale.ROOT))
      val extended = org.apache.spark.sql.types.StructType(
        schema.fields ++ cols)
      publishEntries(root, m.files, latest, "schema",
        schemaJson = extended.json, dvs = m.dvs,
        carryFrom = Some(latest),
        constraints = Some(m.constraints), dropped = Some(cleared))
    }

  /** A CHECK constraint the manifest must keep evaluating that
    * references a dropped or renamed column would break every future
    * write: reject, pointing at the verb that removes the obligation.
    * `cols` are lowercased. */
  private def requirePredsFree(spark: SparkSession, m: Manifest,
      cols: Set[String]): Unit = {
    def refs(pred: String): Set[String] =
      spark.sessionState.sqlParser.parseExpression(pred).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          lc(a.nameParts.last)
      }.toSet
    m.constraints.foreach { case (cn, pred) =>
      val hit = refs(pred).intersect(cols)
      require(hit.isEmpty,
        s"CHECK constraint '$cn' references ${hit.mkString(", ")} — " +
          "drop the constraint first")
    }
  }

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY at any table size, via
    * COLUMN MAPPING (Delta's column-mapping mode, Iceberg's field-ID
    * indirection): a column's PHYSICAL parquet name is fixed at
    * creation and never changes, so a rename is one manifest commit
    * that updates only the logical→physical map. Readers project files
    * under physical names and alias back; writers alias logical →
    * physical at the write edge; file stats stay keyed physical, so
    * stats recorded before the rename keep pruning after it. Time
    * travel shows each version's own logical name. [[compact]]
    * rewrites every file under the current logical names and clears
    * the mapping (canonicalization).
    *
    * Rejected loudly (same reasons as [[dropColumns]]): partition
    * columns, and columns referenced by a CHECK constraint — it names
    * the column by its logical text and would silently stop
    * resolving. */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val schema = tableSchema(spark, root, Some(latest))
    val field = schema.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"column '$from' does not exist on $root " +
          s"(have: ${schema.fieldNames.mkString(", ")})"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists on $root")
    require(!m.partitionBy.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column '$from' — the table layout is " +
        "derived from it (re-layout via overwrite first)")
    requirePredsFree(spark, m, Set(lc(field.name)))
    val physical = m.physNames.getOrElse(field.name, field.name)
    val renamed = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == field.name) f.copy(name = to) else f))
    // renaming BACK to the physical name restores identity — the
    // mapping entry (and with it the format bump) retires
    val base = m.physNames - field.name
    val newMap =
      if (physical.equalsIgnoreCase(to)) base else base + (to -> physical)
    // a hidden partition transform follows its renamed SOURCE: the
    // derivation is by LOGICAL name (evaluated pre-mapping on every
    // write), so the spec updates in the same commit — the hidden
    // column (and every file's stats key) is untouched
    val newTx = m.transforms.map(t =>
      if (t.src.equalsIgnoreCase(field.name)) t.copy(src = to) else t)
    // legacy (pre-evolution) transforms follow the rename identically:
    // their prune derivation also reads the logical source name
    val newLegacy = m.legacyTransforms.map(t =>
      if (t.src.equalsIgnoreCase(field.name)) t.copy(src = to) else t)
    // ANALYZE column stats follow the rename too (logical-name keyed)
    val reKeyedStats = m.props.get(ColStatsKey).map { j =>
      val cs = parseColStats(j)
      cs.get(lc(field.name))
        .map(st => cs - lc(field.name) + (lc(to) -> st))
        .getOrElse(cs)
    }.map(cs => Map(ColStatsKey -> renderColStats(cs)))
      .getOrElse(Map.empty[String, String])
    publishEntries(root, m.files, latest, "schema",
      schemaJson = renamed.json, dvs = m.dvs,
      carryFrom = Some(latest), constraints = Some(m.constraints),
      physNames = Some(newMap), transforms = Some(newTx),
      legacyTransforms = Some(newLegacy),
      props = reKeyedStats)
  }

  /** ALTER COLUMN … TYPE — METADATA-ONLY type WIDENING (Delta 3.x's
    * type-widening feature): the commit carries the parent's files by
    * reference under a schema whose column type is WIDER. Sound
    * because Spark's parquet reader up-converts a narrower physical
    * type to the declared wider read type (probe-spec'd:
    * byte/short/int → wider integral, int → double, float → double),
    * so files written before the widening read back exactly; files
    * written after carry the wide type natively. Only LOSSLESS
    * widenings on that reader-supported list are accepted — anything
    * else (narrowing, long → double's precision loss, string casts)
    * needs an explicit rewrite via overwrite. Appends after the
    * widening must supply the wide type (schema enforcement is
    * unchanged — SQL INSERT up-casts literals automatically).
    * Composes with column mapping (the physical name is untouched);
    * change feeds replay old appends under the widened type, and the
    * old files' integer-typed stats keep pruning (comparisons stay
    * conservative across the type tags). */
  def widenColumn(spark: SparkSession, root: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = withOccRetry(None) {
    import org.apache.spark.sql.types._
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val schema = tableSchema(spark, root, Some(latest))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' does not exist on $root " +
          s"(have: ${schema.fieldNames.mkString(", ")})"))
    // partition columns carry their identity in the per-file stats
    // TYPE TAG ('long' vs 'double'): widening int -> double would make
    // pre-widen files' partition tuples ('long','5') never compare
    // equal to post-widen tuples ('double','5.0'), so a later
    // overwritePartitions would classify old files as carried instead
    // of replaced and silently duplicate rows — same guard class as
    // rename/drop of partition columns
    require(!m.partitionBy.exists(_.equalsIgnoreCase(field.name)),
      s"cannot widen partition column '${field.name}' — the table " +
        "layout (and per-file partition-tuple stats) is derived from " +
        "it; re-layout via overwrite first")
    // bucket hashing is TYPE-SENSITIVE (murmur3 of 4 vs 8 bytes):
    // widening a bucket source would route the same logical value to
    // a DIFFERENT bucket on post-widen writes — silent mis-pruning
    // and false SPJ alignment against pre-widen files
    val txWiden = m.transforms.filter(t =>
      t.src.equalsIgnoreCase(field.name))
    require(txWiden.isEmpty,
      s"cannot widen '${field.name}' — partition transform(s) " +
        s"${txWiden.map(_.show).mkString(", ")} derive from it and " +
        "the derivation is type-sensitive; re-layout via overwrite " +
        "first")
    // a LEGACY transform on the widened column only powers pruning —
    // dropping it is sound (old-generation files just stop bucket-
    // pruning; scans stay exact), so the widen proceeds
    val legacyKept = m.legacyTransforms.filterNot(
      _.src.equalsIgnoreCase(field.name))
    val widenable: Boolean = (field.dataType, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(widenable,
      s"cannot widen ${field.dataType.simpleString} to ${to.simpleString}" +
        " — supported (lossless, parquet-reader-verified): byte/short/" +
        "int -> wider integral, int -> double, float -> double; " +
        "anything else requires a rewrite (overwrite)")
    val widened = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == field.name) f.copy(dataType = to) else f))
    publishEntries(root, m.files, latest, "schema",
      schemaJson = widened.json, dvs = m.dvs,
      carryFrom = Some(latest), constraints = Some(m.constraints),
      legacyTransforms = Some(legacyKept))
  }

  /** The stale-resurrection gates every column ADDITION must pass —
    * explicit [[addColumns]] and mergeSchema appends alike. A new
    * column's PHYSICAL storage name is its own name, so: (1) re-ADD
    * after DROP — a live file that predates the drop may still
    * physically carry the name, and reading it under a schema that
    * names the column again would resurrect the stale values (parquet
    * resolves by name). Files written AFTER the drop aligned to a
    * schema without the column, so live ∩ live-at-drop = ∅ proves the
    * name is physically gone. (2) a name that is the physical storage
    * name of a RENAMED live column would make two logical columns
    * share one parquet column. */
  private def requireAddable(root: String, m: Manifest,
      names: Seq[String]): Unit = {
    val physInUse = m.physNames.map { case (l, p) => lc(p) -> l }
    val live = m.files.map(_.path).toSet
    names.foreach { n0 =>
      val n = lc(n0)
      physInUse.get(n).foreach { logical =>
        throw new IllegalArgumentException(
          s"column name '$n0' is the physical storage name of column " +
            s"'$logical' (renamed) — OPTIMIZE normalizes physical " +
            "names, then re-add")
      }
      m.dropped.get(n).foreach { dv =>
        require(manifestFile(root, dv).isFile,
          s"column '$n0' was dropped at a version whose manifest is " +
            "no longer retained — cannot prove no live file still " +
            "carries it; OPTIMIZE (full rewrite) clears the " +
            "tombstone, then re-add")
        val hazard =
          readManifest(root, dv).files.count(f => live(f.path))
        require(hazard == 0,
          s"column '$n0' was dropped at v$dv and $hazard live " +
            "file(s) predate the drop (they may still physically " +
            "carry it — re-adding would resurrect stale values); " +
            "OPTIMIZE rewrites them under the current schema, " +
            "then re-add")
      }
    }
  }

  /** ALTER TABLE DROP COLUMNS — METADATA-ONLY, the mirror of
    * [[addColumns]]: the commit carries the parent's file set by
    * reference under a NARROWED schema. No data file is read, written,
    * or moved at any table size — readers resolve parquet columns
    * through the manifest schema, so a physically-present-but-dropped
    * column is simply never projected. Time travel to pre-drop
    * versions still shows (and reads) the column.
    *
    * The drop records a TOMBSTONE (name → this version): re-adding the
    * same name is rejected until every file that was live at the drop
    * has been rewritten (see [[addColumns]]), because such files still
    * physically carry the old values. OPTIMIZE clears the hazard
    * naturally; [[publishEntries]] removes the tombstone the moment
    * the last pre-drop file is retired.
    *
    * Rejected loudly: partition columns (the layout is derived from
    * them), and columns referenced by a CHECK constraint (drop the
    * constraint first) — it would make an existing manifest
    * obligation unevaluable. */
  def dropColumns(spark: SparkSession, root: String,
      names: Seq[String]): Long = withOccRetry(None) {
    require(names.nonEmpty, "dropColumns needs at least one column")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val schema = tableSchema(spark, root, Some(latest))
    val missing = names.filterNot(n =>
      schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty,
      s"column(s) ${missing.mkString(", ")} do not exist on $root " +
        s"(have: ${schema.fieldNames.mkString(", ")})")
    val dropSet = names.map(lc).toSet
    require(schema.fields.count(f => !dropSet(lc(f.name))) > 0,
      s"cannot drop every column of $root")
    val partHit = m.partitionBy.filter(p => dropSet(lc(p)))
    require(partHit.isEmpty,
      s"cannot drop partition column(s) ${partHit.mkString(", ")} — " +
        "the table layout is derived from them (re-layout via " +
        "overwrite first)")
    val txHit = m.transforms.filter(t => dropSet(lc(t.src)))
    require(txHit.isEmpty,
      s"cannot drop column(s) ${txHit.map(_.src).mkString(", ")} — " +
        s"partition transform(s) ${txHit.map(_.show).mkString(", ")} " +
        "derive from them (re-layout via overwrite first)")
    requirePredsFree(spark, m, dropSet)
    val narrowed = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => dropSet(lc(f.name))))
    // tombstones record the PHYSICAL storage name (what the files
    // actually carry — for a renamed column that differs from the
    // logical name being dropped); its mapping entry retires with it
    val droppedFields = schema.fields.filter(f => dropSet(lc(f.name)))
    val physTombs = droppedFields.map(f =>
      lc(m.physNames.getOrElse(f.name, f.name)) -> latest)
    // a dropped column's ANALYZE stats go with it
    val trimmedStats = m.props.get(ColStatsKey).map(parseColStats)
      .map(cs => Map(ColStatsKey -> renderColStats(cs -- dropSet)))
      .getOrElse(Map.empty[String, String])
    publishEntries(root, m.files, latest, "schema",
      schemaJson = narrowed.json, dvs = m.dvs,
      carryFrom = Some(latest),
      constraints = Some(m.constraints),
      // the hazard set is the live set at THIS commit's parent — the
      // drop itself is file-identical, so `latest` names it exactly
      dropped = Some(m.dropped ++ physTombs),
      physNames = Some(m.physNames -- droppedFields.map(_.name)),
      // a legacy transform on a dropped source only powered pruning —
      // it goes with the column (old-generation scans stay exact)
      legacyTransforms = Some(
        m.legacyTransforms.filterNot(t => dropSet(lc(t.src)))),
      props = trimmedStats)
  }

  /** Drop a CHECK constraint — metadata-only, needs no SparkSession. */
  def dropConstraint(root: String, name: String): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    require(m.constraints.contains(name),
      s"no constraint '$name' on $root (have: ${m.constraints.keys.mkString(", ")})")
    publishEntries(root, m.files, latest, "constraint",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      carryFrom = Some(latest),
      constraints = Some(m.constraints - name))
  }

  /** Merge-on-read DELETE — the Delta/Iceberg deletion-vector
    * mechanism: evaluate `cond` ONCE at delete time, record the
    * matching (file, row_index) positions in the manifest, touch no
    * data file. Reads pay an integer anti-join, never a per-row
    * predicate re-evaluation; the deleted set is FROZEN at delete time
    * (a later row that would now match the predicate is unaffected —
    * exact row semantics), and conditions that aren't
    * SQL-round-trippable (e.g. derived from a driver-side sample)
    * work, because only their RESULT is stored.
    *
    * Scale shape: the matching scan is stats-pruned to candidate
    * files (read under the table schema — a schema-evolved table's
    * older files align like every other read path) and carries only
    * the (file, position) key; already-vectored positions are removed
    * by a DISTRIBUTED anti-join. Deletes of ≤ `inlineThreshold` total
    * positions inline them in the manifest via a per-file grouped
    * collect (bounded by file count, never rows); anything wider is
    * written BY EXECUTORS as parquet position sidecars and the
    * manifest records only their paths — a GDPR-scale 10⁸-row delete
    * never materializes a position on the driver. Reads of
    * un-vectored files are untouched; vectored files pay one keyed
    * anti-join on (file, row_index).
    *
    * Coexists with appends/streaming/restore/time travel (vectors ride
    * the manifest, scoped to their immutable files); `compact`/
    * `optimize`/`zorder`/overwrite materialize and clear them.
    * Copy-on-write merge/delete refuse while vectors are pending (the
    * by-reference carry would resurrect rows).
    * SQL DELETE null semantics: cond=NULL rows are kept. */
  def deleteRows(spark: SparkSession, root: String, cond: Column,
      expectedVersion: Option[Long] = None,
      inlineThreshold: Int = 4096): Long =
    withOccRetry(expectedVersion) {
    import org.apache.spark.sql.functions.{coalesce, collect_list, count,
      lit, sort_array}
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root to delete from"))
    expectedVersion.foreach { ev =>
      if (ev != latest) throw new VersionConflictException(
        s"table at $root is at version $latest, expected $ev")
    }
    val m = readManifest(root, latest)
    val condExpr = resolvedPredicate(spark, root, cond)
    val statsExpr = physForStats(condExpr, m.physNames)
    val candidates = m.files.filter(f => mayMatch(f, statsExpr)).map(_.path)
    if (candidates.isEmpty) return latest
    // one stats-pruned scan: the (file, position) key of every matching
    // row, minus positions already vectored (logically gone — only
    // TRULY new positions justify a version); both sides distributed
    val fresh = readWithPositions(spark, root, candidates, m.schemaJson, m.physNames)
      .filter(coalesce(cond, lit(false)))
      .select("__vfile", "__vpos")
      .join(dvPositions(spark, root, m.dvs),
        Seq("__vfile", "__vpos"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one row per touched file — bounded by candidate file count
      val perFile = fresh.groupBy("__vfile").agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perFile.isEmpty) return latest
      val dvByFile = m.dvs.map(d => d.file -> d).toMap
      val mergedDvs: Seq[DvEntry] =
        if (perFile.values.sum <= inlineThreshold) {
          // small delete: inline, via a per-file GROUPED collect (one
          // row per file with its position list, never per-row rows)
          val grouped = fresh.groupBy("__vfile")
            .agg(sort_array(collect_list("__vpos")).as("__ps"))
            .collect()
            .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
          (dvByFile.keySet ++ grouped.keySet).toSeq.sorted.map { f =>
            val prev = dvByFile.get(f)
            // sidecar set unchanged → the sidecar-row count carries
            DvEntry(f,
              ((prev.map(_.positions).getOrElse(Nil)) ++
                grouped.getOrElse(f, Nil)).sorted,
              prev.map(_.sidecars).getOrElse(Nil),
              prev.map(_.scRows).getOrElse(Some(0L)))
          }
        } else {
          // wide delete: executors write the position sidecars; the
          // driver sees only per-file counts and the sidecar paths
          val dvDir = new File(new File(root, "dv"),
            java.util.UUID.randomUUID().toString)
          fresh
            .repartition(math.max(1, math.min(32, perFile.size)),
              org.apache.spark.sql.functions.col("__vfile"))
            .sortWithinPartitions("__vfile", "__vpos")
            .select(org.apache.spark.sql.functions.col("__vfile").as("file"),
              org.apache.spark.sql.functions.col("__vpos").as("pos"))
            .write.parquet(dvDir.getPath)
          val rootPath = Paths.get(root).toAbsolutePath.normalize()
          val parts = dvDir.listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .map(f => rootPath.relativize(
              f.toPath.toAbsolutePath.normalize()).toString).toSeq
          (dvByFile.keySet ++ perFile.keySet).toSeq.sorted.map { f =>
            val prev = dvByFile.get(f)
            // perFile IS this commit's exact sidecar cardinality for f
            // (the fresh positions all spilled); sums stay exact while
            // every prior count was known
            DvEntry(f, prev.map(_.positions).getOrElse(Nil),
              prev.map(_.sidecars).getOrElse(Nil) ++
                (if (perFile.contains(f)) parts else Nil),
              prev.map(_.scRows).getOrElse(Some(0L))
                .map(_ + perFile.getOrElse(f, 0L)))
          }
        }
      publishEntries(root, m.files, latest, "dv-delete",
        schemaJson = m.schemaJson.orNull, dvs = mergedDvs)
    } finally fresh.unpersist()
  }

  // --------------------------------------- predicate interval analysis

  /** The ANALYZED Catalyst form of `cond` against this table's schema.
    * Spark 4's Column DSL carries a ColumnNode tree (`UnresolvedFunction
    * ("and", …)`), not Catalyst operators — running the predicate
    * through the analyzer on a zero-row frame with the table's schema
    * yields typed `And`/comparison nodes with `AttributeReference`
    * children (and fails fast, at delete time, on columns the table
    * doesn't have). The probe frame is empty: nothing is scanned. */
  private def resolvedPredicate(spark: SparkSession, root: String,
      cond: Column): Expression = {
    val probe = emptyLike(spark, root).filter(cond)
    org.apache.spark.sql.GraftShims.analyzed(probe)
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }
      .getOrElse(Literal(true)) // analyzer elided the filter → no skip
  }

  /** COLUMN MAPPING stats edge: [[mayMatch]] consults file stats keyed
    * by PHYSICAL name, so attribute references translate through the
    * manifest's mapping RIGHT AT the probe — never earlier: the
    * logical expression is what round-trips into stored predicates
    * (CHECK constraints) and row filters, and a physically-rewritten
    * predicate there would resolve against the wrong (or no) column. */
  private def physForStats(e: Expression,
      phys: Map[String, String]): Expression =
    if (phys.isEmpty) e
    else e.transform {
      case a: AttributeReference if phys.contains(a.name) =>
        a.withName(phys(a.name))
    }

  /** Can a row of a file with these stats satisfy `e`? Conservative:
    * anything the analysis doesn't understand answers true (the file is
    * then rewritten, never wrongly skipped). Three-valued-logic safe:
    * "true" here means "may be TRUE for some row" — NULL outcomes never
    * delete, and stats never cover nulls, so treating unknown as
    * may-match errs only toward extra rewrites. */
  private def mayMatch(f: FileEntry, e: Expression): Boolean = {
    val stats = f.stats
    e match {
      case CatAnd(a, b) => mayMatch(f, a) && mayMatch(f, b)
      case CatOr(a, b) => mayMatch(f, a) || mayMatch(f, b)
      case EqualTo(l, r) => cmpMayMatch(stats, l, r, "=")
      case EqualNullSafe(l, r) => cmpMayMatch(stats, l, r, "=")
      case LessThan(l, r) => cmpMayMatch(stats, l, r, "<")
      case LessThanOrEqual(l, r) => cmpMayMatch(stats, l, r, "<=")
      case GreaterThan(l, r) => cmpMayMatch(stats, l, r, ">")
      case GreaterThanOrEqual(l, r) => cmpMayMatch(stats, l, r, ">=")
      case In(a, list) if list.forall(_.foldable) =>
        list.exists(v => cmpMayMatch(stats, a, v, "="))
      // null-count pruning (Delta's nullCount stats): IS NULL can't
      // match a file with zero recorded nulls; IS NOT NULL can't match
      // an all-null file. Unrecorded column → conservative.
      case IsNull(a) => attrName(a) match {
        case Some(n) => f.nulls.get(n).forall(_ > 0L)
        case None => true
      }
      case IsNotNull(a) => attrName(a) match {
        case Some(n) => f.nulls.get(n).forall(_ < f.rows)
        case None => true
      }
      case _ => true
    }
  }

  /** One comparison leaf, attribute-vs-literal either way round. */
  private def cmpMayMatch(stats: Map[String, (String, String, String)],
      l: Expression, r: Expression, op: String): Boolean = {
    val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=",
      ">" -> "<", ">=" -> "<=")
    (attrName(l), litValue(r)) match {
      case (Some(n), Some(v)) => rangeMayMatch(stats, n, op, v)
      case _ => (attrName(r), litValue(l)) match {
        case (Some(n), Some(v)) => rangeMayMatch(stats, n, flipped(op), v)
        case _ => true // not a recognizable attr-vs-literal leaf
      }
    }
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  /** External Scala value of a constant expression — the analyzer wraps
    * comparison literals in type-coercion Casts, so any foldable node
    * is evaluated, not just bare Literals. None for null (a null
    * comparison is never TRUE, but stats don't cover nulls — callers
    * treat None as unanalyzable and stay conservative). */
  private def litValue(e: Expression): Option[Any] = {
    val v = e match {
      case Literal(value, _) => value
      case c if c.foldable =>
        try c.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        catch { case _: Exception => null }
      case _ => null
    }
    v match {
      case null => None
      case u: UTF8String => Some(u.toString)
      case d: Decimal => Some(d.toBigDecimal.doubleValue)
      case other => Some(other) // numerics; date=epoch-day Int,
                                // timestamp=epoch-micro Long — the
                                // exact scales the footer stats use
    }
  }

  /** `op` over [min, max]: could any in-range value satisfy it? */
  private def rangeMayMatch(stats: Map[String, (String, String, String)],
      name: String, op: String, v: Any): Boolean = stats.get(name) match {
    case None => true // no stats recorded for the column → must rewrite
    case Some((tpe, mn, mx)) =>
      def check[T](mnT: T, mxT: T, vT: T)(implicit ord: Ordering[T]) =
        op match {
          case "=" => ord.lteq(mnT, vT) && ord.lteq(vT, mxT)
          case "<" => ord.lt(mnT, vT)   // some row < v ⟺ min < v
          case "<=" => ord.lteq(mnT, vT)
          case ">" => ord.gt(mxT, vT)   // some row > v ⟺ max > v
          case ">=" => ord.gteq(mxT, vT)
        }
      try tpe match {
        case "long" => check(mn.toLong, mx.toLong, toLong(v))
        case "double" => check(mn.toDouble, mx.toDouble, toDouble(v))
        case _ => v match {
          case s: String => check(mn, mx, s)
          case _ => true // non-string literal vs string stats
        }
      } catch { case _: Exception => true } // unconvertible → conservative
  }

  /** Publish an explicit file set as the version after `parent`,
    * CAS-atomic like every other commit.
    *
    * Segment carry keeps the write bounded: any segment of the
    * carry-source manifest (`carryFrom`, default the parent) whose
    * entries ALL appear unchanged in `files` is referenced, not
    * re-serialized; only the residue is inlined, and a residue larger
    * than [[segmentSpill]] spills into fresh immutable segments of at
    * most [[segmentMaxEntries]] entries each. An append to (or a
    * point-delete from) a million-file table therefore writes O(delta +
    * segment count) manifest bytes, never O(table files). */
  private def publishEntries(root: String, files: Seq[FileEntry],
      parent: Long, action: String,
      txn: Option[(String, Long)] = None,
      schemaJson: String = null,
      cdf: Seq[String] = Nil,
      partitionBy: Option[Seq[String]] = None,
      props: Map[String, String] = Map.empty,
      dvs: Seq[DvEntry] = Nil,
      carryFrom: Option[Long] = None,
      constraints: Option[Map[String, String]] = None,
      dropped: Option[Map[String, Long]] = None,
      physNames: Option[Map[String, String]] = None,
      transforms: Option[Seq[PartTransform]] = None,
      legacyTransforms: Option[Seq[PartTransform]] = None): Long = {
    logDir(root).mkdirs()
    val next = parent + 1
    // partitioning and CHECK constraints are table properties:
    // inherited from the parent manifest unless the verb explicitly
    // sets them (overwrite may re-layout; restore/clone reinstate the
    // source version's)
    val parentM =
      if (parent >= 1L) Some(readManifest(root, parent)) else None
    val partCols = partitionBy.getOrElse(
      parentM.map(_.partitionBy).getOrElse(Nil))
    // hidden partition transforms inherit like partitionBy; a
    // re-layout that drops a transform's hidden column drops the
    // transform with it (the filter is self-maintaining — restore and
    // clone pass the source version's explicitly)
    val tableTransforms = transforms.getOrElse(
      parentM.map(_.transforms).getOrElse(Nil))
      .filter(t => partCols.contains(t.hidden))
    // legacy (prior-spec) transforms inherit too, SELF-CLEANING: one
    // survives only while (a) it isn't re-current and (b) its hidden
    // column still tags at least one live file — a compaction that
    // rewrites the last old-generation file retires the legacy spec
    // in the same commit, no spec-history bookkeeping
    val tableLegacy = {
      val cands = legacyTransforms.getOrElse(
        parentM.map(_.legacyTransforms).getOrElse(Nil))
        .filterNot(tableTransforms.contains)
      if (cands.isEmpty) Nil
      else cands.filter(t => files.exists(_.stats.contains(t.hidden)))
    }
    val tableConstraints = constraints.getOrElse(
      parentM.map(_.constraints).getOrElse(Map.empty))
    // the column mapping inherits like constraints: physical names are
    // immutable, so only RENAME (sets it), compact/overwrite
    // (canonicalize it away), and restore/clone (reinstate the
    // source's) ever pass an explicit value
    val tablePhys = physNames.getOrElse(
      parentM.map(_.physNames).getOrElse(Map.empty))
    // drop-column tombstones inherit like constraints, then AUTO-CLEAR:
    // a tombstone whose last pre-drop file this commit retires (its
    // hazard set — live files that predate the drop — went empty) is
    // removed, so OPTIMIZE/overwrite heal the table without knowing
    // about schema history. An unreadable drop-version manifest keeps
    // the tombstone (conservative: can't prove the hazard empty).
    val newLive = files.iterator.map(_.path).toSet
    val tombstones = dropped.orElse(parentM.map(_.dropped))
      .getOrElse(Map.empty)
      .filter { case (_, dv) =>
        !manifestFile(root, dv).isFile ||
          dropVersionPaths(root, dv).exists(newLive)
      }
    val byPath = files.iterator.map(f => f.path -> f).toMap
    val carried = carryFrom.orElse(Some(parent)).filter(_ >= 1L)
      .filter(v => manifestFile(root, v).isFile)
      .map(readManifest(root, _).segments).getOrElse(Nil)
      .filter { s =>
        val es = readSegment(root, s)
        es.nonEmpty && es.forall(e => byPath.get(e.path).contains(e))
      }
    val covered = carried.flatMap(readSegment(root, _)).map(_.path).toSet
    val residue = files.filterNot(f => covered(f.path))
    val (inline, segments) =
      if (residue.size <= segmentSpill) (residue, carried)
      else (Seq.empty[FileEntry],
        carried ++ residue.grouped(segmentMaxEntries)
          .map(writeSegment(root, _)))
    // COPY INTO's ingestion ledger is table STATE, not per-commit
    // metadata: it inherits like constraints, so the LATEST manifest
    // always carries the current ledger reference and vacuum dropping
    // old manifests never forgets what was ingested (and the probe in
    // [[copyInto]] is O(1) — the head manifest, not a history scan)
    val propsT =
      if (props.contains(TagsKey)) props
      else parentM.flatMap(_.props.get(TagsKey))
        .fold(props)(v => props + (TagsKey -> v))
    val effProps0 =
      if (propsT.contains(CopyLedgerKey)) propsT
      else parentM.flatMap(_.props.get(CopyLedgerKey))
        .fold(propsT)(v => propsT + (CopyLedgerKey -> v))
    // ANALYZE column stats inherit the same way (stale-but-useful
    // after DML, the standard ANALYZE contract) — EXCEPT through verbs
    // that replace the data they describe: an overwrite/restore/clone
    // with stale NDVs would feed the cost-based optimizer numbers
    // about rows that no longer exist
    val effProps =
      if (effProps0.contains(ColStatsKey) ||
          action == "overwrite" || action == "restore" ||
          action == "clone") effProps0
      else parentM.flatMap(_.props.get(ColStatsKey))
        .fold(effProps0)(v => effProps0 + (ColStatsKey -> v))
    val manifest = Manifest(next, action, inline,
      txnApp = txn.map(_._1), txnBatch = txn.map(_._2),
      schemaJson = Option(schemaJson), cdf = cdf,
      partitionBy = partCols, props = effProps, dvs = dvs,
      ts = Some(System.currentTimeMillis()), segments = segments,
      constraints = tableConstraints, dropped = tombstones,
      physNames = tablePhys, transforms = tableTransforms,
      legacyTransforms = tableLegacy)
    // the publish itself is the pluggable put-if-absent primitive:
    // exactly one of two racing writers lands v<next>, whatever the
    // backend (POSIX hard link, object-store conditional put)
    if (coordinator.putIfAbsent(manifestFile(root, next),
        renderJson(manifest))) next
    else throw new VersionConflictException(
      s"concurrent writer published v$next at $root first; " +
        "re-read the table and retry")
  }

  /** Drop-version live-file paths, cached: the tombstone auto-clear
    * above probes this set on EVERY commit while a tombstone is
    * active, and manifests are immutable once published (CAS
    * create-exclusive), so one parse per drop version serves the
    * table's whole tombstone lifetime instead of O(tombstones)
    * manifest re-reads on the hot commit path. Keyed on (path, size,
    * mtime) so a wiped-and-recreated test root can never serve stale
    * sets. */
  private val dropFilesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      Set[String]]()

  private def dropVersionPaths(root: String, dv: Long): Set[String] = {
    val f = manifestFile(root, dv)
    val key = (f.getAbsolutePath, f.length(), f.lastModified())
    val hit = dropFilesCache.get(key)
    if (hit != null) hit
    else {
      val paths = readManifest(root, dv).files.iterator.map(_.path).toSet
      dropFilesCache.put(key, paths)
      paths
    }
  }

  /** The commit-publish primitive in force — every table commit and
    * coordinator pin funnels through it; swap for an object-store
    * backend (see [[CommitCoordinator]]). Process-wide by design: the
    * backend is a property of the STORAGE the process talks to, not
    * of any one table. */
  @volatile var coordinator: CommitCoordinator = PosixLinkCoordinator

  // ------------------------------------------------------- change feed

  /** Relative data-file paths of version `v` (exposed for specs and
    * operators that reason about file-level carry/skip behavior). */
  def files(root: String, v: Long): Seq[String] =
    readManifest(root, v).files.map(_.path)

  /** Both change feeds read every contributed file under the
    * window-LATEST (schema, mapping); that is only sound while the
    * mapping is stable across the window. Thrown mid-iteration so the
    * failure names the exact offending version. */
  private def requireMappingStable(root: String, v: Long,
      cur: Map[String, String], prev: Option[Map[String, String]]): Unit =
    prev.foreach { p =>
      if (p != cur) throw new IllegalArgumentException(
        s"change-feed window at $root crosses a column-mapping change " +
          s"at v$v (a RENAME COLUMN, or a rewrite canonicalizing one " +
          "away) — files from different mapping eras cannot be read " +
          "under one physical schema (Delta blocks CDC across " +
          "column-mapping changes for the same reason). Read up to " +
          s"v${v - 1}, then from v$v onward, as separate windows")
    }

  /** One partition-plannable piece of a change-feed window — what the
    * NATIVE micro-batch stream turns into input partitions. Every
    * variant is deterministic from the manifest (+ immutable
    * sidecars): no change files are needed beyond what the verbs
    * already wrote. */
  private[graft] sealed trait FeedPiece {
    def version: Long
  }
  /** Files an append/clone/write-delta introduced: insert envelopes.
    * `bytes` keyed per file for split/pack planning. */
  private[graft] case class FeedInsert(version: Long,
      files: Seq[(String, Long)]) extends FeedPiece
  /** Change files a CoW merge/delete/update wrote (cdf=true): rows
    * carry their own `_change_type`. */
  private[graft] case class FeedCdf(version: Long,
      files: Seq[String]) extends FeedPiece
  /** A positional delete (dv-delete, or write-delta's delete side):
    * rows AT each file's fresh positions (inline + sidecars newly
    * attached by this version) are delete envelopes. */
  private[graft] case class FeedDvDelete(version: Long,
      perFile: Seq[(String, Seq[Long], Seq[String])]) extends FeedPiece

  /** Plan the change-feed window `(afterVersion, untilVersion]` as
    * partition-plannable pieces plus the window's read alignment
    * (schema JSON + column mapping, both window-latest — mapping
    * stability enforced like the DataFrame feeds). Same per-action
    * semantics as [[changeFeed]]; same loud failures (change commit
    * without cdf, overwrite in window). `appendsOnly` additionally
    * fails on ANY row-removing commit unless `skipChangeCommits` —
    * [[changesSince]]'s contract for a consumer that cannot represent
    * deletes. */
  /** File/byte-grain ADMISSION units of one version, for the native
    * stream's `maxFilesPerTrigger`/`maxBytesPerTrigger` pacing:
    * `Some((path, bytes) list, manifest order)` iff the version is a
    * PURE-INSERT commit — an append/clone, a row-identical commit
    * (empty list), or a write-delta that removed nothing — whose feed
    * replay is exactly its new files, so a backfill commit can drain
    * as several bounded micro-batches with a sub-version offset (the
    * Delta-source shape). `None` for row-removing commits: those
    * replay as one indivisible batch (bounded by mutation size). */
  /** Admission units of version `v` for the bounded-drain stream:
    * `Some((insertFiles, removal))` when the commit can drain in
    * byte/file-bounded slices — `removal=true` marks a write-delta
    * commit whose FIRST slice must also apply the commit's fresh
    * deletion vectors (they're position-scoped to carried files, so
    * applying them before the insert postimages finish draining stays
    * exact); `None` means the commit is INDIVISIBLE (CDF rewrites,
    * overwrites — no per-file slicing can represent them). */
  private[graft] def feedAdmissionUnits(root: String,
      v: Long): Option[(Seq[(String, Long)], Boolean)] = {
    val vs = versions(root)
    val prevV = vs.takeWhile(_ < v).lastOption
    val m = readManifest(root, v)
    def added: Seq[(String, Long)] = {
      val prev = prevV.map(files(root, _).toSet).getOrElse(Set.empty)
      m.files.filterNot(f => prev(f.path)).map(f => (f.path, f.bytes))
    }
    m.action match {
      case "append" | "clone" => Some((added, false))
      case "compact" | "constraint" | "schema" | "analyze" | "tag" =>
        Some((Nil, false))
      case "write-delta" =>
        // insert-only delta (removed nothing) = a pure append; a delta
        // with fresh delete positions drains BOUNDED too — the DV
        // application rides the first slice, the insert postimages
        // slice by file exactly like an append's
        val prevDvs = prevV.map(readManifest(root, _).dvs).getOrElse(Nil)
        val prevByFile = prevDvs.map(d => d.file -> d).toMap
        val fresh = m.dvs.exists { d =>
          val p = prevByFile.get(d.file)
          d.positions.exists(x => !p.exists(_.positions.contains(x))) ||
            d.sidecars.exists(s => !p.exists(_.sidecars.contains(s)))
        }
        Some((added, fresh))
      case _ => None
    }
  }

  private[graft] def feedWindowPlan(root: String, afterVersion: Long,
      untilVersion: Long, appendsOnly: Boolean,
      skipChangeCommits: Boolean)
      : (Seq[FeedPiece], Option[String], Map[String, String]) = {
    val vs = versions(root).filter(v => v > afterVersion && v <= untilVersion)
    val upM = readManifest(root, untilVersion)
    var prev: Set[String] =
      if (afterVersion == 0L) Set.empty else files(root, afterVersion).toSet
    var prevDvs: Seq[DvEntry] =
      if (afterVersion == 0L) Nil
      else readManifest(root, afterVersion).dvs
    var prevPhys: Option[Map[String, String]] =
      if (afterVersion == 0L) None
      else Some(readManifest(root, afterVersion).physNames)
    val pieces = Seq.newBuilder[FeedPiece]
    vs.foreach { v =>
      val man = readManifest(root, v)
      val cur = man.files.map(_.path)
      requireMappingStable(root, v, man.physNames, prevPhys)
      prevPhys = Some(man.physNames)
      def added: Seq[(String, Long)] =
        man.files.filterNot(f => prev(f.path)).map(f => (f.path, f.bytes))
      def freshPositions: Seq[(String, Seq[Long], Seq[String])] = {
        val prevByFile = prevDvs.map(d => d.file -> d).toMap
        man.dvs.flatMap { d =>
          val p = prevByFile.get(d.file)
          val pPos = p.map(_.positions.toSet).getOrElse(Set.empty)
          val pSc = p.map(_.sidecars.toSet).getOrElse(Set.empty)
          val freshInline = d.positions.filterNot(pPos)
          val freshSc = d.sidecars.filterNot(pSc)
          if (freshInline.isEmpty && freshSc.isEmpty) None
          else Some((d.file, freshInline, freshSc))
        }
      }
      def rowRemoval(what: => Unit): Unit =
        if (!appendsOnly) what
        else if (!skipChangeCommits) throw new IllegalArgumentException(
          s"version $v at $root is a '${man.action}' commit — this " +
            "stream serves table-schema ROWS and cannot represent row " +
            "removal; project the _change_type/_commit_version metadata " +
            "columns for the full change feed, or set " +
            "skipChangeCommits=true to skip such commits (lossy)")
      man.action match {
        case "append" | "clone" =>
          if (added.nonEmpty) pieces += FeedInsert(v, added)
        case "compact" | "constraint" | "schema" | "analyze" | "tag" => () // row-identical
        case "dv-delete" =>
          rowRemoval {
            val fp = freshPositions
            if (fp.nonEmpty) pieces += FeedDvDelete(v, fp)
          }
        case "write-delta" =>
          // compute the fresh delete positions FIRST: an insert-only
          // delta (e.g. a MERGE whose every source row was NOT MATCHED,
          // under mor mode) removed nothing, so it is a pure append —
          // the appends-only stream serves it instead of failing, and
          // skipChangeCommits does not drop it (Delta's contract: only
          // commits that actually remove data are change commits)
          val fp = freshPositions
          if (fp.isEmpty) {
            if (added.nonEmpty) pieces += FeedInsert(v, added)
          } else {
            rowRemoval { pieces += FeedDvDelete(v, fp) }
            // inserts flow even in appendsOnly+skipChangeCommits mode?
            // No: a skipped change commit skips WHOLLY (its inserts are
            // postimages of the skipped mutation) — emit only when the
            // piece above was admitted
            if ((!appendsOnly || !skipChangeCommits) && added.nonEmpty)
              pieces += FeedInsert(v, added)
          }
        case "merge" | "delete" | "update" =>
          rowRemoval {
            if (man.cdf.isEmpty) throw new IllegalArgumentException(
              s"version $v at $root is a '${man.action}' committed " +
                "without cdf=true — row-level changes cannot be " +
                "reconstructed; enable cdf on merge/delete/update")
            pieces += FeedCdf(v, man.cdf)
          }
        case other => throw new IllegalArgumentException(
          s"version $v at $root is a '$other' commit — not " +
            "representable as row-level changes (an overwritten table " +
            "isn't a CDC source)")
      }
      prev = cur.toSet
      prevDvs = man.dvs
    }
    (pieces.result(), upM.schemaJson, upM.physNames)
  }

  /** The append-only change feed: rows added by versions in
    * `(afterVersion, untilVersion]` — read directly from the files each
    * append commit introduced, so a consumer processes ONLY the new
    * data regardless of table size (the Delta/Iceberg incremental-read
    * economics: a 100 TB table with a 1 GB append feeds 1 GB
    * downstream).
    *
    * Non-append commits in the range (overwrite/compact/merge/delete)
    * rewrite or remove rows and cannot be represented as appended rows:
    * the default is to fail loudly; `skipChangeCommits = true` skips
    * them (Delta's `skipChangeCommits` contract) — compactions are
    * row-identical so skipping them is lossless, but skipped
    * merges/deletes mean downstream won't see those changes.
    *
    * Requires the manifests in `[afterVersion, untilVersion]` to still
    * be retained — vacuum must keep the consumer's window (the same
    * retention contract [[commitIfNew]] documents for replay guards).
    * `afterVersion = 0` means "from the beginning". */
  def changesSince(spark: SparkSession, root: String, afterVersion: Long,
      untilVersion: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      skipCompactions: Boolean = false): DataFrame = {
    val upTo = untilVersion.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val vs = versions(root).filter(v => v > afterVersion && v <= upTo)
    var prev: Set[String] =
      if (afterVersion == 0L) Set.empty else files(root, afterVersion).toSet
    var prevPhys: Option[Map[String, String]] =
      if (afterVersion == 0L) None
      else Some(readManifest(root, afterVersion).physNames)
    val added = Seq.newBuilder[String]
    vs.foreach { v =>
      val man = readManifest(root, v)
      val cur = man.files.map(_.path)
      // COLUMN MAPPING guard (Delta blocks CDC across column-mapping
      // changes for exactly this reason): files contributed by
      // different eras of the mapping cannot be read under ONE
      // physical schema — a window crossing a rename (or a compact
      // that canonicalizes one away) must fail loudly, never
      // silently null-fill the renamed column. Re-window on either
      // side of the change: both sub-windows are mapping-stable.
      requireMappingStable(root, v, man.physNames, prevPhys)
      prevPhys = Some(man.physNames)
      // a clone's v1 introduces its whole (shared) file set — the
      // file-diff against the empty parent is exactly its content
      if (man.action == "append" || man.action == "clone")
        added ++= cur.filterNot(prev)
      // metadata-only commits (add/drop constraint, add columns) are
      // file-identical by construction: nothing to emit, never an
      // error — a policy/schema change must not wedge an append-only
      // consumer
      else if (man.action == "constraint" || man.action == "schema" ||
          man.action == "analyze" || man.action == "tag") ()
      // compactions are row-identical: skipping ONLY them is lossless
      // (the file-diff below keeps tracking the repacked live set), so
      // consumers can allow them without opening the lossy
      // skipChangeCommits door for merge/delete
      else if (!(skipChangeCommits ||
          (skipCompactions && man.action == "compact")))
        throw new IllegalArgumentException(
          s"version $v at $root is a '${man.action}' commit — the change " +
            "feed is append-only; pass skipCompactions=true to allow " +
            "row-identical compactions, or skipChangeCommits=true to " +
            "skip everything (lossy for merge/delete)")
      prev = cur.toSet
    }
    val paths = added.result()
    if (paths.isEmpty) emptyLike(spark, root)
    else {
      // the window's latest schema + mapping (physical names are
      // immutable, so the latest mapping reads every file era)
      val upM = readManifest(root, upTo)
      readAligned(spark, paths.map(p => resolve(root, p).getPath),
        upM.schemaJson, upM.physNames)
    }
  }

  /** The ROW-LEVEL change feed (Delta CDF semantics): every change in
    * `(afterVersion, untilVersion]` as envelope rows under the window's
    * latest schema plus `_change_type` ('insert', 'update_preimage',
    * 'update_postimage', 'delete') and `_commit_version`. Appends
    * synthesize insert envelopes straight from the version's new data
    * files (no extra storage); merge/delete versions read the change
    * files they wrote at commit time (`cdf = true` — a merge/delete
    * committed WITHOUT it fails here, loudly: row-level changes cannot
    * be reconstructed after the fact). Compactions are row-identical
    * and skip losslessly; overwrites fail (not representable as row
    * changes — an overwritten table isn't a CDC source).
    *
    * This is what [[changesSince]] (append-only, file-level) cannot
    * give: a downstream consumer — an incremental SCD2 fold, a search
    * index, a cache — can replay EXACTLY what merge and delete did,
    * version by version, and the feed is itself deterministic (the
    * change files are immutable commit artifacts). */
  def changeFeed(spark: SparkSession, root: String, afterVersion: Long,
      untilVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val upTo = untilVersion.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val vs = versions(root).filter(v => v > afterVersion && v <= upTo)
    val upM = readManifest(root, upTo)
    val schemaJson = upM.schemaJson
    val physNames = upM.physNames
    var prev: Set[String] =
      if (afterVersion == 0L) Set.empty else files(root, afterVersion).toSet
    var prevDvs: Seq[DvEntry] =
      if (afterVersion == 0L) Nil
      else readManifest(root, afterVersion).dvs
    var prevPhys: Option[Map[String, String]] =
      if (afterVersion == 0L) None
      else Some(readManifest(root, afterVersion).physNames)
    val pieces = Seq.newBuilder[DataFrame]
    vs.foreach { v =>
      val man = readManifest(root, v)
      val cur = man.files.map(_.path)
      // a window crossing a column-mapping change cannot read all its
      // eras under one physical schema — fail loudly (see
      // [[requireMappingStable]]); re-window on either side
      requireMappingStable(root, v, man.physNames, prevPhys)
      prevPhys = Some(man.physNames)
      man.action match {
        // a clone's v1 is its full shared file set diffed against the
        // empty parent — honest insert envelopes, not an error
        case "append" | "clone" =>
          val added = cur.filterNot(prev)
          if (added.nonEmpty)
            pieces += readAligned(spark,
              added.map(p => resolve(root, p).getPath), schemaJson, physNames)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))
        case "compact" => // row-identical: nothing to emit
        case "constraint" | "schema" | "analyze" | "tag" => // metadata-only: zero row delta
        case "dv-delete" | "write-delta" =>
          // replay LAZILY: the rows AT this version's newly-added
          // positions (this version's position frame minus the
          // parent's — inline and sidecar forms both), read from the
          // immutable files. Deterministic from the manifest +
          // immutable sidecars alone, no change files; double
          // evaluation (file-list collect + lazy semi-join) is safe
          // for exactly that reason. A "write-delta" (delta-based
          // bare-SQL MERGE/UPDATE/DELETE) is the same delete replay
          // PLUS insert envelopes from the files it appended.
          val freshPos = dvPositions(spark, root, man.dvs)
            .join(dvPositions(spark, root, prevDvs),
              Seq("__vfile", "__vpos"), "left_anti")
          val affected = freshPos.select("__vfile").distinct()
            .collect().map(_.getString(0)).toSeq.sorted // ≤ file count
          if (affected.nonEmpty)
            pieces += readWithPositions(spark, root, affected, schemaJson, physNames)
              .join(freshPos, Seq("__vfile", "__vpos"), "left_semi")
              .drop("__vfile", "__vpos")
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v))
          if (man.action == "write-delta") {
            val added = cur.filterNot(prev)
            if (added.nonEmpty)
              pieces += readAligned(spark,
                added.map(p => resolve(root, p).getPath), schemaJson,
                physNames)
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(v))
          }
        case "merge" | "delete" | "update" =>
          if (man.cdf.isEmpty) throw new IllegalArgumentException(
            s"version $v at $root is a '${man.action}' committed without " +
              "cdf=true — row-level changes cannot be reconstructed; " +
              "enable cdf on merge/delete/update to feed changeFeed")
          val raw = spark.read.option("mergeSchema", "true").parquet(
            man.cdf.map(p => resolve(root, p).getPath): _*)
          val aligned = schemaJson match {
            case None => raw
            case Some(json) =>
              alignTo(raw, DataType.fromJson(json).asInstanceOf[StructType],
                extra = Seq("_change_type"))
          }
          pieces += aligned.withColumn("_commit_version", lit(v))
        case other => throw new IllegalArgumentException(
          s"version $v at $root is a '$other' commit — not representable " +
            "as row-level changes (an overwritten table isn't a CDC source)")
      }
      prev = cur.toSet
      prevDvs = man.dvs
    }
    val all = pieces.result()
    if (all.isEmpty) {
      // empty window: still the WINDOW's pinned schema (untilVersion's
      // manifest), not whatever the newest retained manifest carries —
      // a caller unioning per-window feeds must get one stable shape
      val base = schemaJson match {
        case Some(json) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          DataType.fromJson(json).asInstanceOf[StructType])
        case None => emptyLike(spark, root)
      }
      base.withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("long"))
    } else all.reduce(_ unionByName _)
  }

  /** One exactly-once incremental run of a table-to-table pipeline:
    * read the source rows appended since the last run, apply
    * `transform`, append the result to `dstRoot`. The high-watermark
    * (last consumed SOURCE version) rides in the DESTINATION's manifest
    * txn field under `pipelineId` — the watermark and the output
    * publish in one atomic commit, so a crash between "processed" and
    * "recorded" is impossible and a re-run after any failure resumes
    * exactly where the last PUBLISHED output left off. Two racing
    * runners serialize on the CAS commit; the loser's batch is
    * recognized as a replay and dropped (unreferenced files are
    * vacuum's job).
    *
    * `transform` must be per-row (project/filter/flatMap-shaped) for
    * "dst ≡ transform(full source)" to hold — incremental aggregation
    * is the materialized-view path (`Streams.cmsMv` et al.), not this.
    *
    * @return the source version consumed, or None if already caught up
    *         (or another runner won the race for this window)
    */
  def incrementalRun(spark: SparkSession, srcRoot: String, dstRoot: String,
      pipelineId: String, transform: DataFrame => DataFrame,
      statsCols: Seq[String] = Nil,
      skipChangeCommits: Boolean = false): Option[Long] = {
    val srcLatest = latestVersion(srcRoot).getOrElse(return None)
    val consumed = lastCommittedBatch(dstRoot, pipelineId).getOrElse(0L)
    if (srcLatest <= consumed) return None
    val delta = changesSince(spark, srcRoot, consumed, Some(srcLatest),
      skipChangeCommits)
    if (commitIfNew(spark, dstRoot, transform(delta), pipelineId,
        batchId = srcLatest, statsCols = statsCols)) Some(srcLatest)
    else None
  }

  // ------------------------------------------------------- maintenance

  /** OPTIMIZE for the versioned table: bin-pack the live set into
    * `targetFiles` files as a NEW version (action "compact"). Rows are
    * identical; prior versions stay readable until vacuum. */
  /** The stats and bloom columns the live manifest actually tracks,
    * translated to LOGICAL names (file stats/blooms are keyed
    * physical; a full rewrite canonicalizes to logical), partition
    * columns excluded (writeBatch always re-records those), filtered
    * to the rewrite's `present` columns, bloom sizing inherited as the
    * max seen. Maintenance rewrites (compact / OPTIMIZE / ZORDER)
    * re-record these BY DEFAULT: a rewrite that silently dropped the
    * table's data-skipping index would be a scale regression, not an
    * equivalence. */
  private def inheritedSkipCols(m: Manifest, present: Seq[String])
      : (Seq[String], Seq[String], Int, Int) = {
    val inv = m.physNames.map(_.swap)
    val have = present.map(lc).toSet
    val partsPhys =
      m.partitionBy.map(pc => m.physNames.getOrElse(pc, pc)).toSet
    def logicals(keys: Seq[String]): Seq[String] =
      keys.distinct.filterNot(partsPhys)
        .map(p => inv.getOrElse(p, p))
        .filter(l => have(lc(l))).sorted
    val stats =
      logicals(m.files.flatMap(f => f.stats.keys ++ f.nulls.keys))
    val blooms = logicals(m.files.flatMap(_.blooms.keys))
    val bits = (m.files.flatMap(_.blooms.values.map(_.bits)) :+
      (1 << 15)).max
    val hashes = (m.files.flatMap(_.blooms.values.map(_.hashes)) :+ 3).max
    (stats, blooms, bits, hashes)
  }

  def compact(spark: SparkSession, root: String,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3): Long =
    withOccRetry(None) {
      // the publish parent is PINNED to the version the snapshot was
      // read at: a concurrent append landing between read and publish
      // loses nothing — it wins or forces this compaction to re-run
      // (previously compact re-read `latest` at publish time, which
      // would have silently overwritten such an append)
      val latest = latestVersion(root).getOrElse(
        throw new IllegalArgumentException(s"no versions at $root"))
      val m0 = readManifest(root, latest)
      val part = m0.partitionBy
      val snapshot = readVersion(spark, root, latest).coalesce(targetFiles)
      // bare compact inherits the manifest's skipping index; explicit
      // arguments override it (including explicitly narrowing it)
      val (inhStats, inhBlooms, inhBits, inhHashes) =
        inheritedSkipCols(m0, snapshot.columns.toSeq)
      val statsEff = if (statsCols.nonEmpty) statsCols else inhStats
      val (bloomEff, bitsEff, hashesEff) =
        if (bloomCols.nonEmpty) (bloomCols, bloomBits, bloomHashes)
        else (inhBlooms, inhBits, inhHashes)
      // overwrite MECHANICS (new files replace the live set) but its own
      // manifest ACTION: a compaction is row-identical, so the change
      // feeds may skip it losslessly where a true overwrite must fail
      // a full rewrite CANONICALIZES the column mapping: every row
      // re-lands under logical names, so the mapping (and, via the
      // publish-time auto-clear, any drop tombstone) retires here
      val (entries, _) = writeBatch(spark, root, snapshot, statsEff, part,
        bloomEff, bitsEff, hashesEff, physOverride = Some(Map.empty))
      publishEntries(root, entries, latest, action = "compact",
        schemaJson = snapshot.schema.json,
        // a full rewrite provably retires every pre-drop file, so
        // tombstones clear here even when vacuum has dropped the
        // drop-version manifest the lazy gate would need
        dropped = Some(Map.empty), physNames = Some(Map.empty))
    }

  /** OPTIMIZE ZORDER for the versioned table: a full rewrite (same
    * action and history semantics as [[compact]] — row-identical, so
    * change feeds skip it losslessly, pending deletion vectors
    * materialize) whose layout is the Morton curve over `cols`
    * ([[ZOrder.cluster]]): every output file covers one contiguous
    * Z-range, so the manifest min/max recorded for EACH clustered
    * column is partially tight and [[candidateFilesForBounds]] prunes
    * on any of them — the multi-column data-skipping a single-key sort
    * can't give. `cols` are recorded as stats columns automatically;
    * pass `bloomCols` to rebuild point-lookup blooms in the same pass. */
  def zorder(spark: SparkSession, root: String, cols: Seq[String],
      nOut: Int = 8, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3): Long = withOccRetry(None) {
    require(cols.nonEmpty, "zorder needs at least one clustering column")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val snapshot = readVersion(spark, root, latest)
    // one column: the Z curve degenerates to a plain sort — range-
    // repartition on the RAW column, which (unlike the Morton rank's
    // numeric scaling) also orders strings/dates correctly
    val clustered =
      if (cols.size == 1) {
        import org.apache.spark.sql.functions.{col => c}
        snapshot.repartitionByRange(nOut, c(cols.head))
          .sortWithinPartitions(cols.head)
      } else ZOrder.cluster(snapshot, cols, nOut)
    // full rewrite: canonicalize the column mapping like [[compact]];
    // a bare zorder keeps the manifest's whole skipping index alive
    // alongside the clustering columns' fresh Z-range stats
    val (zStats, zBlooms, zBits, zHashes) =
      inheritedSkipCols(m, snapshot.columns.toSeq)
    val statsEff =
      if (statsCols.nonEmpty) (statsCols ++ cols).distinct
      else (zStats ++ cols).distinct
    val (bloomEff, bitsEff, hashesEff) =
      if (bloomCols.nonEmpty) (bloomCols, bloomBits, bloomHashes)
      else (zBlooms, zBits, zHashes)
    val (entries, _) = writeBatch(spark, root, clustered,
      statsEff, m.partitionBy,
      bloomEff, bitsEff, hashesEff, physOverride = Some(Map.empty))
    publishEntries(root, entries, latest, action = "compact",
      schemaJson = m.schemaJson.orNull,
      partitionBy = Some(m.partitionBy),
      dropped = Some(Map.empty), physNames = Some(Map.empty))
  }

  /** Incremental OPTIMIZE: bin-pack only files SMALLER than
    * `targetBytes` into ~targetBytes outputs; files already at or above
    * the target are carried BY REFERENCE — zero bytes read or written
    * for them. Cost is O(small-file debt), not O(table): on a 100 TB
    * table fed by streaming micro-batches this is the difference
    * between a routine maintenance tick and a full rewrite
    * ([[compact]] remains the full rewrite).
    *
    * Pending deletion vectors interact exactly right: vectors on
    * REWRITTEN files are materialized by the rewrite (the pack reads
    * through [[readLive]]) and dropped; vectors on carried files stay
    * pending with them. Live rows are identical before and after, so
    * the action is "compact" and change feeds skip it losslessly.
    *
    * @return the new version, or the current one when there is nothing
    *         to pack (≤1 small file)
    */
  /** Translate a PARTITION-GRAIN SQL predicate into prune bounds for
    * scoped maintenance (`OPTIMIZE … WHERE`): conjuncts of =, <, <=,
    * >, >=, IN over partition columns — or a transform's SOURCE column
    * (bucket/day grain resolves through the shared prune path). Every
    * other shape refuses loudly: a maintenance scope silently wider or
    * narrower than asked is how a compaction storm starts. */
  private[graft] def partitionScopeBounds(spark: SparkSession,
      root: String, version: Long, whereSql: String): Seq[ColumnBound] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt, LessThanOrEqual => CLe, Literal => CLit}
    val m = readManifest(root, version)
    val scopeCols = (m.partitionBy ++ m.transforms.map(_.src))
      .map(lc).toSet
    def attr(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : String = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if scopeCols(lc(a.nameParts.last)) => a.nameParts.last
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE … WHERE must reference partition (or partition-" +
          s"transform source) columns only — got '$other' (partition " +
          s"grain: ${scopeCols.toSeq.sorted.mkString(", ")})")
    }
    def ext(l: CLit): Any = l.value match {
      case null => throw new IllegalArgumentException(
        "NULL literals are not a partition scope")
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case i: java.lang.Integer
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.DateType] =>
        java.time.LocalDate.ofEpochDay(i.toLong)
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"unsupported scope literal: $other (${other.getClass})")
    }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    conjuncts(spark.sessionState.sqlParser.parseExpression(whereSql))
      .map {
        case CEq(a, l: CLit) =>
          ColumnBound(attr(a), Some(ext(l)), Some(ext(l)))
        case CEq(l: CLit, a) =>
          ColumnBound(attr(a), Some(ext(l)), Some(ext(l)))
        case CGt(a, l: CLit) => ColumnBound(attr(a), Some(ext(l)), None)
        case CGe(a, l: CLit) => ColumnBound(attr(a), Some(ext(l)), None)
        case CLt(a, l: CLit) => ColumnBound(attr(a), None, Some(ext(l)))
        case CLe(a, l: CLit) => ColumnBound(attr(a), None, Some(ext(l)))
        case CIn(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[CLit]) =>
          inBound(attr(a), vs.map(v => ext(v.asInstanceOf[CLit])))
        case other => throw new IllegalArgumentException(
          s"OPTIMIZE … WHERE supports conjunctions of =, <, <=, >, " +
            s">=, IN over partition-grain columns — got '$other'")
      }
  }

  def optimize(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 15,
      bloomHashes: Int = 3,
      // partition-grain scope (Delta's `OPTIMIZE t WHERE …`): only
      // small files of matching partitions pack; at 100 TB the
      // maintenance tick compacts TODAY, never the table
      where: Option[String] = None,
      // re-arm ANALYZE stats after the rewrite (see
      // [[reanalyzeAfterMaintenance]]) — opt-in: one extra bounded
      // aggregate pass over the table
      reanalyze: Boolean = false): Long = {
    val (v, published) = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val scoped: Seq[FileEntry] = where match {
      case None => m.files
      case Some(pred) =>
        val keep = candidateFilesForBounds(root, latest,
          partitionScopeBounds(spark, root, latest, pred)).toSet
        m.files.filter(f => keep(f.path))
    }
    val scopedSet = scoped.map(_.path).toSet
    val (small, big0) = scoped.partition(_.bytes < targetBytes)
    val big = big0 ++ m.files.filterNot(f => scopedSet(f.path))
    if (small.size <= 1) (latest, false)
    else {
      val packed = readLive(spark, root, m, small.map(_.path))
      val nOut = math.max(1L, math.ceil(
        small.map(_.bytes).sum.toDouble / targetBytes).toLong).toInt
      // a bare incremental OPTIMIZE re-records the manifest's skipping
      // index on the packed files (carried files keep theirs as-is) —
      // note packed files keep PHYSICAL names (no canonicalization
      // here), and inheritedSkipCols returns logical names, which
      // writeBatch maps back through the live mapping on write
      val (oStats, oBlooms, oBits, oHashes) =
        inheritedSkipCols(m, packed.columns.toSeq)
      val statsEff = if (statsCols.nonEmpty) statsCols else oStats
      val (bloomEff, bitsEff, hashesEff) =
        if (bloomCols.nonEmpty) (bloomCols, bloomBits, bloomHashes)
        else (oBlooms, oBits, oHashes)
      val (entries, _) =
        writeBatch(spark, root, packed.coalesce(nOut), statsEff,
          m.partitionBy, bloomEff, bitsEff, hashesEff)
      // deletion vectors follow the carry/materialize split: packed
      // files materialized theirs through readLive; carried files keep
      // their vectors scoped exactly as before
      val carried = big.map(_.path).toSet
      val stillDvs = m.dvs.filter(d => carried(d.file))
      (publishEntries(root, big ++ entries, latest, "compact",
        schemaJson = m.schemaJson.orNull, dvs = stillDvs), true)
    }
    }
    if (published && reanalyze) reanalyzeAfterMaintenance(spark, root, v)
    else v
  }

  /** Re-arm ANALYZE stats after a maintenance rewrite: re-run the
    * one-pass column stats for exactly the previously analyzed columns
    * (merge-over-prior keeps everything else), so plans that lost
    * their CBO estimates to the staleness discipline — a table whose
    * live count drifted past `spark.graft.analyze.staleFactor` drops
    * stale columns from the scan's report — get them back in the same
    * maintenance tick instead of waiting for a manual ANALYZE.
    * Columns dropped since the last ANALYZE silently leave the set.
    * Cost: one bounded aggregate pass over the table, which is why
    * this is OPT-IN on [[optimize]]/[[reorg]] rather than automatic —
    * a scoped compaction of one hot partition on a 100 TB table must
    * not imply a full-table stats pass by default. No-op maintenance
    * (nothing rewritten) never triggers it. */
  private def reanalyzeAfterMaintenance(spark: SparkSession,
      root: String, v: Long): Long = {
    val prior = colStatsOf(root, v)
    if (prior.isEmpty) v
    else {
      val schema = tableSchema(spark, root, Some(v))
      val cols = prior.keys.toSeq.sorted
        .filter(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      if (cols.isEmpty) v else analyze(spark, root, cols)
    }
  }

  /** REORG — targeted deletion-vector materialization (Delta's
    * `REORG TABLE … APPLY (PURGE)` economics): rewrite ONLY the files
    * whose DELETED FRACTION is at or above `minDeletedFraction`,
    * folding their pending vectors into clean replacement files; every
    * other file — and its own vectors — carries by reference,
    * untouched. Cost is
    * O(heavily-deleted files), never O(table): on a 100 TB MoR table
    * where deletes concentrate in a few hot files, this is the
    * maintenance tick that keeps DV overhead bounded without the full
    * [[compact]].
    *
    * Live rows are identical before and after, so the action is
    * "compact" — change feeds skip it losslessly and time travel keeps
    * every prior snapshot. Fraction truth comes from the manifest's
    * exact per-file row counts and the vectors themselves (inline
    * positions counted directly; sidecar positions counted through one
    * small distributed scan of the sidecar parquet).
    *
    * @return the new version, or the current one when no file crosses
    *         the threshold (publishes nothing)
    */
  def reorg(spark: SparkSession, root: String,
      minDeletedFraction: Double = 0.1,
      targetBytes: Long = 128L * 1024 * 1024,
      // re-arm ANALYZE stats after the purge (see
      // [[reanalyzeAfterMaintenance]]); no-op reorgs skip it
      reanalyze: Boolean = false): Long = {
    val v = withOccRetry(None) {
    require(minDeletedFraction > 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in (0, 1], got $minDeletedFraction")
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    if (m.dvs.isEmpty) return latest
    val deletedByFile = dvDeletedCounts(spark, root, latest)
    val rowsByFile = m.files.map(f => f.path -> f.rows).toMap
    val targets = m.dvs.map(_.file).filter { f =>
      val rows = rowsByFile.getOrElse(f, 0L)
      rows > 0L &&
        deletedByFile.getOrElse(f, 0L).toDouble / rows >= minDeletedFraction
    }.toSet
    if (targets.isEmpty) return latest
    // read the targets' LIVE rows (vectors anti-joined) and restage them
    val packed = readLive(spark, root, m, targets.toSeq.sorted)
    val targetEntries = m.files.filter(f => targets(f.path))
    val liveBytes = targetEntries.map { f =>
      val frac = deletedByFile.getOrElse(f.path, 0L).toDouble /
        math.max(1L, rowsByFile.getOrElse(f.path, 1L))
      (f.bytes * (1.0 - frac)).toLong
    }.sum
    val nOut = math.max(1L,
      math.ceil(liveBytes.toDouble / targetBytes).toLong).toInt
    val (inhStats, inhBlooms, inhBits, inhHashes) =
      inheritedSkipCols(m, packed.columns.toSeq)
    val (entries, _) = writeBatch(spark, root, packed.coalesce(nOut),
      inhStats, m.partitionBy, inhBlooms, inhBits, inhHashes)
    val carried = m.files.filterNot(f => targets(f.path))
    val carriedSet = carried.map(_.path).toSet
    // vectors follow the carry/materialize split exactly like
    // [[optimize]]: rewritten files' vectors are materialized
    // (dropped); carried files keep theirs, still scoped
    val stillDvs = m.dvs.filter(d => carriedSet(d.file))
    publishEntries(root, carried ++ entries, latest, "compact",
      schemaJson = m.schemaJson.orNull, dvs = stillDvs)
    }
    // the early no-op exits (`return latest`) bypass this tail — a
    // reorg that rewrote nothing never pays a stats pass
    if (reanalyze) reanalyzeAfterMaintenance(spark, root, v) else v
  }

  /** Zero-copy RESTORE (Delta's `RESTORE TABLE … TO VERSION`): publish
    * a NEW version whose manifest references `toVersion`'s exact file
    * set and schema BY REFERENCE. No data is read, copied, or moved —
    * the rollback is one atomic manifest link — and the intermediate
    * history stays fully time-travelable (and vacuum-protected, since
    * the new head re-references the old files). Metadata-only: needs no
    * SparkSession. */
  def restore(root: String, toVersion: Long): Long = withOccRetry(None) {
    val m = readManifest(root, toVersion)
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    publishEntries(root, m.files, latest, "restore",
      schemaJson = m.schemaJson.orNull,
      partitionBy = Some(m.partitionBy), dvs = m.dvs,
      // the restored version's segments are the ones re-referenced —
      // the rollback stays one small manifest even on a huge table
      carryFrom = Some(toVersion),
      // schema history travels with the snapshot: the target version's
      // tombstones and column mapping (consistent with its schema) are
      // reinstated too
      constraints = Some(m.constraints), dropped = Some(m.dropped),
      physNames = Some(m.physNames), transforms = Some(m.transforms),
      legacyTransforms = Some(m.legacyTransforms))
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`):
    * publish version 1 of a NEW table at `dstRoot` whose manifest
    * references the source's current (or `asOfVersion`) snapshot —
    * data files and deletion vectors — by ABSOLUTE path. No data is
    * read, copied, or moved;
    * the clone is one metadata write regardless of table size.
    *
    * The clone then evolves independently: every write lands under its
    * OWN root, copy-on-write verbs that rewrite a source file drop the
    * foreign reference in the same commit, and [[compact]]/[[optimize]]
    * sever the source dependency entirely (rows re-land in own files).
    * The clone's [[vacuum]] never touches source data — its sweep
    * walks only the clone's directories, and foreign absolute paths
    * can't match. Caveat (exactly Delta's): vacuuming the SOURCE can
    * remove files a live shallow clone still references — retain the
    * cloned source version, or compact the clone to cut the tie.
    *
    * Dev/test branching at 100 TB: experiment on a writable copy of a
    * production table for the cost of one manifest. */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOfVersion: Option[Long] = None): Long = {
    val v = asOfVersion.orElse(latestVersion(srcRoot)).getOrElse(
      throw new IllegalArgumentException(s"no versions at $srcRoot"))
    require(latestVersion(dstRoot).isEmpty,
      s"clone destination $dstRoot already has a manifest log")
    val m = readManifest(srcRoot, v)
    def abs(rel: String): String =
      resolve(srcRoot, rel).getAbsolutePath
    publishEntries(dstRoot,
      m.files.map(f => f.copy(path = abs(f.path))),
      parent = 0L, action = "clone",
      schemaJson = m.schemaJson.orNull,
      partitionBy = Some(m.partitionBy),
      props = Map("cloneSource" -> srcRoot, "cloneVersion" -> v.toString),
      dvs = m.dvs.map(d =>
        d.copy(file = abs(d.file), sidecars = d.sidecars.map(abs))),
      constraints = Some(m.constraints),
      // the source's drop-version numbers mean nothing in the clone's
      // log — re-anchor every tombstone to the clone's v1, whose file
      // set (the cloned snapshot) is a superset of the true hazard
      // set: conservative, and structurally evaluable here. The column
      // mapping carries verbatim: physical names are properties of the
      // shared files themselves.
      dropped = Some(m.dropped.map { case (c, _) => c -> 1L }),
      physNames = Some(m.physNames), transforms = Some(m.transforms),
      legacyTransforms = Some(m.legacyTransforms))
  }

  /** CREATE TABLE: publish version 1 of an EMPTY table — zero data
    * files, just the declared schema (and optional hive-layout
    * partition columns) in the manifest. The empty snapshot reads as
    * a zero-row frame of exactly this schema; the first real append
    * inherits the layout. Idempotent via `ifNotExists` (returns the
    * existing latest version instead of failing). The action is
    * "append" (of nothing): change-feed consumers see an empty window,
    * never a wedge. */
  def createTable(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String] = Nil,
      ifNotExists: Boolean = false,
      transforms: Seq[PartTransform] = Nil): Long = withOccRetry(None) {
    latestVersion(root) match {
      case Some(v) =>
        if (ifNotExists) v
        else throw new IllegalArgumentException(
          s"table at $root already exists (latest version $v)")
      case None =>
        require(schema.fields.nonEmpty, "CREATE TABLE needs columns")
        validatePartitionSpec(schema, partitionBy, transforms)
        publishEntries(root, Nil, 0L, "append",
          schemaJson = schema.json, partitionBy = Some(partitionBy),
          transforms = Some(transforms))
        // a racing CREATE loses the CAS and retries into the
        // Some(v) branch above — ifNotExists decides noop vs error
    }
  }

  /** The declared-spec validation CREATE TABLE, ALTER TABLE … SET
    * PARTITION SPEC, and the atomic staged CTAS share: partition
    * columns resolve (schema column or a declared transform's hidden
    * column), transform sources exist with transform-compatible types,
    * hidden names can't shadow data. */
  private[graft] def validatePartitionSpec(
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String],
      transforms: Seq[PartTransform]): Unit = {
    val hidden = transforms.map(_.hidden).toSet
    val missing = partitionBy.filterNot(p => hidden(p) ||
      schema.fieldNames.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} are not in " +
        "the declared schema")
    transforms.foreach { t =>
      require(partitionBy.contains(t.hidden),
        s"transform ${t.show} is not in the partition spec")
      require(t.src.matches("[A-Za-z0-9_]+"),
        s"partition transform source '${t.src}' — transform " +
          "sources must be plain identifiers")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(t.hidden)),
        s"schema declares '${t.hidden}', which collides with the " +
          s"materialized column of transform ${t.show}")
      val srcField = schema.fields.find(
        _.name.equalsIgnoreCase(t.src)).getOrElse(
        throw new IllegalArgumentException(
          s"transform ${t.show}: source column '${t.src}' is not " +
            "in the declared schema"))
      import org.apache.spark.sql.types._
      t.fn match {
        case "bucket" =>
          require(t.n > 0, s"bucket count must be positive in ${t.show}")
          require(srcField.dataType match {
            case _: IntegerType | _: LongType | _: ShortType |
                 _: ByteType | _: StringType | _: DateType |
                 _: TimestampType | _: DecimalType => true
            case _ => false
          }, s"transform ${t.show}: type ${srcField.dataType.sql} " +
            "is not bucketable (needs a stable hashable type)")
        case "truncate" =>
          require(t.n > 0,
            s"truncate width must be positive in ${t.show}")
          // INT/BIGINT/STRING only (Iceberg's truncate domain):
          // TINYINT/SMALLINT arithmetic wraps at the type bounds while
          // the SQL derivation promotes to INT — the stored hidden
          // column and the V2 function would disagree near type
          // min/max, silently corrupting SPJ and partition pushdown
          require(srcField.dataType match {
            case _: StringType | _: IntegerType | _: LongType => true
            case _ => false
          }, s"transform ${t.show}: type ${srcField.dataType.sql} " +
            "is not truncatable (needs STRING, INT, or BIGINT)")
        case "days" | "months" | "years" =>
          require(srcField.dataType.isInstanceOf[DateType] ||
            srcField.dataType.isInstanceOf[TimestampType],
            s"transform ${t.show} needs a DATE or TIMESTAMP " +
              s"source, got ${srcField.dataType.sql}")
        case "hours" =>
          require(srcField.dataType.isInstanceOf[TimestampType],
            s"transform ${t.show} needs a TIMESTAMP source, got " +
              srcField.dataType.sql)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform: $other($t)")
      }
    }
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's `ALTER TABLE … SET PARTITION
    * SPEC`) — one METADATA-ONLY commit at any table size: the table's
    * declared layout changes for FUTURE writes; every existing file
    * carries by identity under the spec it was written with.
    *
    * The multi-spec contract, re-expressed over per-file stats:
    *  - NEW files derive (and single-tuple-record) the new spec's
    *    columns; OLD files keep their old hidden column and stats.
    *  - PRUNING consults each file's own generation: the old spec's
    *    transforms move to `legacyTransforms`, so a point lookup on
    *    the source column derives BOTH generations' bucket ids and
    *    each file prunes under the derivation it was written with.
    *  - SPJ reports the clustering only when every live file decodes
    *    a single tuple under the CURRENT spec — a mixed-generation
    *    table falls back to the shuffled join (grouping stability
    *    first), and a full OPTIMIZE/overwrite migrates every file to
    *    the current spec, retiring the legacy entry in that commit.
    *  - Dynamic partition overwrite matches tuples under the CURRENT
    *    spec: old-generation files never match, so they carry — the
    *    documented Iceberg behavior — except the [[overwritePartitions]]
    *    verb, which RESCUES them (rewrites old-generation remainders
    *    minus the overwritten tuples), strictly stronger.
    *
    * Why this matters at 100 TB: yesterday's bucket(4) is today's skew
    * — evolving to bucket(16) must not rewrite 100 TB. This commit is
    * one manifest; the data migrates lazily through normal compaction.
    *
    * Time travel is unaffected: each snapshot carries its own spec. */
  def setPartitionSpec(root: String, partitionBy: Seq[String],
      transforms: Seq[PartTransform] = Nil): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    val schema = m.schemaJson.map(org.apache.spark.sql.types.DataType
      .fromJson(_).asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(throw new IllegalStateException(
        s"table at $root carries no schema — cannot evolve its spec"))
    validatePartitionSpec(schema, partitionBy, transforms)
    if (m.partitionBy == partitionBy && m.transforms == transforms)
      return latest // idempotent no-op: the spec already holds
    // the displaced spec's transforms become legacy (pruning keeps
    // working for old-generation files); identity partition columns
    // need no legacy entry — their stats are plain data-column stats
    val legacy = (m.transforms ++ m.legacyTransforms)
      .filterNot(transforms.contains).distinct
    publishEntries(root, m.files, latest, "schema",
      schemaJson = m.schemaJson.orNull, dvs = m.dvs,
      carryFrom = Some(latest),
      partitionBy = Some(partitionBy), transforms = Some(transforms),
      legacyTransforms = Some(legacy),
      constraints = Some(m.constraints), dropped = Some(m.dropped),
      physNames = Some(m.physNames),
      props = Map("graft.spec.previous" ->
        (m.partitionBy.map(pc => m.transforms.find(_.hidden == pc)
          .map(_.show).getOrElse(pc)).mkString(", ") match {
          case "" => "(unpartitioned)"
          case s => s
        })))
  }

  /** Staged-CTAS data write (the ATOMIC `CREATE [OR REPLACE] TABLE …
    * AS SELECT` path, Spark's `StagingTableCatalog` contract): the
    * query's files land under `root` UNPUBLISHED — data files are
    * invisible until a manifest references them, the engine's core
    * invariant, so a failed CTAS leaves NOTHING visible. The DECLARED
    * spec's hidden transforms derive here (there is no manifest to
    * derive from yet); no constraints inherit (a replace defines a NEW
    * table — the old one's CHECKs die with it); files land under
    * logical names (a fresh table has no column mapping). */
  private[graft] def stageCtasFiles(spark: SparkSession, root: String,
      df0: DataFrame, partitionBy: Seq[String],
      transforms: Seq[PartTransform]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.expr
    new File(root).mkdirs()
    val df = transforms.foldLeft(df0)((d, t) =>
      d.drop(t.hidden).withColumn(t.hidden,
        expr(t.sql(t.srcTypeIn(d.schema)))))
    writeBatch(spark, root, df, statsCols = Nil,
      partitionBy = partitionBy, physOverride = Some(Map.empty),
      latestOverride = Some(None))._1
  }

  /** Atomic CTAS/RTAS publish — ONE manifest CAS makes the staged
    * files visible. CREATE publishes v1 and fails loudly if the table
    * appeared meanwhile (the staged files stay orphaned and age out
    * via [[vacuum]] — the lost-OCC-race economics); REPLACE publishes
    * an overwrite on the EXISTING log, so the pre-replace history
    * stays fully time-travelable while constraints, column mapping,
    * tombstones, and legacy specs reset with the new schema (CREATE OR
    * REPLACE defines a new table under the old name — Delta's
    * contract). */
  private[graft] def publishCtas(root: String, entries: Seq[FileEntry],
      schemaJson: String, partitionBy: Seq[String],
      transforms: Seq[PartTransform],
      orReplace: Boolean, replaceOnly: Boolean): Long =
    publishCtasFrom(latestVersion(root), root, entries, schemaJson,
      partitionBy, transforms, orReplace, replaceOnly)

  /** [[publishCtas]] against a pre-read latest version — split out so
    * the create-race interleaving (latestVersion read None, a
    * concurrent writer lands v1 before the CAS) is deterministically
    * testable. */
  private[graft] def publishCtasFrom(latest: Option[Long], root: String,
      entries: Seq[FileEntry],
      schemaJson: String, partitionBy: Seq[String],
      transforms: Seq[PartTransform],
      orReplace: Boolean, replaceOnly: Boolean): Long =
    latest match {
      case None =>
        if (replaceOnly) throw new IllegalStateException(
          s"REPLACE TABLE: no table at $root (it was dropped between " +
            "stage and commit); re-run as CREATE")
        try publishEntries(root, entries, 0L, "append",
          schemaJson = schemaJson, partitionBy = Some(partitionBy),
          transforms = Some(transforms))
        catch {
          // a concurrent writer landing v1 between the latestVersion
          // check and the CAS is the already-exists race, not a
          // retryable conflict — the generic "re-read and retry"
          // guidance would keep failing. Re-dispatch against the
          // now-existing log: plain CREATE surfaces the CTAS-specific
          // already-exists error (with the staged-files-age-out-via-
          // VACUUM note), CREATE OR REPLACE proceeds as the replace.
          case _: VersionConflictException =>
            publishCtas(root, entries, schemaJson, partitionBy,
              transforms, orReplace, replaceOnly)
        }
      case Some(v) =>
        require(orReplace || replaceOnly,
          s"CTAS target at $root already exists (created concurrently " +
            "during the staged write) — the staged files stay " +
            "unpublished and age out via VACUUM")
        publishEntries(root, entries, v, "overwrite",
          schemaJson = schemaJson, partitionBy = Some(partitionBy),
          transforms = Some(transforms),
          constraints = Some(Map.empty), dropped = Some(Map.empty),
          physNames = Some(Map.empty), legacyTransforms = Some(Nil))
    }

  /** TRUNCATE TABLE — METADATA-ONLY at any table size: one manifest
    * commit whose live set is empty (action "overwrite", so change
    * feeds treat it exactly like any other full replacement). Schema,
    * partition layout, and CHECK constraints survive; pending
    * deletion vectors are moot and dropped;
    * drop-column tombstones auto-clear (no live file can carry
    * anything). The truncated-away files stay referenced by RETAINED
    * history (time travel still works) and age out through vacuum. */
  def truncate(root: String): Long = withOccRetry(None) {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val m = readManifest(root, latest)
    publishEntries(root, Nil, latest, "overwrite",
      schemaJson = m.schemaJson.orNull,
      partitionBy = Some(m.partitionBy),
      constraints = Some(m.constraints),
      dropped = Some(Map.empty), physNames = Some(Map.empty))
  }

  /** Schema history: one row per (retained version, column) — the SQL
    * window into schema evolution (which version added, dropped, or
    * renamed what; which physical name a logical column resolves to).
    * Driver-side like [[history]]: the log is O(versions) of small
    * JSON. Pre-schema manifests (no recorded schemaJson) are skipped. */
  def schemaHistory(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).flatMap { v =>
      val m = readManifest(root, v)
      m.schemaJson.toSeq.flatMap { json =>
        val s = org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        s.fields.toSeq.zipWithIndex.map { case (f, i) =>
          (v, m.action, i, f.name, f.dataType.sql, f.nullable,
            m.physNames.getOrElse(f.name, f.name))
        }
      }
    }.toDF("version", "action", "ordinal", "column", "type", "nullable",
      "physical_name")
  }

  /** DESCRIBE HISTORY: one row per retained version, straight from the
    * manifest log. Driver-side by design — the log is O(versions) of
    * small JSON, never O(data). `num_rows`/`num_bytes` are file-level
    * manifest sums (rows a pending deletion vector removes are still
    * counted until compact materializes them); `num_pending_deletes`
    * is the number of live files carrying pending deletion vectors. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).map { v =>
      val m = readManifest(root, v)
      (v, m.action,
        m.ts.getOrElse(manifestFile(root, v).lastModified()),
        m.files.size.toLong, m.files.map(_.rows).sum,
        m.files.map(_.bytes).sum, m.txnApp, m.txnBatch, m.cdf.size.toLong,
        m.dvs.size.toLong)
    }.toDF("version", "action", "timestamp_millis", "num_files", "num_rows",
      "num_bytes", "txn_app", "txn_batch", "num_change_files",
      "num_pending_deletes")
  }

  /** Drop all but the last `keepVersions` manifests and delete data
    * files no retained manifest references. Time travel keeps working
    * for every retained version. Returns deleted file count.
    *
    * `minAgeMs` is the in-flight-commit guard (Delta's vacuum retention,
    * same reason): a writer stages its batch dir BEFORE the manifest
    * hard-link publishes, so a concurrent vacuum would see those files
    * as unreferenced and delete them out from under the winning commit.
    * Files younger than `minAgeMs` are never touched; pass 0 only when
    * the table is known quiescent (tests, maintenance windows). */
  def vacuum(root: String, keepVersions: Int,
      minAgeMs: Long = 15L * 60 * 1000): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val all = versions(root)
    // TAGGED versions are retention-pinned: their manifests and files
    // survive any keepVersions window for as long as the tag lives —
    // `VERSION AS OF 'release-v1'` must keep resolving (the Iceberg
    // tag contract). DROP TAG releases the pin; the next vacuum
    // reclaims.
    val tagged = tagsOf(root).values.toSet
    val (drop0, keep) = all.splitAt(math.max(0, all.size - keepVersions))
    val drop = drop0.filterNot(tagged)
    val keptManifests = (keep ++ drop0.filter(tagged))
      .map(readManifest(root, _))
    val referenced = (keptManifests.flatMap(_.files.map(_.path)) ++
      keptManifests.flatMap(_.cdf) ++
      keptManifests.flatMap(_.dvs.flatMap(_.sidecars))).toSet
    // file-list segments share the sweep: keep any segment a retained
    // manifest references (segments are shared across versions, so one
    // keeper protects it for all); orphans — from dropped versions or
    // commits that lost the CAS race — age out like batch dirs
    val keptSegs = keptManifests.flatMap(_.segments).toSet
    val segRoot = new File(logDir(root), "segments")
    val segCutoff = System.currentTimeMillis() - minAgeMs
    if (segRoot.isDirectory) segRoot.listFiles().foreach { f =>
      val rel = s"_graft_log/segments/${f.getName}"
      if (!keptSegs.contains(rel) && f.lastModified() <= segCutoff) {
        segmentCache.remove(f.getAbsolutePath)
        Files.deleteIfExists(f.toPath); ()
      }
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    var deleted = 0
    // data files, change files AND dv sidecars share the sweep:
    // anything no retained manifest references goes
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    Seq("data", "cdf", "dv").foreach { sub =>
      val subRoot = new File(root, sub)
      if (subRoot.isDirectory) {
        subRoot.listFiles().foreach { batchDir =>
          if (batchDir.isDirectory) {
            // batches may nest hive-layout partition dirs — walk fully
            walkParquet(batchDir).foreach { f =>
              val rel = rootPath.relativize(
                f.toPath.toAbsolutePath.normalize()).toString
              if (!referenced.contains(rel) && f.lastModified() <= cutoff) {
                Files.deleteIfExists(f.toPath); deleted += 1
              }
            }
            // the dir itself gets the same age guard: a just-created batch
            // dir may not have its parquet parts yet
            if (batchDir.lastModified() <= cutoff &&
                walkParquet(batchDir).isEmpty)
              deleteRecursively(batchDir)
          }
        }
      }
    }
    drop.foreach { v =>
      val mf = manifestFile(root, v)
      // evict the dropped manifest's cached drop-version file set (the
      // segmentCache.remove analog): without this, long-lived sessions
      // over many vacuumed tables accumulate dead entries forever
      val dead = mf.getAbsolutePath
      dropFilesCache.keySet.removeIf(_._1 == dead)
      Files.deleteIfExists(mf.toPath)
    }
    // COPY INTO ledgers: keep any a retained manifest references (the
    // head always references the CURRENT one via prop inheritance) AND
    // every shard a kept index references (shards are shared across
    // generations by reference); orphans from crashed attempts and
    // ledgers referenced only by dropped manifests age out
    val keptLedgers = keptManifests.flatMap(_.props.get(CopyLedgerKey))
      .toSet.flatMap { (ref: String) =>
        val lf = resolve(root, ref)
        val shardRefs =
          if (!lf.isFile) Set.empty[String]
          else {
            val lines = Files.readAllLines(lf.toPath).asScala.toSeq
            if (lines.headOption.contains(CopyIndexMagic))
              parseCopyIndex(lines).map(_.rel).toSet
            else Set.empty[String]
          }
        shardRefs + ref
      }
    val copyDir = new File(logDir(root), "copy")
    if (copyDir.isDirectory) copyDir.listFiles().foreach { f =>
      if (!keptLedgers.contains(s"_graft_log/copy/${f.getName}") &&
          f.lastModified() <= cutoff) {
        Files.deleteIfExists(f.toPath); ()
      }
    }
    // coordinator temp siblings: a crash between temp staging and the
    // CAS link/move leaves a hidden `.v…-….tmp` beside the manifests —
    // never a commit ([[versions]] matches published names only) and
    // never read, but debris; the same age guard sweeps it
    val ld = logDir(root)
    if (ld.isDirectory) ld.listFiles().foreach { f =>
      if (f.isFile && f.getName.startsWith(".") &&
          f.getName.endsWith(".tmp") && f.lastModified() <= cutoff) {
        Files.deleteIfExists(f.toPath); ()
      }
    }
    deleted
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    Files.deleteIfExists(f.toPath)
  }

  // ------------------------------------------------- manifest (de)ser

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fileEntryNode(f: FileEntry): java.util.Map[String, Any] = {
    val stats = f.stats.map { case (k, (t, mn, mx)) =>
      k -> Map("type" -> t, "min" -> mn, "max" -> mx).asJava
    }.asJava
    val base = Map[String, Any]("path" -> f.path, "rows" -> f.rows,
      "bytes" -> f.bytes, "stats" -> stats)
    val withBlooms =
      if (f.blooms.isEmpty) base
      else base + ("blooms" -> f.blooms.map { case (k, b) =>
        k -> Map[String, Any]("bits" -> b.bits, "hashes" -> b.hashes,
          "words" -> b.words.map(java.lang.Long.valueOf).asJava).asJava
      }.asJava)
    val withNulls =
      if (f.nulls.isEmpty) withBlooms
      else withBlooms + ("nulls" -> f.nulls.map { case (k, n) =>
        k -> java.lang.Long.valueOf(n)
      }.asJava)
    withNulls.asJava
  }

  private def parseFileEntry(
      fn: com.fasterxml.jackson.databind.JsonNode): FileEntry = {
    val stats = Option(fn.get("stats")).map { sn =>
      sn.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> ((v.get("type").asText(), v.get("min").asText(),
          v.get("max").asText()))
      }.toMap
    }.getOrElse(Map.empty[String, (String, String, String)])
    val blooms = Option(fn.get("blooms")).map { bn =>
      bn.properties().asScala.map { e =>
        val b = e.getValue
        e.getKey -> BloomStat(b.get("bits").asInt(), b.get("hashes").asInt(),
          b.get("words").elements().asScala.map(_.asLong()).toIndexedSeq)
      }.toMap
    }.getOrElse(Map.empty[String, BloomStat])
    val nulls = Option(fn.get("nulls")).map { nn =>
      nn.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    FileEntry(fn.get("path").asText(), fn.get("rows").asLong(),
      fn.get("bytes").asLong(), stats, blooms, nulls)
  }

  // ------------------------------------------------ manifest segments

  /** Inline entries above this spill into a segment file at publish.
    * Overridable (system property) so specs can exercise the rolling
    * behavior without hundreds of commits. */
  private def segmentSpill: Int =
    sys.props.getOrElse("graft.versioned.segmentSpill", "64").toInt

  /** Spilled entry lists chunk into segments of at most this many
    * entries, so a later delete that touches one file re-inlines (and
    * re-spills) one bounded chunk — not the whole table's metadata. */
  private def segmentMaxEntries: Int =
    sys.props.getOrElse("graft.versioned.segmentMaxEntries", "1024").toInt

  /** Segments are immutable and uuid-named, so caching by absolute path
    * is safe: repeated snapshot reads parse each segment once per JVM,
    * and the resolved-manifest cost amortizes to O(new segments). */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()

  private def readSegment(root: String, rel: String): Seq[FileEntry] = {
    val f = new File(root, rel)
    val key = f.getAbsolutePath
    val hit = segmentCache.get(key)
    if (hit != null) hit
    else {
      val node = mapper.readTree(Files.readString(f.toPath))
      val entries =
        node.get("files").elements().asScala.map(parseFileEntry).toSeq
      segmentCache.put(key, entries)
      entries
    }
  }

  private def writeSegment(root: String, entries: Seq[FileEntry]): String = {
    val dir = new File(logDir(root), "segments")
    dir.mkdirs()
    val name = s"seg-${java.util.UUID.randomUUID()}.json"
    val f = new File(dir, name)
    Files.writeString(f.toPath, mapper.writeValueAsString(
      Map[String, Any]("files" -> entries.map(fileEntryNode).asJava).asJava))
    segmentCache.put(f.getAbsolutePath, entries)
    s"_graft_log/segments/$name"
  }

  /** Manifest FORMAT version (Delta's minReaderVersion / Iceberg's
    * format-version): stamped into every manifest written; readers
    * REJECT formats newer than they understand, so a future extension
    * (as the segmented log was) fails loudly on an old reader instead
    * of silently returning partial data. Bump when a change makes old
    * readers return WRONG results rather than error. */
  // 1 = inline files only; 2 = + segmented log; 3 = + drop-column
  // tombstones; 4 = + column mapping; 5 = + hidden partition
  // transforms. A manifest is stamped with the LOWEST format that
  // expresses it (Delta's feature-gated protocol bump): a table that
  // never dropped or renamed a column keeps publishing format 2,
  // readable by any format-2 reader — only an ACTIVE tombstone (whose
  // gate an old reader would not enforce on ADD COLUMNS) forces 3, an
  // active column mapping (which an old reader would misread as null
  // columns) forces 4, and active partition transforms force 5 (an
  // old writer would re-publish the manifest WITHOUT the transform
  // spec — silent metadata loss — and could never derive the hidden
  // column for its own writes).
  val ManifestFormat = 5

  private def renderJson(m: Manifest): String = {
    val filesNode = m.files.map(fileEntryNode).asJava
    val base = Map[String, Any]("version" -> m.version,
      "format" -> (if (m.transforms.nonEmpty ||
                       m.legacyTransforms.nonEmpty) 5
                   else if (m.physNames.nonEmpty) 4
                   else if (m.dropped.nonEmpty) 3 else 2),
      "action" -> m.action, "files" -> filesNode) ++
      (if (m.segments.isEmpty) Nil
       else Seq("segments" -> m.segments.asJava))
    val withTxn = base ++
      m.txnApp.map("txnApp" -> _) ++ m.txnBatch.map("txnBatch" -> (_: Any)) ++
      m.schemaJson.map("schema" -> _) ++
      (if (m.cdf.isEmpty) Nil else Seq("cdf" -> m.cdf.asJava)) ++
      (if (m.partitionBy.isEmpty) Nil
       else Seq("partitionBy" -> m.partitionBy.asJava)) ++
      (if (m.props.isEmpty) Nil else Seq("props" -> m.props.asJava)) ++
      (if (m.constraints.isEmpty) Nil
       else Seq("constraints" -> m.constraints.asJava)) ++
      (if (m.dropped.isEmpty) Nil
       else Seq("dropped" -> m.dropped.map { case (c, v) =>
         c -> java.lang.Long.valueOf(v)
       }.asJava)) ++
      (if (m.physNames.isEmpty) Nil
       else Seq("physNames" -> m.physNames.asJava)) ++
      (if (m.transforms.isEmpty) Nil
       else Seq("transforms" -> m.transforms.map(t =>
         Map[String, Any]("hidden" -> t.hidden, "fn" -> t.fn,
           "n" -> t.n, "src" -> t.src).asJava).asJava)) ++
      (if (m.legacyTransforms.isEmpty) Nil
       else Seq("legacyTransforms" -> m.legacyTransforms.map(t =>
         Map[String, Any]("hidden" -> t.hidden, "fn" -> t.fn,
           "n" -> t.n, "src" -> t.src).asJava).asJava)) ++
      m.ts.map("ts" -> java.lang.Long.valueOf(_)) ++
      (if (m.dvs.isEmpty) Nil else Seq("dvs" -> m.dvs.map { d =>
        val base = Map[String, Any]("file" -> d.file,
          "positions" -> d.positions.map(java.lang.Long.valueOf).asJava)
        val withSc =
          if (d.sidecars.isEmpty) base
          else base + ("sidecars" -> d.sidecars.asJava)
        (d.scRows match {
          case Some(n) => withSc + ("scRows" -> java.lang.Long.valueOf(n))
          case None => withSc
        }).asJava
      }.asJava))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(withTxn.asJava)
  }

  private def readManifest(root: String, v: Long): Manifest = {
    val f = manifestFile(root, v)
    // the safety rail every reader shares (time travel, changesSince/
    // changeFeed, the streaming source): a missing manifest names its
    // CAUSE — in particular, a version dropped by VACUUM retention
    // tells the stuck consumer how to recover instead of surfacing a
    // bare missing-file read error
    if (!f.isFile) {
      val vs = versions(root)
      val hint =
        if (vs.isEmpty) "the table has no versions"
        else if (v < vs.head)
          s"version $v was removed by VACUUM retention (earliest " +
            s"retained is ${vs.head}, head is ${vs.last}) — an " +
            "incremental reader or feed positioned there cannot " +
            "resume; restart it from the latest snapshot (read " +
            s"version ${vs.last}, then follow changes after it) or " +
            "re-run VACUUM with a larger RETAIN window before the " +
            "history is needed"
        else if (v > vs.last)
          s"version $v does not exist yet (head is ${vs.last})"
        else
          s"version $v was removed by VACUUM retention (retained " +
            s"range is ${vs.head}..${vs.last}, non-contiguous)"
      throw new IllegalArgumentException(
        s"cannot read version $v at $root: $hint")
    }
    val node = mapper.readTree(Files.readString(f.toPath))
    // format gate: a manifest written by a NEWER format must fail
    // loudly — parsing only the fields this reader knows could
    // silently drop files (absent field = format 1, pre-gate era)
    val fmt = Option(node.get("format")).map(_.asInt()).getOrElse(1)
    require(fmt <= ManifestFormat,
      s"manifest v$v at $root has format $fmt, newer than this " +
        s"reader's $ManifestFormat — upgrade the reader (parsing a " +
        "newer format could silently return partial data)")
    // predicate merge-on-read deletes (a `mor` array) are no longer
    // applied: reading past them would resurrect the deleted rows
    val mor = Option(node.get("mor")).map(_.size()).getOrElse(0)
    require(mor == 0,
      s"manifest v$v at $root carries $mor pending predicate " +
        "merge-on-read delete(s), which this reader no longer applies " +
        "(reading the files without them would resurrect deleted " +
        "rows) — compact the table first, with a release that still " +
        "applies them")
    val inline =
      node.get("files").elements().asScala.map(parseFileEntry).toSeq
    val segs = Option(node.get("segments")).map(_.elements().asScala
      .map(_.asText()).toSeq).getOrElse(Nil)
    // `files` is the RESOLVED live set (inline ∪ segments) — every
    // reader keeps working on the full list; `segments` rides along for
    // carry-by-reference at publish and for vacuum's reference sweep
    val files = inline ++ segs.flatMap(readSegment(root, _))
    Manifest(node.get("version").asLong(), node.get("action").asText(), files,
      segments = segs,
      txnApp = Option(node.get("txnApp")).map(_.asText()),
      txnBatch = Option(node.get("txnBatch")).map(_.asLong()),
      schemaJson = Option(node.get("schema")).map(_.asText()),
      cdf = Option(node.get("cdf")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Nil),
      partitionBy = Option(node.get("partitionBy")).map(_.elements()
        .asScala.map(_.asText()).toSeq).getOrElse(Nil),
      props = Option(node.get("props")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      constraints = Option(node.get("constraints"))
        .map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      dropped = Option(node.get("dropped"))
        .map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap)
        .getOrElse(Map.empty),
      physNames = Option(node.get("physNames"))
        .map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      transforms = Option(node.get("transforms"))
        .map(_.elements().asScala.map { t =>
          PartTransform(t.get("hidden").asText(), t.get("fn").asText(),
            t.get("n").asInt(), t.get("src").asText())
        }.toSeq).getOrElse(Nil),
      legacyTransforms = Option(node.get("legacyTransforms"))
        .map(_.elements().asScala.map { t =>
          PartTransform(t.get("hidden").asText(), t.get("fn").asText(),
            t.get("n").asInt(), t.get("src").asText())
        }.toSeq).getOrElse(Nil),
      dvs = Option(node.get("dvs")).map(_.elements().asScala.map { d =>
        DvEntry(d.get("file").asText(), d.get("positions").elements()
          .asScala.map(_.asLong()).toSeq,
          Option(d.get("sidecars")).map(_.elements().asScala
            .map(_.asText()).toSeq).getOrElse(Nil),
          Option(d.get("scRows")).map(_.asLong()))
      }.toSeq).getOrElse(Nil),
      ts = Option(node.get("ts")).map(_.asLong()))
  }

  // --------------------------------------------------- footer stats

  /** One manifest entry for a freshly written file: row count and byte
    * size from the footer, plus min/max for each requested stats column
    * (metadata-only read — the data pages are never touched). */
  private def fileEntry(spark: SparkSession, root: String, f: File,
      statsCols: Seq[String]): FileEntry =
    fileEntryWithConf(root, f, statsCols, spark.sessionState.newHadoopConf())

  /** Footer-stats extraction with an explicit Hadoop conf — callable
    * from EXECUTOR tasks (the DSv2 write path computes each staged
    * file's manifest entry in the task that wrote it; the driver then
    * publishes metadata only). */
  private[graft] def fileEntryWithConf(root: String, f: File,
      statsCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): FileEntry = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val stats = statsCols.flatMap { col =>
        val perBlock = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == col)
            .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
        }
        if (perBlock.isEmpty || perBlock.size != blocks.size) None
        else {
          val typed = perBlock.map(s => (s.genericGetMin, s.genericGetMax))
          typed.head match {
            case (_: java.lang.Long, _) | (_: java.lang.Integer, _) =>
              val mns = typed.map(_._1 match {
                case l: java.lang.Long => l.longValue()
                case i: java.lang.Integer => i.longValue()
              })
              val mxs = typed.map(_._2 match {
                case l: java.lang.Long => l.longValue()
                case i: java.lang.Integer => i.longValue()
              })
              Some(col -> (("long", mns.min.toString, mxs.max.toString)))
            case (_: java.lang.Double, _) | (_: java.lang.Float, _) =>
              val mns = typed.map(_._1 match {
                case d: java.lang.Double => d.doubleValue()
                case fl: java.lang.Float => fl.doubleValue()
              })
              val mxs = typed.map(_._2 match {
                case d: java.lang.Double => d.doubleValue()
                case fl: java.lang.Float => fl.doubleValue()
              })
              Some(col -> (("double", mns.min.toString, mxs.max.toString)))
            case (_: org.apache.parquet.io.api.Binary, _) =>
              val mns = typed.map(_._1.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8)
              val mxs = typed.map(_._2.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8)
              Some(col -> (("string", mns.min, mxs.max)))
            case _ => None // unsupported stats type → no pruning for col
          }
        }
      }.toMap
      // null counts come from the same footer read; unlike min/max they
      // exist even for all-null files (which have NO non-null values)
      val nulls = statsCols.flatMap { col =>
        val perBlock = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == col)
            .map(_.getStatistics)
            .filter(s => s != null && s.isNumNullsSet && s.getNumNulls >= 0)
        }
        if (perBlock.size != blocks.size) None
        else Some(col -> perBlock.map(_.getNumNulls).sum)
      }.toMap
      val rel = Paths.get(root).toAbsolutePath.normalize()
        .relativize(f.toPath.toAbsolutePath.normalize()).toString
      FileEntry(rel, rows, f.length(), stats, nulls = nulls)
    } finally reader.close()
  }
}
