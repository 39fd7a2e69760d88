package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch mutation semantics (SURVEY §2.10): incremental MERGE upsert,
  * SCD Type-2 snapshots, full-refresh vs incremental — implemented over
  * plain parquet tables (this environment ships no Delta jars; on a real
  * deployment each rewrite below maps 1:1 onto `MERGE INTO` /
  * `replaceWhere`, which rewrite only matched files instead of the table).
  *
  * Scale note: the upsert join is keyed on the unique key (shuffle join,
  * or broadcast when the update batch is small — the common case for
  * incremental loads); the rewrite cost is bounded by partition pruning
  * when callers pass `partitionBy`.
  */
object Mutation {

  /** Read a parquet table if it exists, else None (first-run bootstrap). */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (new java.io.File(path).exists()) Some(spark.read.parquet(path)) else None

  /** Delete+insert upsert on `key` (dbt incremental `unique_key`
    * semantics, M1): target rows whose key appears in `updates` are
    * replaced; everything else is kept. Idempotent — replaying the same
    * batch yields the same table. */
  def mergeUpsert(spark: SparkSession, targetPath: String, updates: DataFrame,
      key: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    val merged = readIfExists(spark, targetPath) match {
      case None => updates
      case Some(target) =>
        val kept = target.join(
          updates.select(key.map(col): _*).distinct(), key, "left_anti")
        kept.unionByName(updates)
    }
    overwriteAtomic(spark, targetPath, merged, partitionBy)
  }

  /** Partition-pruned delete+insert upsert — Delta `replaceWhere`
    * semantics on plain parquet, and the 100 TB answer to
    * [[mergeUpsert]]'s whole-table rewrite: only the partitions the
    * update batch NAMES are read, merged, and swapped; every other
    * partition's files are never opened, so they stay byte-identical
    * (spec-asserted). On a date-partitioned fact table a daily batch
    * then costs O(touched days), not O(table).
    *
    * The touched-partition set comes from one `distinct` over the
    * batch's partition columns (bounded by partition count, collected
    * driver-side like Delta's file-pruning listing), the target read
    * carries an IN-list predicate on the partition columns (Catalyst
    * partition pruning — the scan lists only touched directories), and
    * the swap renames exactly those directories through the same
    * staged-.old dance as [[overwriteAtomic]].
    *
    * CONTRACT (same as Delta `replaceWhere`): a key's partition value
    * is stable across updates — the update row for a key carries the
    * SAME partition value its current row has. A key that silently
    * moved partitions would leave its old row in an unread partition;
    * partition values must be non-null (enforced).
    */
  def mergeUpsertPruned(spark: SparkSession, targetPath: String,
      updates: DataFrame, key: Seq[String], partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty,
      "mergeUpsertPruned needs partition columns — use mergeUpsert for unpartitioned tables")
    val touched = updates.select(partitionBy.map(col): _*).distinct().collect()
    require(touched.forall(r => partitionBy.indices.forall(!r.isNullAt(_))),
      "mergeUpsertPruned: null partition values are not supported")
    readIfExists(spark, targetPath) match {
      case None =>
        val w = updates.write.mode("overwrite").partitionBy(partitionBy: _*)
        w.parquet(targetPath)
      case Some(target) =>
        // OR-of-ANDs over the touched partition tuples — the shape the
        // datasource strategy recognizes as a partition predicate, so
        // the scan lists only touched directories (PartitionFilters in
        // the physical plan, spec-asserted)
        val pruned = target.filter(touched.map { r =>
          partitionBy.zipWithIndex.map { case (c, i) =>
            col(c) === lit(r.get(i))
          }.reduce(_ && _)
        }.reduce(_ || _))
        val kept = pruned.join(
          updates.select(key.map(col): _*).distinct(), key, "left_anti")
        val merged = kept.unionByName(updates)
        val staging = targetPath + ".staging"
        deleteRecursively(new java.io.File(staging))
        merged.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(staging)
        touched.foreach { r =>
          val rel = partitionBy.zipWithIndex.map { case (c, i) =>
            s"$c=${escapePathName(String.valueOf(r.get(i)))}"
          }.mkString("/")
          swapDir(new java.io.File(s"$staging/$rel"),
            new java.io.File(s"$targetPath/$rel"))
        }
        deleteRecursively(new java.io.File(staging))
    }
  }

  /** File-pruned delete+insert upsert — one level finer than
    * [[mergeUpsertPruned]], and the closest plain parquet gets to
    * Delta's matched-file MERGE: only DATA FILES whose footer
    * [min, max] statistics for the key column can contain an update
    * key are read and rewritten; every other file is untouched
    * (byte-identical, spec-asserted). On a key-clustered table (the
    * layout `repartitionByRange(...).sortWithinPartitions` writes,
    * and what any compaction job maintains) an incremental batch
    * rewrites O(matched files), not O(table).
    *
    * Mechanics, mirroring what a Delta writer does with its stats:
    *  - the update key set is collected driver-side (bounded by the
    *    incremental batch — the same bound Delta's predicate collection
    *    has) and sorted. DRIVER BOUND: the collect itself is capped at
    *    `maxPrunedKeys + 1` rows via limit, so a batch whose key
    *    cardinality exceeds `maxPrunedKeys` (default 2M — a few tens
    *    of MB of driver heap) NEVER materializes unbounded keys;
    *    it falls back to [[mergeUpsert]]'s distributed anti-join
    *    (logged) — a 100M-key "incremental" batch is a backfill, and
    *    the whole-table merge is the right plan for it anyway. The
    *    manifest-native MERGE ([[graft.operators.Versioned.merge]])
    *    has no such driver step and is the production verb;
    *  - each target file's footer is opened METADATA-ONLY
    *    (parquet-hadoop `ParquetFileReader`; row groups never read) and
    *    its per-row-group min/max for `keyCol` is probed against the
    *    key set with a binary search — files with no overlapping key,
    *    skipped; files without usable stats, conservatively touched;
    *  - touched files are read, anti-joined, unioned with the updates,
    *    and staged; staged files then move into the target dir under
    *    fresh names BEFORE the touched originals are deleted.
    *
    * Durability note (the honest difference from Delta): without a
    * transaction log the final move+delete is not one atomic commit —
    * a crash between them leaves both old and new files (duplicates a
    * re-run of the same merge heals, never lost rows). Delta's log is
    * exactly the fix for that window; the scan/prune/rewrite economics
    * are identical.
    *
    * Supported key types for stats probing: integral (INT32/INT64) and
    * string (BINARY/UTF8) — the surrogate/natural key shapes the
    * catalog uses.
    */
  def mergeUpsertFilePruned(spark: SparkSession, targetPath: String,
      updates: DataFrame, keyCol: String,
      maxPrunedKeys: Int = 2_000_000): Unit = {
    require(maxPrunedKeys > 0 && maxPrunedKeys < Int.MaxValue,
      s"maxPrunedKeys must be in [1, Int.MaxValue), got $maxPrunedKeys " +
        "(the probe collects maxPrunedKeys + 1 rows to detect overflow)")
    readIfExists(spark, targetPath) match {
      case None =>
        updates.write.mode("overwrite").parquet(targetPath)
      case Some(target) =>
        val keyIsString = target.schema(keyCol).dataType ==
          org.apache.spark.sql.types.StringType
        // sorted update keys, as comparable doubles-free ordinals.
        // limit(cap + 1) bounds the collect BEFORE it happens: past
        // the cap the batch is no longer "incremental" and the
        // distributed whole-table merge takes over (see Scaladoc)
        val keys = updates.select(col(keyCol)).distinct()
          .limit(maxPrunedKeys + 1).collect()
        if (keys.length > maxPrunedKeys) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"mergeUpsertFilePruned: update batch exceeds " +
              s"maxPrunedKeys=$maxPrunedKeys distinct keys — falling " +
              "back to the non-pruned distributed merge (no driver-side " +
              "key set); for routine batches this large use the " +
              "manifest-native Versioned.merge")
          mergeUpsert(spark, targetPath, updates, Seq(keyCol))
          return
        }
        val keyLongs: Array[Long] =
          if (keyIsString) Array.empty
          else keys.map(r => r.get(0) match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case o => throw new IllegalArgumentException(
              s"unsupported key type for stats pruning: ${o.getClass}")
          }).sorted
        // String keys compare as UNSIGNED UTF-8 bytes — parquet's
        // BINARY stats order. Java String ordering (UTF-16 code units)
        // disagrees for supplementary characters (e.g. emoji sort
        // below U+FFFD in UTF-16 but above it in UTF-8), which would
        // wrongly prune a file that contains the key.
        val keyBytes: Array[Array[Byte]] =
          if (keyIsString)
            keys.map(_.getString(0).getBytes("UTF-8")).sortWith(cmpU(_, _) < 0)
          else Array.empty

        def anyKeyIn(minL: Long, maxL: Long): Boolean = {
          val i = java.util.Arrays.binarySearch(keyLongs, minL)
          val from = if (i >= 0) i else -i - 1
          from < keyLongs.length && keyLongs(from) <= maxL
        }
        def anyKeyInStr(minB: Array[Byte], maxB: Array[Byte]): Boolean = {
          // first key ≥ min (binary search on the unsigned order)
          var lo = 0; var hi = keyBytes.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cmpU(keyBytes(mid), minB) < 0) lo = mid + 1 else hi = mid
          }
          lo < keyBytes.length && cmpU(keyBytes(lo), maxB) <= 0
        }

        val dataFiles = new java.io.File(targetPath).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
        val conf = spark.sessionState.newHadoopConf()
        val (touched, skipped) = dataFiles.partition { f =>
          fileMayContainKey(f, keyCol, conf, anyKeyIn, anyKeyInStr)
        }

        if (skipped.isEmpty && touched.isEmpty) {
          updates.write.mode("append").parquet(targetPath); return
        }
        val staging = targetPath + ".staging"
        deleteRecursively(new java.io.File(staging))
        val merged =
          if (touched.isEmpty) updates
          else {
            val hot = spark.read.parquet(touched.map(_.getPath): _*)
            hot.join(updates.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
              .unionByName(updates)
          }
        merged.write.mode("overwrite").parquet(staging)
        // move staged files in under fresh names, THEN drop the originals
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        new java.io.File(staging).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (f, i) =>
            val dest = new java.io.File(targetPath, s"merged-$stamp-$i.parquet")
            if (!f.renameTo(dest))
              throw new java.io.IOException(s"could not publish $dest")
          }
        touched.foreach(_.delete())
        deleteRecursively(new java.io.File(staging))
    }
  }

  /** Unsigned lexicographic byte comparison — parquet's BINARY order. */
  private def cmpU(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Metadata-only overlap probe: open the parquet FOOTER and test every
    * row group's [min, max] for `keyCol` against the update key set.
    * Missing/unusable stats → conservatively true. */
  private def fileMayContainKey(f: java.io.File, keyCol: String,
      conf: org.apache.hadoop.conf.Configuration,
      anyKeyIn: (Long, Long) => Boolean,
      anyKeyInStr: (Array[Byte], Array[Byte]) => Boolean): Boolean = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), conf))
    try {
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == keyCol)
          .forall { cc =>
            val st = cc.getStatistics
            if (st == null || !st.hasNonNullValue) true
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                anyKeyIn(mn, mx)
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                anyKeyIn(mn.longValue(), mx.longValue())
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) =>
                anyKeyInStr(mn.getBytes, mx.getBytes)
              case _ => true
            }
          }
      }
    } finally reader.close()
  }

  /** Small-file compaction — the OPTIMIZE verb of a lakehouse table:
    * bin-packs a directory of parquet files into ~`targetBytes` files.
    * Incremental writers (micro-batch sinks, per-batch merges) bleed
    * small files; at 100 TB the file count itself becomes the
    * bottleneck (driver listing, scan task scheduling, open() overhead)
    * — the reference's lake tables set the same 128 MB target this
    * defaults to.
    *
    * With `clusterBy` the rewrite is `repartitionByRange + sort` on the
    * key, so compaction MAINTAINS the disjoint per-file key ranges that
    * [[mergeUpsertFilePruned]]'s footer-stats pruning depends on — run
    * the two together and an incremental pipeline keeps both its file
    * sizes and its clustering. Without it, round-robin bin-packing.
    *
    * No-op (returns false) when the directory already has ≤ 1 file or
    * every file is already ≥ half the target — rewriting well-sized
    * files would churn bytes for nothing. Swap is the staged-rename
    * dance of [[overwriteAtomic]]. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Option[String] = None): Boolean =
    compactWith(spark, path, targetBytes, (df, nOut) => clusterBy match {
      case Some(k) =>
        df.repartitionByRange(nOut, col(k)).sortWithinPartitions(k)
      case None => df.repartition(nOut)
    })

  /** [[compact]] with a caller-supplied reshape (e.g. [[ZOrder.cluster]]
    * for multi-column clustering): same size gate, same staged-rename
    * publish; `reshape(df, nOut)` decides the physical layout. */
  def compactWith(spark: SparkSession, path: String, targetBytes: Long,
      reshape: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Boolean = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) return false
    val files = dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val total = files.map(_.length).sum
    if (files.length <= 1 || files.forall(_.length >= targetBytes / 2)) return false
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val reshaped = reshape(df, nOut)
    val tmp = path + ".compacting"
    deleteRecursively(new java.io.File(tmp))
    reshaped.write.mode("overwrite").parquet(tmp)
    val trash = new java.io.File(path + ".old")
    deleteRecursively(trash)
    if (!dir.renameTo(trash))
      throw new java.io.IOException(s"could not stage out $path")
    if (!new java.io.File(tmp).renameTo(dir))
      throw new java.io.IOException(
        s"could not publish compacted $path; previous data at $trash")
    deleteRecursively(trash)
    true
  }

  /** Hive-style partition-value escaping (subset: the characters Spark's
    * own path layer escapes that can appear in typed partition values —
    * everything else round-trips literally). */
  private def escapePathName(v: String): String =
    v.flatMap {
      case c if c < ' ' || "\"#%'*/:=?\\{}[]^".contains(c) => f"%%${c.toInt}%02X"
      case c => c.toString
    }

  /** Swap `fresh` into `live`'s place with the .old backup dance of
    * [[overwriteAtomic]] (backup deleted only after the swap succeeds). */
  private def swapDir(fresh: java.io.File, live: java.io.File): Unit = {
    require(fresh.exists(), s"staged partition missing: $fresh")
    val trash = new java.io.File(live.getPath + ".old")
    if (live.exists()) {
      deleteRecursively(trash)
      if (!live.renameTo(trash))
        throw new java.io.IOException(s"could not stage out old $live")
    }
    live.getParentFile.mkdirs()
    if (!fresh.renameTo(live))
      throw new java.io.IOException(
        s"could not swap $fresh into place; previous data kept at $trash")
    deleteRecursively(trash)
  }

  /** Incremental append with a high-watermark filter (M1/A9): only rows
    * strictly past max(watermarkCol) in the target are processed. */
  def incrementalInsert(spark: SparkSession, targetPath: String,
      batch: DataFrame, watermarkCol: String, key: Seq[String]): Unit = {
    val fresh = readIfExists(spark, targetPath) match {
      case None => batch
      case Some(target) =>
        val wm = target.agg(max(col(watermarkCol)).as("wm"))
        batch.join(broadcast(wm)).filter(col(watermarkCol) > col("wm")).drop("wm")
    }
    mergeUpsert(spark, targetPath, fresh, key)
  }

  /** SCD Type-2 `check` snapshot (M2): compares `checkCols` of the
    * incoming snapshot against current (open) rows per `key`; changed or
    * new keys get a new open row, superseded rows are closed at
    * `batchTs`. Emits (scd_id, valid_from, valid_to) like dbt snapshots;
    * valid_to IS NULL = current. */
  def scd2Apply(spark: SparkSession, targetPath: String, snapshot: DataFrame,
      key: Seq[String], checkCols: Seq[String],
      batchTs: java.sql.Timestamp): Unit = {
    val hashExpr = md5(concat_ws("|",
      (key ++ checkCols).map(c => coalesce(col(c).cast("string"), lit(""))): _*))
    val incoming = snapshot
      .withColumn("scd_hash", hashExpr)
      .withColumn("scd_id", md5(concat_ws("|",
        (key.map(c => col(c).cast("string")) :+ lit(batchTs.toString)): _*)))
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))

    val result = readIfExists(spark, targetPath) match {
      case None => incoming
      case Some(existing) =>
        val open = existing.filter(col("valid_to").isNull)
        val closed = existing.filter(col("valid_to").isNotNull)
        // Changed keys: open rows whose hash differs from incoming.
        val openVsNew = open.as("o").join(
          incoming.select((key.map(col) :+ col("scd_hash").as("new_hash")): _*).as("n"),
          key, "left")
        val stillCurrent = openVsNew
          .filter(col("new_hash").isNotNull && col("new_hash") === col("scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
        val toClose = openVsNew
          .filter(col("new_hash").isNull || col("new_hash") =!= col("scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
          .withColumn("valid_to", lit(batchTs))
        // New versions: incoming keys that are new or changed.
        val currentHashes = open.select(
          (key.map(col) :+ col("scd_hash").as("cur_hash")): _*)
        val newVersions = incoming.as("n").join(currentHashes.as("c"), key, "left")
          .filter(col("cur_hash").isNull || col("cur_hash") =!= col("n.scd_hash"))
          .select(incoming.columns.map(c => col(s"n.$c")): _*)
        closed.unionByName(toClose).unionByName(stillCurrent).unionByName(newVersions)
    }
    overwriteAtomic(spark, targetPath, result)
  }

  /** SCD Type-2 from a CHANGE set (the CDC-fed variant of [[scd2Apply]]):
    * instead of a full snapshot — whose absent keys mean "close" — the
    * input is the collapsed per-key delta of a CDC micro-batch:
    * `upserts` (last c/u image per key) and `deleteKeys` (keys whose last
    * op was d). Untouched open rows stay open; a full snapshot of a
    * 100 TB dimension per micro-batch is exactly what CDC exists to
    * avoid. Semantics proven equal to the snapshot path: feeding the
    * same batch sequence through [[scd2Apply]] (with independently
    * maintained full snapshots) yields a byte-identical history
    * (spec: CdcScd2Spec).
    */
  def scd2ApplyChanges(spark: SparkSession, targetPath: String,
      upserts: DataFrame, deleteKeys: DataFrame,
      key: Seq[String], checkCols: Seq[String],
      batchTs: java.sql.Timestamp): Unit = {
    val hashExpr = md5(concat_ws("|",
      (key ++ checkCols).map(c => coalesce(col(c).cast("string"), lit(""))): _*))
    val delK = deleteKeys.select(key.map(col): _*)
    // DELETE WINS when a key appears in both inputs (the tie rule
    // cdcScd2Stream establishes when collapsing a batch) — enforced
    // structurally here by anti-joining upserts against deleteKeys, so
    // a caller handing in overlapping sets cannot resurrect a deleted
    // key with a same-batch insert.
    val liveUpserts = upserts.join(delK, key, "left_anti")
    val incoming = liveUpserts
      .withColumn("scd_hash", hashExpr)
      .withColumn("scd_id", md5(concat_ws("|",
        (key.map(c => col(c).cast("string")) :+ lit(batchTs.toString)): _*)))
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))

    val result = readIfExists(spark, targetPath) match {
      case None => incoming
      case Some(existing) =>
        val open = existing.filter(col("valid_to").isNull)
        val closed = existing.filter(col("valid_to").isNotNull)
        // open rows split three ways: deleted → close; changed → close
        // (new version arrives below); untouched / same-hash → keep open
        val openNotDel = open.join(delK, key, "left_anti")
        val toCloseDel = open.join(delK, key, "left_semi")
          .withColumn("valid_to", lit(batchTs))
        val openVsNew = openNotDel.as("o").join(
          incoming.select((key.map(col) :+ col("scd_hash").as("new_hash")): _*).as("n"),
          key, "left")
        val stillCurrent = openVsNew
          .filter(col("new_hash").isNull || col("new_hash") === col("o.scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
        val toCloseChanged = openVsNew
          .filter(col("new_hash").isNotNull && col("new_hash") =!= col("o.scd_hash"))
          .select(open.columns.map(c => col(s"o.$c")): _*)
          .withColumn("valid_to", lit(batchTs))
        // new versions: upserts whose key has no open row or whose hash
        // changed (an upsert identical to the open row emits nothing)
        val currentHashes = open.select(
          (key.map(col) :+ col("scd_hash").as("cur_hash")): _*)
        val newVersions = incoming.as("n").join(currentHashes.as("c"), key, "left")
          .filter(col("cur_hash").isNull || col("cur_hash") =!= col("n.scd_hash"))
          .select(incoming.columns.map(c => col(s"n.$c")): _*)
        closed.unionByName(toCloseDel).unionByName(toCloseChanged)
          .unionByName(stillCurrent).unionByName(newVersions)
    }
    overwriteAtomic(spark, targetPath, result)
  }

  /** Full-refresh vs incremental behind one flag (M3). */
  def build(spark: SparkSession, targetPath: String, batch: DataFrame,
      key: Seq[String], fullRefresh: Boolean): Unit =
    if (fullRefresh) overwriteAtomic(spark, targetPath, batch)
    else mergeUpsert(spark, targetPath, batch, key)

  /** Parquet "overwrite self-read" safely: stage to a temp dir, swap.
    * (Delta/Iceberg make this a transactional no-op; plain parquet needs
    * the staging hop because the plan still reads the target.) */
  private[graft] def overwriteAtomic(spark: SparkSession, targetPath: String,
      df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val tmp = targetPath + ".staging"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
    val target = new java.io.File(targetPath)
    if (target.exists()) {
      val trash = new java.io.File(targetPath + ".old")
      deleteRecursively(trash)
      if (!target.renameTo(trash))
        throw new java.io.IOException(s"could not stage out old $targetPath")
    }
    // Check the swap succeeded BEFORE deleting the .old backup — a failed
    // rename with the backup already deleted would lose the table.
    if (!new java.io.File(tmp).renameTo(target))
      throw new java.io.IOException(
        s"could not swap $tmp into place; previous data kept at $targetPath.old")
    deleteRecursively(new java.io.File(targetPath + ".old"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) f.delete()
  }
}
