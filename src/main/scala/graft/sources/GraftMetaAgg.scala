package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Versioned

/** Metadata-only aggregate answering — the Iceberg/Delta "answer
  * COUNT/MIN/MAX from the manifest" economics, surfaced through DSv2
  * `SupportsPushDownAggregates` with COMPLETE pushdown onto a
  * [[LocalScan]]: Spark plans the result as a `LocalTableScanExec`,
  * so `SELECT count(*) FROM cat.ns.t` (or `max(ingest_day)` — the
  * incremental-pipeline watermark probe) launches ZERO tasks and reads
  * ZERO data bytes at any table size. At 100 TB this is the difference
  * between a sub-millisecond catalog lookup and a full-table scan.
  *
  * What answers, and from which manifest fact:
  *  - `COUNT(*)`             — Σ per-file `rows` (always recorded)
  *  - `COUNT(col)`           — Σ (`rows` − footer null count); needs
  *                             the null count recorded for EVERY live
  *                             file (stats-tracked columns)
  *  - `MIN(col)` / `MAX(col)`— fold of per-file footer min/max; needs
  *                             stats on every live file that isn't
  *                             provably all-null
  *  - `GROUP BY p, …`        — any column whose per-file stats are
  *                             single-valued (min == max): partition
  *                             columns by invariant, clustered stats
  *                             columns by luck
  *
  * Everything else REFUSES — `tryCompute` returns None and the read
  * plans the ordinary (vectorized, stats-pruned) scan. Refusal is the
  * correctness backbone; the cases, each spec-pinned:
  *  - any pushed/residual filter (Spark only offers aggregates when no
  *    post-scan filter remains, but the builder re-checks — advisory
  *    file pruning must never become load-bearing);
  *  - MIN/MAX/COUNT(col) under pending deletion vectors: per-file
  *    stats still describe deleted rows (COUNT(*) answers exactly as
  *    Σ(rows − deleted));
  *  - a live file missing the needed stat (schema evolution added the
  *    column later; a block-mixed file; an unsupported footer type);
  *  - float/double MIN/MAX (parquet footer min/max are unreliable
  *    under NaN — the same reason Spark's own parquet aggregate
  *    pushdown refuses them); COUNT over doubles still answers;
  *  - string MIN/MAX where any bound leaves ASCII (footer bounds merge
  *    in UTF-16 order across row groups, UTF8String compares bytes —
  *    the orders agree on ASCII, so only that subset is provably
  *    exact);
  *  - DISTINCT aggregates, expressions over columns, nested fields.
  *
  * Stats are keyed by PHYSICAL column name (immutable across RENAME
  * COLUMN), so lookups go through the manifest's column mapping —
  * a renamed partition column keeps answering. */
private[sources] object GraftMetaAgg {

  /** A scan whose result was computed at plan time from manifest
    * metadata: `DataSourceV2Strategy` plans any [[LocalScan]] as
    * `LocalTableScanExec` — zero tasks, zero shuffles, zero IO. */
  final case class GraftLocalScan(schema: StructType,
      result: Array[InternalRow], desc: String) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = result
    override def description(): String = desc
  }

  /** Partition columns whose EVERY live file at `version` carries
    * single-valued (min == max) footer stats of the matching tag,
    * restricted to types whose literal↔stats comparison is provably
    * exact (integrals, dates, strings — not floats, not INT96
    * timestamps). An EqualTo/In filter on such a column prunes files
    * EXACTLY: each surviving file holds only the matching tuple (the
    * hive-layout invariant) and partition values are non-null, so the
    * filter needs NO re-evaluation above the scan — which is what lets
    * Spark offer aggregate pushdown on FILTERED metadata queries
    * (`count(*) WHERE day = …`). Keyed by the schema field's exact
    * name (what a resolved filter attribute carries); a column whose
    * declared partition name differs in case is skipped — consumption
    * must be refused whenever the stats lookup could miss. Pending
    * deletion vectors are irrelevant here: deletes only REMOVE rows,
    * and a file-exact prune stays exact on the survivors. */
  private[sources] def exactPartitionCols(root: String, version: Long,
      tableSchema: StructType): Map[String, DataType] = {
    val (entries, physNames) = Versioned.aggMeta(root, version)
    Versioned.partitionByOf(root, Some(version)).flatMap { pc =>
      tableSchema.fields.find(_.name == pc).flatMap { f =>
        val okType = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               StringType => true
          case _ => false
        }
        val tag = tagFor(f.dataType)
        val phys = physNames.getOrElse(pc, pc)
        // single-valued stats of the right tag per file, AND a zero
        // null count wherever one is recorded (partition values are
        // non-null by the write invariant; this re-proves it from the
        // footers, so consuming IsNotNull is belt-and-braces safe)
        if (okType &&
            entries.forall(e => e.stats.get(phys).exists {
              case (t, mn, mx) => tag.contains(t) && mn == mx
            } && e.nulls.get(phys).forall(_ == 0L)))
          Some(f.name -> f.dataType)
        else None
      }
    }.toMap
  }

  /** The DISTINCT partition tuples at `version`, decoded per file from
    * single-valued footer stats — `SHOW PARTITIONS` and the partition-
    * management surface read these; a live file with an undecodable
    * tuple fails loudly (it cannot belong to a hive-layout partition). */
  private[sources] def partitionTuples(root: String, version: Long,
      partSchema: StructType): Seq[InternalRow] = {
    val (entries, physNames) = Versioned.aggMeta(root, version)
    val cols = partSchema.fields.toSeq.map(f =>
      (physNames.getOrElse(f.name, f.name), f.dataType))
    entries.map { e =>
      fileKey(e, cols).getOrElse(throw new IllegalStateException(
        s"live file ${e.path} carries no single-valued stats for the " +
          s"partition tuple (${partSchema.fieldNames.mkString(", ")})"))
    }.distinct.map(k => new GenericInternalRow(k.toArray): InternalRow)
  }

  /** Complete-pushdown attempt: Some(scan) iff EVERY group column and
    * EVERY aggregate is exactly answerable from the manifest at
    * `version`, over the `pruned` candidate files when a consumed
    * partition filter narrowed the scan (None = all live files). The
    * scan's readSchema lays out group columns first, then aggregates,
    * in declaration order — the layout `V2ScanRelationPushDown`
    * expects from a complete pushdown. */
  def tryCompute(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Long, tableSchema: StructType,
      agg: Aggregation, pruned: Option[Set[String]]): Option[Scan] = {
    val (live, physNames) = Versioned.aggMeta(root, version)
    // DELETION VECTORS are exact — COUNT(*) stays answerable as
    // Σ(rows − deleted(file)) (MoR's steady state between compactions
    // keeps its watermark/count probes metadata-only), while
    // min/max/count(col) still refuse (a deleted row may carry the
    // extremum or shift the null count)
    val dvPending = Versioned.pendingDvEntries(root, version).nonEmpty
    val files = pruned match {
      case Some(keep) => live.filter(e => keep(e.path))
      case None => live
    }
    def phys(n: String): String = physNames.getOrElse(n, n)

    // ---- group columns: resolve, and require single-valued stats
    // (min == max) of the matching tag on every live file
    val groupFields: Seq[StructField] =
      agg.groupByExpressions.toSeq.map {
        case nr: NamedReference => resolveField(nr.fieldNames(), tableSchema)
        case _ => None
      } match {
        case gs if gs.forall(_.isDefined) => gs.flatten
        case _ => return None
      }
    val groupKeyOf: Versioned.FileEntry => Option[Seq[Any]] = { f =>
      val vals = groupFields.map { gf =>
        for {
          tag <- tagFor(gf.dataType)
          (t, mn, mx) <- f.stats.get(phys(gf.name))
          if t == tag && mn == mx
        } yield decode(tag, mn, gf.dataType)
      }
      if (vals.forall(_.isDefined)) Some(vals.flatten) else None
    }

    // ---- aggregates: build one per-group evaluator per function
    lazy val dvDeleted: Map[String, Long] =
      if (dvPending) Versioned.dvDeletedCounts(spark, root, version)
      else Map.empty
    val evals: Seq[AggEval] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountStarEval(dvDeleted))
      case _ if dvPending => None // only COUNT(*) is provable under DVs
      case ct: Count if !ct.isDistinct => ct.column() match {
        case nr: NamedReference =>
          resolveField(nr.fieldNames(), tableSchema)
            .map(f => CountColEval(phys(f.name)))
        case _ => None
      }
      case mn: Min => minMaxEval(mn.column(), tableSchema, phys, isMin = true)
      case mx: Max => minMaxEval(mx.column(), tableSchema, phys, isMin = false)
      case _ => None
    } match {
      case es if es.forall(_.isDefined) => es.flatten
      case _ => return None
    }

    // ---- group the live files; any file without a decodable group
    // tuple (or needed stat, checked inside eval) refuses the pushdown
    val grouped: Seq[(Seq[Any], Seq[Versioned.FileEntry])] =
      if (groupFields.isEmpty) Seq(Nil -> files)
      else {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[Versioned.FileEntry]]
        files.foreach { f =>
          groupKeyOf(f) match {
            case Some(k) => m.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer.empty) += f
            case None => return None
          }
        }
        m.toSeq.map { case (k, fs) => (k, fs.toSeq) }
      }

    val rows = grouped.map { case (key, fs) =>
      val aggVals = evals.map(_.eval(fs) match {
        case Some(v) => v
        case None => return None // a file lacked the needed stat
      })
      new GenericInternalRow((key ++ aggVals).toArray)
        : InternalRow
    }

    val schema = StructType(
      groupFields.zipWithIndex.map { case (f, i) =>
        StructField(s"group_col_$i", f.dataType, nullable = f.nullable)
      } ++
        evals.zipWithIndex.map { case (e, i) =>
          StructField(s"agg_func_$i", e.dataType, nullable = e.nullable)
        })
    Some(GraftLocalScan(schema, rows.toArray,
      s"GraftMetaAggScan($root, v$version, ${files.size} files, " +
        s"${grouped.size} groups)"))
  }

  // ------------------------------------------------------------------
  // aggregate evaluators: None = a live file lacks the needed fact

  private sealed trait AggEval {
    def eval(files: Seq[Versioned.FileEntry]): Option[Any]
    def dataType: DataType
    def nullable: Boolean
  }

  /** COUNT(*) = Σ (rows − DV-deleted positions); `deleted` is empty on
    * tables without pending deletion vectors. */
  private final case class CountStarEval(deleted: Map[String, Long])
      extends AggEval {
    def eval(files: Seq[Versioned.FileEntry]): Option[Any] =
      Some(files.map(f => f.rows - deleted.getOrElse(f.path, 0L)).sum)
    val dataType: DataType = LongType
    val nullable = false
  }

  /** COUNT(col) = Σ (rows − nullCount); the null count exists even for
    * all-null files, but only for stats-tracked columns — and only on
    * files that physically carry the column, so a column added by
    * schema evolution refuses until old files retire (their rows are
    * all-null for it, which the manifest cannot prove). */
  private final case class CountColEval(physCol: String) extends AggEval {
    def eval(files: Seq[Versioned.FileEntry]): Option[Any] = {
      var total = 0L
      files.foreach { f =>
        f.nulls.get(physCol) match {
          case Some(n) => total += f.rows - n
          case None => return None
        }
      }
      Some(total)
    }
    val dataType: DataType = LongType
    val nullable = false
  }

  /** MIN/MAX(col): fold per-file footer bounds; a file with no bounds
    * contributes nothing iff provably all-null (nullCount == rows),
    * otherwise refuses. Long-family compares numerically; strings
    * compare as UTF8String bytes and refuse outside ASCII (footer
    * bounds merged across row groups in UTF-16 order — exact only
    * where the two orders agree). */
  private final case class MinMaxEval(field: StructField, physCol: String,
      tag: String, isMin: Boolean) extends AggEval {
    def eval(files: Seq[Versioned.FileEntry]): Option[Any] = {
      var best: Option[String] = None
      files.foreach { f =>
        f.stats.get(physCol) match {
          case Some((t, mn, mx)) if t == tag =>
            val v = if (isMin) mn else mx
            if (tag == "string" && !v.forall(_ < 128)) return None
            best = Some(best.fold(v)(b => pick(b, v)))
          case Some(_) => return None // tag/type mismatch — never decode
          case None =>
            // no bounds: contributes nothing ONLY if provably all-null
            if (!f.nulls.get(physCol).contains(f.rows)) return None
        }
      }
      Some(best.map(decode(tag, _, field.dataType)).orNull)
    }
    private def pick(a: String, b: String): String = {
      val cmp = tag match {
        case "long" => java.lang.Long.compare(a.toLong, b.toLong)
        case _ => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      }
      if ((cmp <= 0) == isMin) a else b
    }
    def dataType: DataType = field.dataType
    val nullable = true // empty / all-null table → NULL
  }

  private def minMaxEval(col: org.apache.spark.sql.connector.expressions
        .Expression, tableSchema: StructType, phys: String => String,
      isMin: Boolean): Option[AggEval] = col match {
    case nr: NamedReference =>
      resolveField(nr.fieldNames(), tableSchema).flatMap { f =>
        tagFor(f.dataType) match {
          // float/double bounds are NaN-unreliable in parquet footers;
          // refuse — the same stance Spark's parquet pushdown takes
          case Some("double") | None => None
          case Some(tag) => Some(MinMaxEval(f, phys(f.name), tag, isMin))
        }
      }
    case _ => None
  }

  // ------------------------------------------------------------------

  /** Single-part references only, resolved exact-first then
    * case-insensitively (unique match) against the table schema. */
  private def resolveField(ref: Array[String],
      schema: StructType): Option[StructField] =
    if (ref.length != 1) None
    else schema.fields.find(_.name == ref.head).orElse {
      schema.fields.filter(_.name.equalsIgnoreCase(ref.head)) match {
        case Array(one) => Some(one)
        case _ => None
      }
    }

  /** A file's partition tuple as Catalyst-internal values, decoded
    * from its single-valued (min == max) footer stats: `cols` pairs
    * each PHYSICAL stats key with the column's logical type. None if
    * any column's stats are absent, range-valued, or of an
    * incompatible tag — callers must refuse key-based planning then.
    * Used by metadata GROUP BY and by storage-partitioned-join key
    * grouping ([[GraftRowLevelScan]]'s `HasPartitionKey` planning). */
  private[sources] def fileKey(e: Versioned.FileEntry,
      cols: Seq[(String, DataType)]): Option[Seq[Any]] = {
    val vs = cols.map { case (physCol, dt) =>
      for {
        tag <- tagFor(dt)
        (t, mn, mx) <- e.stats.get(physCol)
        if t == tag && mn == mx
      } yield decode(tag, mn, dt)
    }
    if (vs.forall(_.isDefined)) Some(vs.flatten) else None
  }

  /** The manifest stats tag a column's values are recorded under
    * (mirrors the footer-extraction and key-normalization conventions
    * in [[Versioned]]: dates as epoch days, timestamps as micros). */
  private def tagFor(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case _ => None
  }

  /** Manifest stats string → the column's Catalyst-internal value. */
  private def decode(tag: String, s: String, dt: DataType): Any =
    (tag, dt) match {
      case ("long", ByteType) => s.toLong.toByte
      case ("long", ShortType) => s.toLong.toShort
      case ("long", IntegerType | DateType) => s.toLong.toInt
      case ("long", LongType | TimestampType | TimestampNTZType) => s.toLong
      case ("double", FloatType) => s.toDouble.toFloat
      case ("double", DoubleType) => s.toDouble
      case ("string", StringType) => UTF8String.fromString(s)
      case (t, d) => throw new IllegalStateException(
        s"undecodable stats tag $t for $d") // unreachable: tagFor gates
    }
}
