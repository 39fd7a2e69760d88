package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{BloomFilter, CmsSketch, DotProduct, HistQuantile, MgSketch, MinHashSignature, RollingFingerprint, SimHash64, SimHashBits, TopKPairs, WordShingles}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql("SELECT dot_product(a, b)")`
  * works anywhere DataFrame code does.
  *
  * Activate with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)           // programmatic
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  * or, on an ALREADY-BUILT session (extensions bind at session build),
  * `GraftExtensions.registerFunctions(spark)` — same function set, live
  * immediately (planner strategy via `spark.experimental.extraStrategies`).
  *
  * Both routes also install the engine's `file:` filesystem
  * ([[graft.io.NioLocalFs]]) for the whole JVM. Hadoop's local
  * filesystem, without the `libhadoop.so` native library that stock
  * Spark does not ship, starts a `chmod` process for every file and
  * directory it creates and a `readlink` process for every rename
  * through `FileContext`: about 230 processes per medallion operation
  * (bench/fork_free_fs.md), most of each streaming checkpoint commit's
  * time. The engine's classes do the same work through `java.nio`, with
  * the same `.crc` checksum files and atomic renames. The install
  * changes which class new `FileSystem` and `FileContext` instances
  * get. `withExtensions` runs `apply` before the SparkContext starts;
  * through `spark.sql.extensions` or `registerFunctions` a `file:`
  * `FileSystem` that Hadoop cached before the install stays in use for
  * data, and only checkpoints (uncached `FileContext`) switch. Opt out
  * by naming classes, which as explicit values win over the installed
  * defaults, for example Hadoop's:
  * {{{
  *   --conf spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem
  *   --conf spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs
  * }}}
  * or by naming any `file:` classes in a `core-site.xml`, which skips
  * the install. It is per JVM: cluster executors keep Hadoop's default
  * unless their own configuration names `graft.io.NioLocalFileSystem`.
  *
  * Both routes also make `spark.sql.artifact.isolation.enabled=false`
  * the JVM default, as a system property set only when the JVM has none.
  * Spark defaults it to `true`, and Structured Streaming clones the
  * session for every query start. Under isolation each clone runs its
  * tasks under its own class loader, and `CodeGenerator` caches compiled
  * classes per (class loader, code), so every `AvailableNow` run
  * compiled all of its generated classes again: 11 for Silver and 11 for
  * the Gold MV per medallion operation, against 3 and 0 with one loader
  * (bench/codegen_reuse.md). The engine adds no session artifacts
  * (jars, files, classes) for isolation to keep apart. A `-D` property,
  * a builder `.config` or a `--conf` value wins; opt out with
  * {{{
  *   --conf spark.sql.artifact.isolation.enabled=true
  * }}}
  * Spark reads the key from the SparkConf when it builds a context or
  * a session. `withExtensions` runs `apply` before `getOrCreate` builds
  * its SparkConf, so the default reaches that session and every session
  * cloned from it. Through `spark.sql.extensions` or `registerFunctions`
  * the context is already running and keeps the value it started with;
  * pass the key explicitly there.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.io.NioLocalFs.install()
    GraftExtensions.shareSessionClassLoader()
    // Scale-safety rewrite: SUM(x) OVER () → broadcast one-row aggregate
    // (an unpartitioned window serializes the dataset through one task;
    // see graft.plans.RewriteGlobalWindowTotals).
    ext.injectOptimizerRule(_ => graft.plans.RewriteGlobalWindowTotals)
    // Custom operator tier (c): AsOfJoinNode (LogicalPlan) planned by
    // AsOfJoinStrategy into AsOfJoinExec — a one-pass sort-merge
    // point-in-time join over co-partitioned children.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Scale rewrite: the union-sort-backfill as-of idiom → AsOfJoinNode
    // (one merge pass, no window machinery; ~30% faster, widening with
    // size). Semantics-preserving incl. nulls via the node's nullParity
    // mode; disable with SET spark.graft.asof.rewrite=false.
    // Registered TWICE on purpose (the rule is structural + idempotent):
    // post-hoc resolution catches the DataFrame API path on the pristine
    // analyzed shape; the optimizer pass catches SQL written with WITH
    // CTEs, which only inline during optimization.
    ext.injectPostHocResolutionRule(_ => graft.plans.RewriteAsOfWindow)
    ext.injectOptimizerRule(_ => graft.plans.RewriteAsOfWindow)
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** Constant int argument (k / numHashes must be literal at plan time). */
  private def intArg(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"expected a literal integer argument, got $other")
  }

  /** Constant double argument (histogram boundaries bind at plan time) —
    * any foldable numeric (covers `CAST(0 AS DOUBLE)` etc.). */
  private def doubleArg(e: Expression): Double =
    (if (e.foldable) e.eval(null) else null) match {
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case i: java.lang.Integer => i.toDouble
      case l: java.lang.Long => l.toDouble
      case s: java.lang.Short => s.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case _ => throw new IllegalArgumentException(
        s"expected a constant numeric argument, got $e")
    }

  /** Constant array<double> argument (quantile targets bind at plan time). */
  private def doubleArrayArg(e: Expression): Seq[Double] =
    if (e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) {
      e.eval(null) match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          a.toDoubleArray().toSeq
        case other => throw new IllegalArgumentException(
          s"expected a literal array<double> argument, got $other")
      }
    } else throw new IllegalArgumentException(
      s"expected a literal array<double> argument, got $e")

  /** The engine's SQL function set — one list feeds BOTH the
    * SparkSessionExtensions injection and the live-session registry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - sequential dot product of two array<double>"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of an array<string>"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(tokens, k) - distinct word k-shingles"),
      (children: Seq[Expression]) => WordShingles(children(0), intArg(children(1)))),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(md5_hashes, n) - n-element double-hashed minhash signature"),
      (children: Seq[Expression]) => MinHashSignature(children(0), intArg(children(1)))),
    (FunctionIdentifier("simhash_bits"),
      info("simhash_bits",
        "simhash_bits(hashes, width) - SimHash over precomputed array<bigint> hashes"),
      (children: Seq[Expression]) => SimHashBits(children(0), intArg(children(1)))),
    (FunctionIdentifier("topk_pairs"),
      info("topk_pairs",
        "topk_pairs(score, id, k) - bounded best-first top-k aggregate of " +
          "(score, id) pairs; duplicate pairs rank with multiplicity, like " +
          "row_number() over (order by score desc, id)"),
      (children: Seq[Expression]) => TopKPairs(children(0), children(1),
        intArg(children(2)))),
    (FunctionIdentifier("hist_quantile"),
      info("hist_quantile",
        "hist_quantile(value, lo, width, nbuckets, percentages) - deterministic " +
          "fixed-boundary histogram quantile sketch; returns array<double> " +
          "aligned with percentages"),
      (children: Seq[Expression]) => HistQuantile(children(0),
        doubleArg(children(1)), doubleArg(children(2)), intArg(children(3)),
        doubleArrayArg(children(4)))),
    (FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint",
        "rolling_fingerprint(text, window, stride) - winnowed Rabin-Karp fingerprints"),
      (children: Seq[Expression]) => RollingFingerprint(children(0),
        intArg(children(1)), intArg(children(2)))),
    (FunctionIdentifier("cms_sketch"),
      info("cms_sketch",
        "cms_sketch(value, depth, width) - deterministic md5-hashed " +
          "count-min sketch over a string column; returns the flat " +
          "depth*width counter array (row d, bucket w at d*width+w, " +
          "1-indexed for element_at)"),
      (children: Seq[Expression]) => CmsSketch(children(0),
        intArg(children(1)), intArg(children(2)))),
    (FunctionIdentifier("bloom_build"),
      info("bloom_build",
        "bloom_build(value, numBits, numHashes) - deterministic md5-hashed " +
          "Bloom filter over a string column; returns the bit-set as an " +
          "array<bigint> of 64-bit words (bit p = word p/64, bit p%64, " +
          "1-indexed for element_at)"),
      (children: Seq[Expression]) => BloomFilter(children(0),
        intArg(children(1)), intArg(children(2)))),
    (FunctionIdentifier("mg_sketch"),
      info("mg_sketch",
        "mg_sketch(value, k) - Misra-Gries heavy-hitters summary over a " +
          "string column: at most k-1 (item, est) pairs; guaranteed to " +
          "contain every item with frequency > n/k, with " +
          "true-n/k <= est <= true. Counter values depend on merge order " +
          "- recount candidates exactly for a deterministic answer"),
      (children: Seq[Expression]) => MgSketch(children(0),
        intArg(children(1)))))

  /** Spark's session artifact isolation switch (see [[GraftExtensions]]). */
  private[graft] val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Makes `false` the JVM default for [[ArtifactIsolation]], so a session
    * and the clones Structured Streaming makes of it share one task class
    * loader and so one generated-class cache. A value the JVM already
    * has is kept. */
  private[graft] def shareSessionClassLoader(): Unit =
    System.getProperties.putIfAbsent(ArtifactIsolation, "false")

  /** Register the function set on a live session (idempotent — the
    * registry overwrites by identifier), and install the engine's `file:`
    * filesystem and session class loader default (see [[GraftExtensions]]). */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.io.NioLocalFs.install()
    shareSessionClassLoader()
    functions.foreach { case (id, inf, builder) =>
      org.apache.spark.sql.GraftShims.registerFunction(spark, id, inf, builder)
    }
    tableFunctions.foreach { case (id, inf, builder) =>
      org.apache.spark.sql.GraftShims.registerTableFunction(
        spark, id, inf, builder)
    }
  }

  // --------------------------------------------- table-valued functions

  /** Constant string argument (table paths bind at plan time). */
  private def stringArg(e: Expression): String =
    (if (e.foldable) e.eval(null) else null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case _ => throw new IllegalArgumentException(
        s"expected a literal string argument, got $e")
    }

  private def longArg(e: Expression): Long =
    (if (e.foldable) e.eval(null) else null) match {
      case i: java.lang.Integer => i.toLong
      case l: java.lang.Long => l
      case _ => throw new IllegalArgumentException(
        s"expected a literal integer argument, got $e")
    }

  /** SQL surface for the versioned lake layer (Delta's
    * `DESCRIBE HISTORY` / `table_changes` shapes as TVFs):
    *
    * {{{
    *   SELECT * FROM graft_table('/path/t')           -- snapshot
    *   SELECT * FROM graft_table('/path/t', 3)        -- VERSION AS OF
    *   SELECT * FROM graft_history('/path/t')         -- commit log
    *   SELECT * FROM graft_files('/path/t')           -- live files
    *   SELECT * FROM graft_changes('/path/t', 2)      -- feed (2, head]
    *   SELECT * FROM graft_changes('/path/t', 2, 5)   -- feed (2, 5]
    * }}}
    *
    * Arguments are plan-time literals; each TVF resolves to the same
    * logical plan the library API builds (parquet scans for data,
    * local metadata relations for history/files), so pushdown and
    * pruning apply unchanged.
    *
    * Table references accept a PATH or a registered catalog name
    * (`graft_table('cat.ns.t')`) — resolved through the dispatcher's
    * own identifier→path rule, so pinned multi-table reads and
    * MERGE-from-time-travel speak names too. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    import graft.operators.Versioned
    def session = org.apache.spark.sql.SparkSession.active
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical
    // a table ref is a path OR a registered catalog name — one rule
    def refArg(e: Expression): String =
      graft.operators.VersionedSql.resolveRef(session, stringArg(e))
    Seq(
      (FunctionIdentifier("graft_table"),
        info("graft_table",
          "graft_table(pathOrName[, version]) - versioned-table " +
            "snapshot, optionally VERSION AS OF"),
        (args: Seq[Expression]) => plan(args match {
          case Seq(p) => Versioned.read(session, refArg(p))
          case Seq(p, v) =>
            val root = refArg(p)
            // integer literal = VERSION AS OF n; string = a TAG name
            val ver = v match {
              case e if e.dataType.isInstanceOf[
                  org.apache.spark.sql.types.StringType] =>
                Versioned.resolveTag(root, stringArg(e))
              case e => longArg(e)
            }
            Versioned.readVersion(session, root, ver)
          case other => throw new IllegalArgumentException(
            s"graft_table takes (path[, version]), got ${other.size} args")
        })),
      (FunctionIdentifier("graft_history"),
        info("graft_history",
          "graft_history(pathOrName) - one row per retained version"),
        (args: Seq[Expression]) =>
          plan(Versioned.history(session, refArg(args.head)))),
      (FunctionIdentifier("graft_schema"),
        info("graft_schema",
          "graft_schema(pathOrName) - one row per (retained version, " +
            "column): the schema-evolution history, physical storage " +
            "names included"),
        (args: Seq[Expression]) =>
          plan(Versioned.schemaHistory(session, refArg(args.head)))),
      (FunctionIdentifier("graft_files"),
        info("graft_files",
          "graft_files(pathOrName) - the current snapshot's live files"),
        (args: Seq[Expression]) => {
          val root = refArg(args.head)
          val spark = session
          import spark.implicits._
          val v = Versioned.latestVersion(root).getOrElse(
            throw new IllegalArgumentException(s"no versions at $root"))
          plan(Versioned.files(root, v).toDF("path"))
        }),
      (FunctionIdentifier("graft_pins"),
        info("graft_pins",
          "graft_pins(coordRoot) - the multi-table coordinator's pin " +
            "set: one row per (coord_version, table, version); fetch " +
            "max(coord_version) once to anchor consistent reads"),
        (args: Seq[Expression]) => {
          import graft.operators.MultiTable
          val coord = stringArg(args.head)
          val spark = session
          import spark.implicits._
          val cv = MultiTable.latestVersion(coord).getOrElse(
            throw new IllegalArgumentException(
              s"no coordinator versions at $coord"))
          plan(MultiTable.pins(coord, Some(cv)).toSeq
            .map { case (t, v) => (cv, t, v) }
            .toDF("coord_version", "table", "version"))
        }),
      (FunctionIdentifier("graft_pinned"),
        info("graft_pinned",
          "graft_pinned(coordRoot, tableRoot[, coordVersion]) - " +
            "coordinated read: the table AT its pinned version. Each " +
            "call resolves one immutable pin file atomically; anchor " +
            "multi-table joins to one explicit coordVersion for " +
            "cross-table consistency under racing transactions"),
        (args: Seq[Expression]) => plan(args match {
          case Seq(c, t) => graft.operators.MultiTable.read(
            session, stringArg(c), refArg(t))
          case Seq(c, t, v) => graft.operators.MultiTable.read(
            session, stringArg(c), refArg(t), Some(longArg(v)))
          case other => throw new IllegalArgumentException(
            "graft_pinned takes (coordRoot, tableRoot[, coordVersion])" +
              s", got ${other.size} args")
        })),
      (FunctionIdentifier("graft_changes"),
        info("graft_changes",
          "graft_changes(pathOrName, afterVersion[, untilVersion]) - " +
            "append-only change feed rows"),
        (args: Seq[Expression]) => plan(args match {
          case Seq(p, a) =>
            Versioned.changesSince(session, refArg(p), longArg(a))
          case Seq(p, a, u) => Versioned.changesSince(session, refArg(p),
            longArg(a), untilVersion = Some(longArg(u)))
          case other => throw new IllegalArgumentException(
            "graft_changes takes (path, afterVersion[, untilVersion]), " +
              s"got ${other.size} args")
        })))
  }
}
