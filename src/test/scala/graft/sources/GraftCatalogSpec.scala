package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Versioned

/** The DSv2 catalog (`spark.sql.catalog.graft`): versioned tables
  * addressable by NAME through Spark's own analyzer — CREATE/CTAS/
  * INSERT/SELECT/ALTER/SHOW/DESCRIBE end-to-end, time travel through
  * the catalog's loadTable overloads, and the DSv2→V1 bridge keeping
  * the manifest-pruned scan + commit-time sizeInBytes. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // registered under a spec-private NAME: Spark caches catalog
  // instances per session, so reusing `graft` would silently keep
  // whatever warehouse another suite (x40's smoke run) pinned first —
  // this also proves the plugin is catalog-name-agnostic
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-catalog-wh").toString
    spark.conf.set("spark.sql.catalog.graftc",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftc.warehouse", w)
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  test("CREATE TABLE / INSERT INTO / SELECT round-trip by name") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.lake")
    sql("CREATE TABLE graftc.lake.dim (id BIGINT, name STRING)")
    sql("INSERT INTO graftc.lake.dim VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO graftc.lake.dim VALUES (3, 'c')")
    val got = sql("SELECT id, name FROM graftc.lake.dim ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // each INSERT is one manifest version on the underlying table
    assert(Versioned.versions(s"$warehouse/lake/dim") === Seq(1L, 2L, 3L))
  }

  test("SHOW TABLES / SHOW NAMESPACES / DESCRIBE speak the catalog") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.meta")
    sql("CREATE TABLE graftc.meta.t1 (k INT)")
    sql("CREATE TABLE graftc.meta.t2 (k INT)")
    val tables = sql("SHOW TABLES IN graftc.meta")
      .select("tableName").as[String].collect().toSet
    assert(tables === Set("t1", "t2"))
    val nss = sql("SHOW NAMESPACES IN graftc")
      .select("namespace").as[String].collect().toSet
    assert(nss.contains("meta"))
    val desc = sql("DESCRIBE TABLE graftc.meta.t1")
      .select("col_name").as[String].collect().toSeq
    assert(desc.contains("k"))
  }

  test("ATOMIC CTAS: one commit (data visible at v1), time travel, " +
      "DROP TABLE; a failed CTAS leaves NOTHING visible") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.tt")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .createOrReplaceTempView("cat_ctas_src")
    sql("CREATE TABLE graftc.tt.snap AS SELECT * FROM cat_ctas_src")
    sql("INSERT INTO graftc.tt.snap VALUES (3, 30.0)")
    assert(sql("SELECT count(*) AS n FROM graftc.tt.snap")
      .as[Long].head() === 3L)
    // ATOMIC staged CTAS (StagingTableCatalog): the table appears in
    // ONE commit — v1 already carries the query's rows, there is no
    // empty-shell intermediate version
    val v1 = sql("SELECT id FROM graftc.tt.snap VERSION AS OF 1")
      .as[Long].collect().toSet
    assert(v1 === Set(1L, 2L),
      "atomic CTAS must publish data and table in one commit")
    // a FAILING CTAS leaves nothing: no table, no versions
    val boom = intercept[Exception] {
      sql("CREATE TABLE graftc.tt.broken AS " +
        "SELECT assert_true(id < 1, 'ctas boom') AS x, id " +
        "FROM cat_ctas_src")
    }
    assert(Iterator.iterate(boom: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("ctas boom"))),
      s"expected the staged write failure, got $boom")
    assert(sql("SHOW TABLES IN graftc.tt").as[(String, String, Boolean)]
      .collect().map(_._2).toSet === Set("snap"),
      "a failed CTAS must not leave a table behind")
    assert(Versioned.latestVersion(s"$warehouse/tt/broken").isEmpty,
      "a failed CTAS must publish no manifest")
    assert(sql("DROP TABLE graftc.tt.snap").collect().isEmpty)
    assert(sql("SHOW TABLES IN graftc.tt").count() === 0L)
  }

  test("CTAS losing the create race: already-exists error for CREATE, " +
      "replace for CREATE OR REPLACE — never the generic retry hint") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.race")
    // the concurrent winner lands v1
    sql("CREATE TABLE graftc.race.win (id BIGINT)")
    val root = s"$warehouse/race/win"
    val df = Seq(9L).toDF("id")
    // replay the race deterministically: publishCtasFrom(None) is the
    // CTAS that read "no table" before the winner's CAS landed
    val staged = Versioned.stageCtasFiles(spark, root, df, Nil, Nil)
    val e = intercept[IllegalArgumentException] {
      Versioned.publishCtasFrom(None, root, staged, df.schema.json,
        Nil, Nil, orReplace = false, replaceOnly = false)
    }
    assert(e.getMessage.contains("already exists"),
      s"plain CREATE must surface the CTAS already-exists error " +
        s"(with the VACUUM age-out note), got: ${e.getMessage}")
    assert(e.getMessage.contains("VACUUM"))
    // CREATE OR REPLACE under the same race proceeds as the replace
    val staged2 = Versioned.stageCtasFiles(spark, root, df, Nil, Nil)
    Versioned.publishCtasFrom(None, root, staged2, df.schema.json,
      Nil, Nil, orReplace = true, replaceOnly = false)
    assert(sql("SELECT id FROM graftc.race.win").as[Long]
      .collect().toSeq === Seq(9L))
  }

  test("REPLACE TABLE … AS SELECT swaps schema and data in one " +
      "commit; pre-replace history stays time-travelable; CREATE OR " +
      "REPLACE works both ways") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.rt")
    sql("CREATE TABLE graftc.rt.t (id BIGINT, v STRING)")
    sql("INSERT INTO graftc.rt.t VALUES (1, 'a'), (2, 'b')")
    val root = s"$warehouse/rt/t"
    val preV = Versioned.latestVersion(root).get
    // RTAS: new schema, new data, ONE commit
    sql("REPLACE TABLE graftc.rt.t AS " +
      "SELECT id * 10 AS k, CAST(id * 1.5 AS DOUBLE) AS m FROM range(3)")
    assert(Versioned.latestVersion(root).get === preV + 1,
      "RTAS must be one atomic commit")
    assert(sql("SELECT k, m FROM graftc.rt.t ORDER BY k")
      .as[(Long, Double)].collect().toSeq ===
      Seq((0L, 0.0), (10L, 1.5), (20L, 3.0)))
    // the replaced table's history survives (time travel)
    assert(sql(s"SELECT id, v FROM graftc.rt.t VERSION AS OF $preV")
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // REPLACE of a missing table refuses at stage time
    val e = intercept[Exception] {
      sql("REPLACE TABLE graftc.rt.nope AS SELECT 1 AS x")
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    // CREATE OR REPLACE: creates when missing, replaces when present
    sql("CREATE OR REPLACE TABLE graftc.rt.cor AS SELECT 1L AS a")
    assert(sql("SELECT a FROM graftc.rt.cor").as[Long].head() === 1L)
    sql("CREATE OR REPLACE TABLE graftc.rt.cor AS SELECT 7L AS b")
    assert(sql("SELECT b FROM graftc.rt.cor").as[Long].head() === 7L)
  }

  test("atomic CTAS with a PARTITIONED BY spec derives transforms on " +
      "the staged write itself (files are tuple-pure at v1)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.rt")
    sql("CREATE TABLE graftc.rt.pb PARTITIONED BY (bucket(4, k)) AS " +
      "SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS m FROM range(64)")
    val root = s"$warehouse/rt/pb"
    val v = Versioned.latestVersion(root).get
    assert(v === 1L, "partitioned CTAS is still one commit")
    assert(Versioned.transformsOf(root).map(_.show) ===
      Seq("bucket(4, k)"))
    val (entries, _) = Versioned.aggMeta(root, v)
    assert(entries.nonEmpty && entries.forall(e =>
      e.stats.get("_pt_bucket4_k").exists(s => s._2 == s._3)),
      "every staged CTAS file must be bucket-pure")
    // the derived layout prunes like any other bucket table
    val all = Versioned.files(root, v)
    val kept = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(5L), Some(5L))))
    assert(kept.size < all.size)
    assert(sql("SELECT m FROM graftc.rt.pb WHERE k = 5")
      .as[Double].head() === 10.0)
  }

  test("INSERT OVERWRITE truncate-replaces and preserves the layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.ow")
    sql("CREATE TABLE graftc.ow.part (id BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    sql("INSERT INTO graftc.ow.part VALUES (1, 'a'), (2, 'b')")
    sql("INSERT OVERWRITE graftc.ow.part VALUES (9, 'a'), (10, 'c')")
    val got = sql("SELECT id, p FROM graftc.ow.part ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((9L, "a"), (10L, "c")))
    // the declared hive layout survived the truncate-replace
    assert(Versioned.partitionByOf(s"$warehouse/ow/part") === Seq("p"))
    // a static PARTITION clause replaces ONLY that partition
    // (overwrite-by-filter → replaceWhere: touched files rewritten,
    // the rest carried by reference)
    sql("INSERT OVERWRITE graftc.ow.part PARTITION (p = 'c') VALUES (99)")
    val scoped = sql("SELECT id, p FROM graftc.ow.part ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(scoped === Seq((9L, "a"), (99L, "c")),
      "partition 'a' must survive a PARTITION-scoped overwrite of 'c'")
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN and TYPE widening by name") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.ddl")
    sql("CREATE TABLE graftc.ddl.evo (id INT, s STRING)")
    sql("INSERT INTO graftc.ddl.evo VALUES (1, 'x')")
    sql("ALTER TABLE graftc.ddl.evo ADD COLUMNS (score DOUBLE)")
    sql("ALTER TABLE graftc.ddl.evo RENAME COLUMN s TO label")
    sql("ALTER TABLE graftc.ddl.evo ALTER COLUMN id TYPE BIGINT")
    sql("INSERT INTO graftc.ddl.evo VALUES (2147483648, 'y', 0.5)")
    val got = sql("SELECT id, label, score FROM graftc.ddl.evo ORDER BY id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got === Seq((1L, "x", None), (2147483648L, "y", Some(0.5))))
    sql("ALTER TABLE graftc.ddl.evo DROP COLUMN score")
    assert(sql("SELECT * FROM graftc.ddl.evo").columns.toSeq ===
      Seq("id", "label"))
    // ALTER TABLE RENAME TO moves the table within the CATALOG (the
    // v2 contract: the target identifier is catalog-relative)
    sql("ALTER TABLE graftc.ddl.evo RENAME TO ddl.evo2")
    assert(sql("SELECT count(*) AS n FROM graftc.ddl.evo2")
      .as[Long].head() === 2L)
    assert(sql("SHOW TABLES IN graftc.ddl").select("tableName")
      .as[String].collect().toSet === Set("evo2"))
  }

  test("catalog reads keep manifest pruning and metadata sizeInBytes") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.scan")
    sql("CREATE TABLE graftc.scan.facts (id BIGINT, v DOUBLE)")
    // two files with disjoint id ranges, stats on id
    Versioned.commit(spark, s"$warehouse/scan/facts",
      (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
        .coalesce(1), statsCols = Seq("id"))
    Versioned.commit(spark, s"$warehouse/scan/facts",
      (1000 to 1100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
        .coalesce(1), statsCols = Seq("id"))
    val q = sql("SELECT id FROM graftc.scan.facts WHERE id <= 50")
    assert(q.as[Long].collect().toSet === (1 to 50).map(_.toLong).toSet)
    // the NATIVE DSv2 scan serves plain catalog reads: a vectorized
    // BatchScan feeding whole-stage codegen through ColumnarToRow,
    // with the manifest-stats prune applied (one of two files survives
    // the id<=50 bound — the scan description carries the count)
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BatchScan"),
      s"plain catalog reads must take the native DSv2 scan:\n$phys")
    assert(phys.contains("ColumnarToRow"),
      s"the native scan must serve ColumnarBatches (vectorized):\n$phys")
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("1 files"),
      s"manifest stats must prune to one file: ${scans.head.scan.description()}")
    // a small catalog table auto-broadcasts on manifest metadata
    val big = spark.range(0, 10000).select($"id", ($"id" % 100).as("k"))
    val joined = big.join(sql("SELECT id AS k, v FROM graftc.scan.facts"),
      "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small catalog dim must broadcast on manifest sizeInBytes:\n$plan")
  }

  test("native scan splits large files and packs small ones; results " +
      "are identical across split sizes and reader modes") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.scan")
    sql("CREATE TABLE graftc.scan.split (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/scan/split"
    // several files, multiple row groups worth of rows
    (0 until 3).foreach { k =>
      Versioned.commit(spark, root,
        (k * 10000 until (k + 1) * 10000)
          .map(i => (i.toLong, i * 0.5)).toDF("id", "v").coalesce(1))
    }
    val expectN = 30000L
    val expectSum = (0L until 30000L).map(_ * 0.5).sum
    def check(): Unit = {
      val r = sql("SELECT count(*) AS n, sum(v) AS s FROM graftc.scan.split")
        .as[(Long, Double)].head()
      assert(r._1 === expectN)
      assert(math.abs(r._2 - expectSum) < 1e-6)
      // _file provenance agrees with the live file count per mode
      assert(sql("SELECT count(DISTINCT _file) AS n FROM graftc.scan.split")
        .as[Long].head() === 3L)
    }
    def withConf(kv: (String, String)*)(f: => Unit): Unit = {
      val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    check() // default split size (likely one chunk per file, packed)
    // force SPLITTING: tiny maxPartitionBytes → many chunks per file
    withConf("spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "0") { check() }
    // force PACKING: huge split size → all files in few partitions
    withConf("spark.sql.files.maxPartitionBytes" -> "1073741824") {
      check()
      val parts = sql("SELECT id FROM graftc.scan.split")
        .queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.getNumPartitions
        }
      assert(parts.nonEmpty && parts.head <= 4,
        s"small files must pack into few partitions, got $parts")
    }
    // the ROW-grain fallback (vectorized reader off) agrees exactly,
    // split or not — correctness never depends on the columnar path
    withConf("spark.sql.parquet.enableVectorizedReader" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "0") { check() }
  }

  test("row-level and maintenance verbs work by catalog NAME through " +
      "the SQL dispatcher") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.dml")
    sql("CREATE TABLE graftc.dml.t (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graftc.dml.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((2L, 20.0), (4L, 40.0)).toDF("id", "nv")
      .createOrReplaceTempView("cat_dml_src")
    // MERGE/UPDATE/DELETE are the verbs Spark's DSv2 analyzer won't
    // plan without SupportsRowLevelOperations — the dispatcher
    // resolves the catalog name onto the same warehouse root
    Versioned.sql(spark,
      """MERGE INTO graftc.dml.t t USING cat_dml_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)"""
        .stripMargin)
    Versioned.sql(spark, "DELETE FROM graftc.dml.t WHERE id = 1")
    assert(sql("SELECT id, v FROM graftc.dml.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((2L, 20.0), (3L, 3.0), (4L, 40.0)))
    val verb = Versioned.sql(spark, "OPTIMIZE graftc.dml.t")
      .select("verb").as[String].head()
    assert(verb === "optimize")
    // an unregistered catalog prefix fails loudly, naming the fix
    val e = intercept[IllegalArgumentException] {
      Versioned.sql(spark, "DELETE FROM nosuch.ns.t WHERE id = 1")
    }
    assert(e.getMessage.contains("not a registered graft catalog"))
  }

  test("multi-column ADD COLUMNS is ONE atomic commit; a statement " +
      "with an invalid change publishes nothing") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.atomic")
    sql("CREATE TABLE graftc.atomic.t (id INT)")
    sql("INSERT INTO graftc.atomic.t VALUES (1)")
    val root = s"$warehouse/atomic/t"
    val before = Versioned.latestVersion(root).get
    sql("ALTER TABLE graftc.atomic.t ADD COLUMNS (a INT, b DOUBLE)")
    assert(Versioned.latestVersion(root) === Some(before + 1),
      "two added columns must publish as ONE manifest commit")
    assert(sql("SELECT * FROM graftc.atomic.t").columns.toSeq ===
      Seq("id", "a", "b"))
    // a statement whose SECOND column is invalid must not half-apply
    intercept[Exception] {
      sql("ALTER TABLE graftc.atomic.t ADD COLUMNS (c INT, d INT NOT NULL)")
    }
    assert(sql("SELECT * FROM graftc.atomic.t").columns.toSeq ===
      Seq("id", "a", "b"), "failed ALTER must leave the schema untouched")
    assert(Versioned.latestVersion(root) === Some(before + 1))
  }

  test("TVFs accept catalog names through the dispatcher's resolution") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.tvf")
    sql("CREATE TABLE graftc.tvf.t (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graftc.tvf.t VALUES (1, 1.0), (2, 2.0)")
    sql("INSERT INTO graftc.tvf.t VALUES (3, 3.0)")
    graft.GraftExtensions.registerFunctions(spark)
    // snapshot, time travel, history, changes — all by NAME
    assert(sql("SELECT id FROM graft_table('graftc.tvf.t') ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    assert(sql("SELECT id FROM graft_table('graftc.tvf.t', 2) ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    assert(sql("SELECT count(*) AS n FROM graft_history('graftc.tvf.t')")
      .as[Long].head() === 3L)
    assert(sql("SELECT id FROM graft_changes('graftc.tvf.t', 2)")
      .as[Long].collect().toSeq === Seq(3L))
    // a dotted name whose head is NOT a registered catalog stays a
    // path and fails on absence, not on resolution
    val e = intercept[Exception] {
      sql("SELECT * FROM graft_table('no.such.name')").collect()
    }
    assert(e.getMessage.contains("no versions") ||
      e.getMessage.contains("no.such.name"))
  }

  test("DROP TABLE on a clone source leaves the clone dangling — " +
      "loudly at read time (the documented vacuum-class hazard)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.cl")
    sql("CREATE TABLE graftc.cl.src (id BIGINT)")
    sql("INSERT INTO graftc.cl.src VALUES (1), (2)")
    val cloneRoot = java.nio.file.Files
      .createTempDirectory("graft-clone-dangle").toString + "/c"
    Versioned.cloneShallow(spark, s"$warehouse/cl/src", cloneRoot)
    assert(Versioned.read(spark, cloneRoot).count() === 2)
    sql("DROP TABLE graftc.cl.src")
    // the clone's absolute refs now point at deleted files
    intercept[Exception] {
      Versioned.read(spark, cloneRoot).count()
    }
  }

  test("a second CREATE fails; IF NOT EXISTS is a no-op; bad idents " +
      "are rejected") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.guard")
    sql("CREATE TABLE graftc.guard.t (k INT)")
    intercept[Exception] { sql("CREATE TABLE graftc.guard.t (k INT)") }
    sql("CREATE TABLE IF NOT EXISTS graftc.guard.t (k INT)") // no-op
    // a path-metacharacter identifier can never escape the warehouse
    intercept[Exception] {
      sql("CREATE TABLE graftc.guard.`..` (k INT)")
    }
  }

  test("plain catalog reads of a clean and of a DV-pending table both " +
      "plan BatchScan … ColumnarToRow") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.one")
    sql("CREATE TABLE graftc.one.t (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graftc.one.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    def plan(): String = {
      val q = sql("SELECT id, v FROM graftc.one.t WHERE v > 0.5")
      q.collect()
      q.queryExecution.executedPlan.toString
    }
    for (state <- Seq("clean", "dv-pending")) {
      if (state == "dv-pending")
        Versioned.deleteRows(spark, s"$warehouse/one/t", col("id") === 2L)
      val p = plan()
      assert(p.contains("BatchScan") && p.contains("ColumnarToRow"),
        s"$state catalog read must take the native vectorized scan:\n$p")
    }
    assert(sql("SELECT id FROM graftc.one.t").as[Long].collect().toSet ===
      Set(1L, 3L))
  }

  test("a table declaring a `_file` data column reads it by name on the " +
      "native scan, with no V1 scan node") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.shadow")
    sql("CREATE TABLE graftc.shadow.t (id BIGINT, _file STRING)")
    sql("INSERT INTO graftc.shadow.t VALUES (1, 'a.csv'), (2, 'b.csv')")
    val q = sql("SELECT id, _file FROM graftc.shadow.t")
    assert(q.as[(Long, String)].collect().toSet ===
      Set((1L, "a.csv"), (2L, "b.csv")))
    val plan = q.queryExecution.executedPlan
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty, s"expected the native BatchScan:\n$plan")
    assert(plan.collect {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
    }.isEmpty, s"no V1 scan may plan:\n$plan")
    // the data value, not a file path, filters and projects
    assert(sql("SELECT id FROM graftc.shadow.t WHERE _file = 'b.csv'")
      .as[Long].collect().toSeq === Seq(2L))
    // the shadowed name leaves the metadata face; `_pos` and the
    // streaming envelope stay
    val t = new GraftCatalog
    t.initialize("graftc", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("warehouse", warehouse)))
    val meta = t.loadTable(org.apache.spark.sql.connector.catalog
        .Identifier.of(Array("shadow"), "t"))
      .asInstanceOf[GraftTable].metadataColumns().map(_.name()).toSeq
    assert(meta === Seq("_pos", "_change_type", "_commit_version"))
  }

  test("catalog calls resolve a session with none active or default") {
    sql("CREATE NAMESPACE IF NOT EXISTS graftc.sess")
    sql("CREATE TABLE graftc.sess.t (id BIGINT)")
    sql("INSERT INTO graftc.sess.t VALUES (1)")
    val cat = new GraftCatalog
    cat.initialize("graftc", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("warehouse", warehouse)))
    val before = (org.apache.spark.sql.SparkSession.getActiveSession,
      org.apache.spark.sql.SparkSession.getDefaultSession)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val t = cat.loadTable(org.apache.spark.sql.connector.catalog
        .Identifier.of(Array("sess"), "t"))
      assert(t.schema().fieldNames.toSeq === Seq("id"))
    } finally {
      before._1.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      before._2.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }
}
