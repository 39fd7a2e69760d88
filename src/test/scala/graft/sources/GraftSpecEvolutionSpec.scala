package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Versioned, VersionedSql}

/** Partition-spec EVOLUTION (Iceberg's `ALTER TABLE … SET PARTITION
  * SPEC`): one metadata-only commit changes the layout for FUTURE
  * writes; existing files carry by identity under the spec they were
  * written with. Pruning consults each file's own generation (the old
  * spec's transforms become `legacyTransforms`), SPJ refuses on a
  * mixed-generation table (grouping stability first), and a full
  * OPTIMIZE migrates every file to the current spec, retiring the
  * legacy entry in the same commit. */
class GraftSpecEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-pse-wh").toString
    spark.conf.set("spark.sql.catalog.graftpse",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftpse.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftpse.ns")
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  test("bucket(4) -> bucket(8): metadata-only evolution; each " +
      "generation prunes under ITS OWN derivation") {
    sql("CREATE TABLE graftpse.ns.ev (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/ev"
    (0L until 64L).map(i => (i, s"old$i")).toDF("k", "v")
      .createOrReplaceTempView("pse_old")
    sql("INSERT INTO graftpse.ns.ev SELECT * FROM pse_old")
    val preV = Versioned.versions(root).last
    val preFiles = Versioned.files(root, preV).toSet

    // evolution: ONE commit, ZERO files touched
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.ev SET PARTITION SPEC (bucket(8, k))")
    val evoV = Versioned.versions(root).last
    assert(evoV === preV + 1)
    assert(Versioned.files(root, evoV).toSet === preFiles,
      "SET PARTITION SPEC must be metadata-only")

    // new generation lands under bucket(8); old files keep bucket(4)
    (100L until 164L).map(i => (i, s"new$i")).toDF("k", "v")
      .createOrReplaceTempView("pse_new")
    sql("INSERT INTO graftpse.ns.ev SELECT * FROM pse_new")
    val v = Versioned.versions(root).last
    val (entries, _) = Versioned.aggMeta(root, v)
    val oldGen = entries.filter(e => preFiles(e.path))
    val newGen = entries.filterNot(e => preFiles(e.path))
    assert(oldGen.nonEmpty && newGen.nonEmpty)
    assert(oldGen.forall(e => e.stats.contains("_pt_bucket4_k") &&
      !e.stats.contains("_pt_bucket8_k")))
    assert(newGen.forall(e => e.stats.contains("_pt_bucket8_k") &&
      !e.stats.contains("_pt_bucket4_k")))

    // point lookup prunes BOTH generations, each under its own spec
    val all = entries.map(_.path)
    val kept = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(5L), Some(5L)))).toSet
    val b4 = spark.sql("SELECT pmod(hash(5L), 4)").as[Int].head()
    val b8 = spark.sql("SELECT pmod(hash(5L), 8)").as[Int].head()
    val expected =
      oldGen.filter(_.stats("_pt_bucket4_k")._2.toInt == b4) ++
        newGen.filter(_.stats("_pt_bucket8_k")._2.toInt == b8)
    assert(kept === expected.map(_.path).toSet,
      s"kept $kept, expected ${expected.map(_.path).toSet}")
    assert(kept.size < all.size,
      "evolution must not stand bucket pruning down")

    // the read spanning both generations stays exact
    assert(sql("SELECT v FROM graftpse.ns.ev WHERE k = 5")
      .as[String].collect().toSeq === Seq("old5"))
    assert(sql("SELECT v FROM graftpse.ns.ev WHERE k = 105")
      .as[String].collect().toSeq === Seq("new105"))
    assert(sql("SELECT count(*) FROM graftpse.ns.ev").as[Long].head()
      === 128L)

    // time travel: the pre-evolution snapshot keeps its spec
    val preM = Versioned.transformsOf(root, Some(preV))
    assert(preM.map(_.show) === Seq("bucket(4, k)"))
    assert(Versioned.transformsOf(root, Some(v)).map(_.show)
      === Seq("bucket(8, k)"))
  }

  test("SPJ refuses on a mixed-generation table, re-arms after " +
      "OPTIMIZE migrates every file (legacy spec self-retires)") {
    sql("CREATE TABLE graftpse.ns.fact (k BIGINT, m DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("CREATE TABLE graftpse.ns.dim (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    val factRoot = s"$warehouse/ns/fact"
    (0L until 32L).map(i => (i, i * 1.0)).toDF("k", "m")
      .createOrReplaceTempView("pse_fact")
    (0L until 32L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("pse_dim")
    sql("INSERT INTO graftpse.ns.fact SELECT * FROM pse_fact")
    sql("INSERT INTO graftpse.ns.dim SELECT * FROM pse_dim")
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.fact SET PARTITION SPEC (bucket(8, k))")
    sql("INSERT INTO graftpse.ns.fact SELECT k + 100, m FROM pse_fact")

    def joinPlan() = {
      val df = sql("SELECT f.k, f.m, d.name FROM graftpse.ns.fact f " +
        "JOIN graftpse.ns.dim d ON f.k = d.k")
      (df, df.queryExecution.executedPlan.toString)
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.graft.spj.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // mixed generations: grouping unstable -> scan must NOT report
      // the clustering; the join shuffles and stays exact
      val (df1, plan1) = joinPlan()
      assert(plan1.contains("Exchange"),
        s"mixed-generation SPJ must refuse into a shuffle:\n$plan1")
      assert(df1.count() === 32L)

      // full OPTIMIZE rewrites everything under the CURRENT spec —
      // the legacy transform retires in that commit
      VersionedSql(spark, "OPTIMIZE graftpse.ns.fact INTO 8 FILES")
      val v = Versioned.versions(factRoot).last
      val (entries, _) = Versioned.aggMeta(factRoot, v)
      assert(entries.forall(_.stats.contains("_pt_bucket8_k")),
        "OPTIMIZE must migrate every file to the current spec")
      assert(Versioned.legacyTransformsOf(factRoot, Some(v)).isEmpty,
        "the legacy spec must self-retire once no live file carries it")
      val (df2, plan2) = joinPlan()
      assert(!plan2.contains("Exchange"),
        s"single-generation bucket(8) tables must SPJ exchange-free:\n$plan2")
      assert(df2.count() === 32L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("mixed-generation SPJ joins exchange-free at the generations' " +
      "common grain; coprime evolution still refuses") {
    sql("CREATE TABLE graftpse.ns.factg (k BIGINT, m DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("CREATE TABLE graftpse.ns.dim4 (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("CREATE TABLE graftpse.ns.dim8 (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    (0L until 32L).map(i => (i, i * 1.0)).toDF("k", "m")
      .createOrReplaceTempView("pse_factg")
    (0L until 64L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("pse_dimg")
    sql("INSERT INTO graftpse.ns.factg SELECT * FROM pse_factg")
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.factg SET PARTITION SPEC (bucket(8, k))")
    sql("INSERT INTO graftpse.ns.factg SELECT k + 32, m FROM pse_factg")
    sql("INSERT INTO graftpse.ns.dim4 SELECT * FROM pse_dimg")
    sql("INSERT INTO graftpse.ns.dim8 SELECT * FROM pse_dimg")

    def joinPlan(dim: String) = {
      val df = sql(s"SELECT f.k, f.m, d.name FROM graftpse.ns.factg f " +
        s"JOIN graftpse.ns.$dim d ON f.k = d.k")
      (df, df.queryExecution.executedPlan.toString)
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.graft.spj.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = (confs.map(_._1) :+
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // (a) against the OLD count: the mixed table reports the common
      // grain bucket(4) = gcd(4, 8), which IS dim4's partitioning —
      // aligned with no reducer machinery at all
      val (dfa, plana) = joinPlan("dim4")
      assert(!plana.contains("Exchange"),
        s"mixed-generation fact × bucket(4) dim must be exchange-free:\n$plana")
      assert(dfa.count() === 64L)
      assert(dfa.select(sum(col("m"))).head().getDouble(0) === 992.0)
      // (b) against the NEW count: bucket(4) vs bucket(8) needs the
      // ReducibleFunction bridge — exchange-free only under
      // allowCompatibleTransforms
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
        "true")
      val (dfb, planb) = joinPlan("dim8")
      assert(!planb.contains("Exchange"),
        s"mixed-generation fact × bucket(8) dim must reduce 8→4 " +
          s"exchange-free:\n$planb")
      assert(dfb.count() === 64L)
      assert(dfb.select(sum(col("m"))).head().getDouble(0) === 992.0)
      // (c) coprime evolution: gcd(3, 8) = 1 — no useful common grain,
      // the scan refuses into the shuffle (grouping stability first)
      sql("CREATE TABLE graftpse.ns.fact3 (k BIGINT, m DOUBLE) " +
        "PARTITIONED BY (bucket(3, k))")
      sql("INSERT INTO graftpse.ns.fact3 SELECT * FROM pse_factg")
      VersionedSql(spark,
        s"ALTER TABLE graftpse.ns.fact3 SET PARTITION SPEC (bucket(8, k))")
      sql("INSERT INTO graftpse.ns.fact3 SELECT k + 32, m FROM pse_factg")
      val dfc = sql("SELECT f.k, f.m, d.name FROM graftpse.ns.fact3 f " +
        "JOIN graftpse.ns.dim8 d ON f.k = d.k")
      val planc = dfc.queryExecution.executedPlan.toString
      assert(planc.contains("Exchange"),
        s"gcd=1 mixed generations must refuse into a shuffle:\n$planc")
      assert(dfc.count() === 64L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("three generations mid-migration — bucket(4) -> bucket(8) -> " +
      "bucket(16) — SPJ at gcd 4 across ALL of them") {
    sql("CREATE TABLE graftpse.ns.fact3g (k BIGINT, m DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("CREATE TABLE graftpse.ns.dim4g (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    sql("CREATE TABLE graftpse.ns.dim16g (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(16, k))")
    (0L until 96L).map(i => (i, i * 1.0)).toDF("k", "m")
      .createOrReplaceTempView("pse_fact3g")
    (0L until 96L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("pse_dim3g")
    // one insert per generation, evolving the spec between them — the
    // live table holds bucket(4), bucket(8) AND bucket(16) files at once
    sql("INSERT INTO graftpse.ns.fact3g " +
      "SELECT * FROM pse_fact3g WHERE k < 32")
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.fact3g SET PARTITION SPEC (bucket(8, k))")
    sql("INSERT INTO graftpse.ns.fact3g " +
      "SELECT * FROM pse_fact3g WHERE k >= 32 AND k < 64")
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.fact3g SET PARTITION SPEC (bucket(16, k))")
    sql("INSERT INTO graftpse.ns.fact3g " +
      "SELECT * FROM pse_fact3g WHERE k >= 64")
    sql("INSERT INTO graftpse.ns.dim4g SELECT * FROM pse_dim3g")
    sql("INSERT INTO graftpse.ns.dim16g SELECT * FROM pse_dim3g")

    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.graft.spj.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = (confs.map(_._1) :+
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def joinPlan(dim: String) = {
        val df = sql(s"SELECT f.k, f.m, d.name FROM graftpse.ns.fact3g f " +
          s"JOIN graftpse.ns.$dim d ON f.k = d.k")
        (df, df.queryExecution.executedPlan.toString)
      }
      // (a) the mixed table's reported grain is gcd(4, 8, 16) = 4 —
      // dim4g's own partitioning, so the join aligns with no reducer
      // machinery and no exchange at all
      val (dfa, plana) = joinPlan("dim4g")
      assert(!plana.contains("Exchange"),
        s"three-generation fact × bucket(4) dim must be exchange-free:\n$plana")
      assert(dfa.count() === 96L)
      assert(dfa.select(sum(col("m"))).head().getDouble(0) === 4560.0)
      // (b) bucket(16) dim reduces 16 → 4 through the ReducibleFunction
      // bridge — still exchange-free under allowCompatibleTransforms
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
        "true")
      val (dfb, planb) = joinPlan("dim16g")
      assert(!planb.contains("Exchange"),
        s"three-generation fact × bucket(16) dim must reduce 16→4 " +
          s"exchange-free:\n$planb")
      assert(dfb.count() === 96L)
      assert(dfb.select(sum(col("m"))).head().getDouble(0) === 4560.0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic overwrite still lands on a mixed-generation table: " +
      "the verb rescues old-generation remainders") {
    sql("CREATE TABLE graftpse.ns.ow (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(2, k))")
    val root = s"$warehouse/ns/ow"
    (0L until 16L).map(i => (i, s"old$i")).toDF("k", "v")
      .createOrReplaceTempView("pse_ow")
    sql("INSERT INTO graftpse.ns.ow SELECT * FROM pse_ow")
    VersionedSql(spark,
      s"ALTER TABLE graftpse.ns.ow SET PARTITION SPEC (bucket(4, k))")
    // overwrite under the NEW spec: incoming rows replace exactly the
    // bucket(4) tuples they land in; old-generation rows in other
    // tuples are RESCUED (rewritten, kept)
    val incoming = Seq((3L, "upd3"), (7L, "upd7")).toDF("k", "v")
    Versioned.overwritePartitions(spark, root, incoming)
    val got = sql("SELECT k, v FROM graftpse.ns.ow ORDER BY k")
      .as[(Long, String)].collect().toSeq
    val newTuples = spark.sql(
      "SELECT DISTINCT pmod(hash(k), 4) FROM VALUES (3L), (7L) AS t(k)")
      .as[Int].collect().toSet
    val expected = ((0L until 16L).filterNot(i => newTuples(
      spark.sql(s"SELECT pmod(hash(${i}L), 4)").as[Int].head()))
      .map(i => (i, s"old$i")) ++ Seq((3L, "upd3"), (7L, "upd7")))
      .sortBy(_._1)
    assert(got === expected)
    // post-overwrite: replaced tuples hold ONLY current-spec files
    val v = Versioned.versions(root).last
    val (entries, _) = Versioned.aggMeta(root, v)
    assert(entries.forall(_.stats.contains("_pt_bucket4_k")),
      "the rescue rewrite must migrate old-generation rows")
  }

  test("MoR DML composes with spec evolution: a delta UPDATE on a " +
      "mixed-generation table deletes by position and lands " +
      "postimages under the CURRENT spec") {
    sql("CREATE TABLE graftpse.ns.dml (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(2, k))")
    val root = s"$warehouse/ns/dml"
    (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("pse_dml")
    sql("INSERT INTO graftpse.ns.dml SELECT * FROM pse_dml")
    val preFiles = Versioned.files(root,
      Versioned.versions(root).last).toSet
    VersionedSql(spark,
      "ALTER TABLE graftpse.ns.dml SET PARTITION SPEC (bucket(4, k))")
    // merge-on-read UPDATE across BOTH generations' rows: positions
    // are file-scoped (generation-agnostic), postimages derive the
    // current bucket(4)
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try sql("UPDATE graftpse.ns.dml SET v = v + 100.0 WHERE k % 2 = 0")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    val v = Versioned.versions(root).last
    assert(Versioned.pendingDvEntries(root, v).nonEmpty,
      "the delta update must leave deletion vectors pending")
    val (entries, _) = Versioned.aggMeta(root, v)
    val postimages = entries.filterNot(e => preFiles(e.path))
    assert(postimages.nonEmpty && postimages.forall(
      _.stats.contains("_pt_bucket4_k")),
      "delta postimages must land under the CURRENT spec")
    // the read spans old-gen (DV-filtered) + new-gen files exactly
    val got = sql("SELECT k, v FROM graftpse.ns.dml ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    val expected = (0L until 16L).map(i =>
      (i, if (i % 2 == 0) i + 100.0 else i * 1.0))
    assert(got === expected)
    // copy-on-write MERGE also lands on the mixed table (rewrites
    // migrate their files to the current spec)
    Seq((3L, 999.0), (40L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("pse_dml_src")
    Versioned.compact(spark, root) // clear vectors so CoW can run
    sql("""MERGE INTO graftpse.ns.dml t USING pse_dml_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql("SELECT v FROM graftpse.ns.dml WHERE k = 3")
      .as[Double].head() === 999.0)
    assert(sql("SELECT count(*) FROM graftpse.ns.dml")
      .as[Long].head() === 17L)
  }

  test("evolving to the unpartitioned spec and back re-unifies a " +
      "round-tripped generation") {
    sql("CREATE TABLE graftpse.ns.rt (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/rt"
    (0L until 8L).map(i => (i, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("pse_rt")
    sql("INSERT INTO graftpse.ns.rt SELECT * FROM pse_rt")
    VersionedSql(spark,
      "ALTER TABLE graftpse.ns.rt SET PARTITION SPEC ()")
    val v1 = Versioned.versions(root).last
    assert(Versioned.partitionByOf(root, Some(v1)).isEmpty)
    // the displaced bucket spec is legacy (its files still live)
    assert(Versioned.legacyTransformsOf(root, Some(v1))
      .map(_.show) === Seq("bucket(4, k)"))
    // evolving BACK re-currents the same transform — the legacy entry
    // collapses into it and the old files are first-class again
    VersionedSql(spark,
      "ALTER TABLE graftpse.ns.rt SET PARTITION SPEC (bucket(4, k))")
    val v2 = Versioned.versions(root).last
    assert(Versioned.transformsOf(root, Some(v2)).map(_.show)
      === Seq("bucket(4, k)"))
    assert(Versioned.legacyTransformsOf(root, Some(v2)).isEmpty)
    assert(sql("SELECT count(*) FROM graftpse.ns.rt WHERE k = 5")
      .as[Long].head() === 1L)
  }

  test("clone and restore carry the legacy spec: a mixed-generation " +
      "branch prunes both generations; restore reinstates the " +
      "pre-evolution spec") {
    sql("CREATE TABLE graftpse.ns.cl (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(2, k))")
    val root = s"$warehouse/ns/cl"
    (0L until 16L).map(i => (i, s"a$i")).toDF("k", "v")
      .createOrReplaceTempView("pse_cl")
    sql("INSERT INTO graftpse.ns.cl SELECT * FROM pse_cl")
    val preEvo = Versioned.versions(root).last
    VersionedSql(spark,
      "ALTER TABLE graftpse.ns.cl SET PARTITION SPEC (bucket(4, k))")
    sql("INSERT INTO graftpse.ns.cl SELECT k + 100, v FROM pse_cl")
    // clone: both generations' specs travel to the branch
    val dst = java.nio.file.Files
      .createTempDirectory("graft-pse-clone").toString + "/t"
    Versioned.cloneShallow(spark, root, dst)
    assert(Versioned.transformsOf(dst).map(_.show) ===
      Seq("bucket(4, k)"))
    assert(Versioned.legacyTransformsOf(dst).map(_.show) ===
      Seq("bucket(2, k)"))
    // the clone prunes per generation exactly like the source
    val v = Versioned.versions(dst).last
    val all = Versioned.files(dst, v)
    val kept = Versioned.candidateFilesForBounds(dst, v,
      Seq(Versioned.ColumnBound("k", Some(5L), Some(5L))))
    assert(kept.size < all.size,
      "mixed-generation pruning must survive the clone")
    assert(Versioned.read(spark, dst).count() === 32L)
    // restore to the pre-evolution version reinstates its spec whole
    Versioned.restore(root, preEvo)
    assert(Versioned.transformsOf(root).map(_.show) ===
      Seq("bucket(2, k)"))
    assert(Versioned.legacyTransformsOf(root).isEmpty,
      "the pre-evolution snapshot had no legacy spec to reinstate")
    assert(sql("SELECT count(*) FROM graftpse.ns.cl")
      .as[Long].head() === 16L)
  }

  test("validation: unknown columns, shadowed hidden names and a " +
      "widened legacy source refuse or degrade loudly") {
    sql("CREATE TABLE graftpse.ns.bad (k INT, i INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/bad"
    sql("INSERT INTO graftpse.ns.bad VALUES (1, 1, 'a'), (2, 2, 'b')")
    // unknown source column refuses
    val e1 = intercept[IllegalArgumentException] {
      VersionedSql(spark,
        "ALTER TABLE graftpse.ns.bad SET PARTITION SPEC (bucket(4, nope))")
    }
    assert(e1.getMessage.contains("nope"))
    // a temporal transform on a non-time column refuses
    val e2 = intercept[IllegalArgumentException] {
      VersionedSql(spark,
        "ALTER TABLE graftpse.ns.bad SET PARTITION SPEC (days(v))")
    }
    assert(e2.getMessage.contains("days"))
    // widen a LEGACY transform source: allowed, the legacy entry drops
    // (its derivation is type-sensitive; pruning degrades, scans exact)
    VersionedSql(spark,
      "ALTER TABLE graftpse.ns.bad SET PARTITION SPEC (bucket(4, i))")
    assert(Versioned.legacyTransformsOf(root, None).map(_.show)
      === Seq("bucket(4, k)"))
    Versioned.widenColumn(spark, root, "k",
      org.apache.spark.sql.types.LongType)
    assert(Versioned.legacyTransformsOf(root, None).isEmpty,
      "widening a legacy transform's source must drop the legacy " +
        "entry (type-sensitive derivation), not refuse the widen")
    assert(sql("SELECT count(*) FROM graftpse.ns.bad WHERE k = 1")
      .as[Long].head() === 1L)
  }
}
