package graft.operators

import java.nio.file.Files

import graft.SparkSpec

/** Partition-scoped OPTIMIZE (`OPTIMIZE t WHERE day = …`, Delta's
  * shape): only matching partitions' small files pack; every other
  * file — including OTHER partitions' small-file debt — carries by
  * reference. The 100 TB maintenance tick compacts TODAY, never the
  * table. */
class VersionedScopedOptimizeSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-scoped-opt").toString + "/t"

  test("WHERE scopes the pack: matching partition compacts, others " +
      "carry their small files by identity") {
    val root = freshRoot()
    // 3 partitions × 4 small commits each = 12 small files
    (0 until 4).foreach { i =>
      Versioned.commit(spark, root,
        (0 until 30).map(j => (i * 100L + j, j % 3)).toDF("id", "p")
          .coalesce(1),
        partitionBy = Seq("p"), mode = if (i == 0) "overwrite" else "append")
    }
    val before = Versioned.latestVersion(root).get
    val beforeFiles = Versioned.files(root, before)
    val (entries0, _) = Versioned.aggMeta(root, before)
    val p1Before = entries0.filter(_.stats("p")._2 == "1").map(_.path)
    val otherBefore = entries0.filterNot(_.stats("p")._2 == "1")
      .map(_.path).toSet
    assert(p1Before.size === 4)
    val v = VersionedSql(spark, s"OPTIMIZE `$root` WHERE p = 1")
      .select("version").as[Long].head()
    assert(v === before + 1)
    val (entries1, _) = Versioned.aggMeta(root, v)
    val p1After = entries1.filter(_.stats("p")._2 == "1").map(_.path)
    assert(p1After.size === 1, s"p=1 must pack to one file: $p1After")
    assert(p1After.toSet.intersect(p1Before.toSet).isEmpty)
    // out-of-scope partitions: every file carried by IDENTITY
    assert(entries1.filterNot(_.stats("p")._2 == "1").map(_.path).toSet
      === otherBefore,
      "files outside the scope must carry untouched")
    // contents identical
    assert(Versioned.read(spark, root).as[(Long, Int)].collect().toSet
      === Versioned.readVersion(spark, root, before)
        .as[(Long, Int)].collect().toSet)
    assert(beforeFiles.size - Versioned.files(root, v).size === 3)
  }

  test("scope refusals are loud: non-partition columns, OR shapes, " +
      "full-rewrite combinations") {
    val root = freshRoot()
    Versioned.commit(spark, root,
      (0 until 10).map(j => (j.toLong, j % 2)).toDF("id", "p"),
      partitionBy = Seq("p"))
    val e1 = intercept[Exception] {
      VersionedSql(spark, s"OPTIMIZE `$root` WHERE id = 3") }
    assert(e1.getMessage.contains("partition"), e1.getMessage)
    val e2 = intercept[Exception] {
      VersionedSql(spark, s"OPTIMIZE `$root` WHERE p = 0 OR p = 1") }
    assert(e2.getMessage.contains("conjunctions"), e2.getMessage)
    val e3 = intercept[Exception] {
      VersionedSql(spark,
        s"OPTIMIZE `$root` INTO 2 FILES WHERE p = 0") }
    assert(e3.getMessage.contains("full-rewrite"), e3.getMessage)
  }

  test("a bare REANALYZE identifier closing the WHERE expression stays " +
      "in the predicate — the flag never steals an operand") {
    val root = freshRoot()
    Versioned.commit(spark, root,
      (0 until 10).map(j => (j.toLong, j % 2)).toDF("id", "p"),
      partitionBy = Seq("p"))
    // `p = REANALYZE` is a (bad) predicate whose RHS is a bare column
    // ref, NOT the maintenance flag: the refusal must name the WHOLE
    // expression (old regex split it to predicate "p =" + flag, dying
    // with an unrelated parse error on the truncated text)
    val e = intercept[IllegalArgumentException] {
      VersionedSql(spark, s"OPTIMIZE `$root` WHERE p = REANALYZE") }
    assert(e.getMessage.contains("REANALYZE"), e.getMessage)
    assert(e.getMessage.contains("="), e.getMessage)
    // the flag still parses after a complete predicate (no-op pack on a
    // single-commit table — the statement must ACCEPT, not how it packs)
    val v = VersionedSql(spark, s"OPTIMIZE `$root` WHERE p = 1 REANALYZE")
      .select("version").as[Long].head()
    assert(v >= 0L)
  }

  test("scope composes with hidden transforms: days(ts) partitions " +
      "compact one day by raw-timestamp predicate") {
    val wh = Files.createTempDirectory("graft-scoped-wh").toString
    spark.conf.set("spark.sql.catalog.graftso",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftso.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftso.ns")
    spark.sql("CREATE TABLE graftso.ns.ev (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val root = s"$wh/ns/ev"
    (0 until 3).foreach { _ =>
      spark.sql("INSERT INTO graftso.ns.ev SELECT id, " +
        "timestamp_seconds(1700000000 + id * 40000) FROM range(8)")
    }
    val before = Versioned.latestVersion(root).get
    val (e0, _) = Versioned.aggMeta(root, before)
    val day0 = e0.map(_.stats("_pt_days_ts")._2).min
    val day0Files = e0.filter(_.stats("_pt_days_ts")._2 == day0)
    assert(day0Files.size === 3)
    // the SOURCE column predicate scopes through the shared prune path
    val v = VersionedSql(spark, s"OPTIMIZE graftso.ns.ev WHERE " +
      "ts < timestamp'2023-11-15 00:00:00'")
      .select("version").as[Long].head()
    val (e1, _) = Versioned.aggMeta(root, v)
    assert(e1.count(_.stats("_pt_days_ts")._2 == day0) === 1,
      "the first day must pack to one file")
    assert(spark.sql("SELECT count(*) FROM graftso.ns.ev")
      .as[Long].head() === 24L)
  }

  test("scope composes with truncate transforms: a RANGE predicate on " +
      "the raw key compacts one width-window (order-preserving prune)") {
    val wh = Files.createTempDirectory("graft-scoped-tr-wh").toString
    spark.conf.set("spark.sql.catalog.graftsot",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsot.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftsot.ns")
    spark.sql("CREATE TABLE graftsot.ns.tr (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (truncate(10, k))")
    val root = s"$wh/ns/tr"
    (0 until 3).foreach { _ =>
      spark.sql("INSERT INTO graftsot.ns.tr SELECT id, id * 1.0 " +
        "FROM range(30)")
    }
    val before = Versioned.latestVersion(root).get
    val (e0, _) = Versioned.aggMeta(root, before)
    // ≥3 (one per commit; unclustered inserts may fan out more)
    assert(e0.count(_.stats("_pt_truncate10_k")._2 == "10") >= 3)
    val outBefore = e0.filterNot(_.stats("_pt_truncate10_k")._2 == "10")
      .map(_.path).toSet
    // a RANGE on the SOURCE key scopes exactly the [10, 19] window —
    // bucket can't do this; truncate's order-preserving derivation
    // can. (Inclusive bounds: the shared prune treats `<` as an
    // inclusive stats bound — sound-conservative for scans, so a
    // strict `k < 20` would also sweep the boundary window whose
    // min IS 20; partition scoping states ranges inclusively.)
    val v = VersionedSql(spark,
      "OPTIMIZE graftsot.ns.tr WHERE k >= 10 AND k <= 19")
      .select("version").as[Long].head()
    val (e1, _) = Versioned.aggMeta(root, v)
    assert(e1.count(_.stats("_pt_truncate10_k")._2 == "10") === 1,
      "the scoped width-window must pack to one file")
    assert(e1.filterNot(_.stats("_pt_truncate10_k")._2 == "10")
      .map(_.path).toSet === outBefore,
      "out-of-scope windows must carry by identity")
    assert(spark.sql("SELECT count(*) FROM graftsot.ns.tr")
      .as[Long].head() === 90L)
  }
}
