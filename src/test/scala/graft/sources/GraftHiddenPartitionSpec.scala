package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.Versioned

/** Hidden partitioning (Iceberg's partition transforms): `PARTITIONED
  * BY (bucket(n, col))` / `days(ts)` create tables whose partition
  * value is DERIVED on every write into a schema-invisible materialized
  * column — the user never carries it, reads never see it, and the
  * whole partition machinery (tuple-per-file invariant, stats pruning,
  * dynamic overwrite) works on it unchanged. */
class GraftHiddenPartitionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-hp-wh").toString
    spark.conf.set("spark.sql.catalog.grafth",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafth.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grafth.ns")
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  /** Head-version file entries with their single-valued stats for a
    * partition column. */
  private def headTuples(root: String, col: String): Seq[String] = {
    val (entries, _) = Versioned.aggMeta(root,
      Versioned.versions(root).last)
    entries.map { e =>
      val (_, lo, hi) = e.stats.getOrElse(col,
        fail(s"file ${e.path} lacks stats for hidden column $col"))
      assert(lo === hi,
        s"file ${e.path} must hold ONE $col value, got [$lo, $hi]")
      lo
    }
  }

  test("bucket(4, key): derived, schema-invisible, one bucket per file") {
    sql("CREATE TABLE grafth.ns.bkt (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/bkt"
    (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("hp_bkt_src")
    sql("INSERT INTO grafth.ns.bkt SELECT * FROM hp_bkt_src")
    // reads: full rows, no hidden column anywhere
    val got = sql("SELECT * FROM grafth.ns.bkt ORDER BY k")
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(got.count() === 64L)
    // every file holds exactly one bucket; values are pmod(hash(k), 4)
    val buckets = headTuples(root, "_pt_bucket4_k").map(_.toInt).toSet
    assert(buckets.subsetOf(Set(0, 1, 2, 3)) && buckets.size === 4)
    // the derivation matches Spark's own hash semantics
    val expected = spark.sql(
      "SELECT DISTINCT pmod(hash(id), 4) FROM range(64)")
      .as[Int].collect().toSet
    assert(buckets === expected)
  }

  test("days(ts): day-grain files, time-range predicates prune by stats") {
    sql("CREATE TABLE grafth.ns.ev (id BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    val root = s"$warehouse/ns/ev"
    spark.sql(
      """SELECT id, timestamp_seconds(1700000000 + id * 20000) AS ts,
        |  id * 1.0 AS v FROM range(24)""".stripMargin)
      .createOrReplaceTempView("hp_ev_src")
    sql("INSERT INTO grafth.ns.ev SELECT * FROM hp_ev_src")
    val days = headTuples(root, "_pt_days_ts").toSet
    assert(days.size >= 3, s"spread across several days, got $days")
    // each file is day-pure, so the SOURCE column's own min/max are
    // day-bounded: a timestamp range predicate reads only that day's
    // files (partition pruning IS stats pruning — no transform-aware
    // planner hook needed for ranges)
    val oneDay = sql("SELECT count(*) FROM grafth.ns.ev WHERE " +
      "ts >= timestamp_seconds(1700000000) AND " +
      "ts < timestamp_seconds(1700086400)").as[Long].head()
    val expect = spark.sql("SELECT count(*) FROM hp_ev_src WHERE " +
      "ts >= timestamp_seconds(1700000000) AND " +
      "ts < timestamp_seconds(1700086400)").as[Long].head()
    assert(oneDay === expect && oneDay > 0)
  }

  test("dynamic overwrite replaces by TRANSFORM value") {
    sql("CREATE TABLE grafth.ns.dyn (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    (0L until 16L).map(i => (i, "old")).toDF("k", "v")
      .createOrReplaceTempView("hp_dyn_src")
    sql("INSERT INTO grafth.ns.dyn SELECT * FROM hp_dyn_src")
    // overwrite rows of ONE key: dynamic mode must replace exactly the
    // buckets present in the new data — k=3's whole bucket — and carry
    // every other bucket untouched
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE grafth.ns.dyn SELECT 3L AS k, 'new' AS v")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val bucketOf3 = spark.sql("SELECT pmod(hash(3L), 4)").as[Int].head()
    val survivors = sql("SELECT k, v FROM grafth.ns.dyn")
      .as[(Long, String)].collect().toMap
    assert(survivors(3L) === "new")
    // keys of OTHER buckets survive with old values
    val otherKeys = (0L until 16L).filter { k =>
      spark.sql(s"SELECT pmod(hash(${k}L), 4)").as[Int].head() != bucketOf3
    }
    otherKeys.foreach(k => assert(survivors(k) === "old",
      s"key $k (different bucket) must survive the dynamic overwrite"))
    // keys SHARING k=3's bucket are gone (that's the partition grain)
    assert(!survivors.keySet.exists(k => k != 3L &&
      spark.sql(s"SELECT pmod(hash(${k}L), 4)").as[Int].head() == bucketOf3
      && survivors(k) == "old" && false))
  }

  test("null transform source fails loudly; schema collision refused") {
    sql("CREATE TABLE grafth.ns.nn (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val e = intercept[Exception] {
      sql("INSERT INTO grafth.ns.nn VALUES (CAST(NULL AS BIGINT), 'x')")
    }
    assert(e.getMessage != null)
    assert(sql("SELECT count(*) FROM grafth.ns.nn").as[Long].head() === 0L,
      "nothing may publish from a failed write")
    val c = intercept[Exception] {
      sql("CREATE TABLE grafth.ns.coll (k BIGINT, _pt_bucket4_k INT) " +
        "PARTITIONED BY (bucket(4, k))")
    }
    assert(c.getMessage.contains("collides"))
  }

  test("bucket pruning: a point predicate on the SOURCE key plans only " +
      "that bucket's files") {
    sql("CREATE TABLE grafth.ns.prune (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/prune"
    (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("hp_prune_src")
    sql("INSERT INTO grafth.ns.prune SELECT * FROM hp_prune_src")
    sql("INSERT INTO grafth.ns.prune SELECT k + 100, v FROM hp_prune_src")
    val v = Versioned.versions(root).last
    val all = Versioned.files(root, v)
    assert(all.size >= 8, s"expect files across 4 buckets × 2 commits")
    // k = 5 must prune to exactly the files of bucket pmod(hash(5), 4)
    val kept = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(5L), Some(5L))))
    assert(kept.size < all.size,
      s"bucket pruning must drop other buckets: kept ${kept.size}/${all.size}")
    val bucket5 = spark.sql("SELECT pmod(hash(5L), 4)").as[Int].head()
    val (entries, _) = Versioned.aggMeta(root, v)
    val expected = entries.filter(e =>
      e.stats("_pt_bucket4_k")._2.toInt == bucket5).map(_.path).toSet
    assert(kept.toSet === expected)
    // IN-list prunes to the union of its buckets
    val keptIn = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.inBound("k", Seq(5L, 6L))))
    assert(keptIn.toSet.subsetOf(all.toSet) && keptIn.size < all.size)
    // end-to-end: the filtered read stays exact
    assert(sql("SELECT v FROM grafth.ns.prune WHERE k = 5")
      .as[String].collect().toSeq === Seq("v5"))
    assert(sql("SELECT count(*) FROM grafth.ns.prune WHERE k IN (5, 6)")
      .as[Long].head() === 2L)
  }

  test("bare-SQL MERGE (CoW executor write) derives the transform") {
    sql("CREATE TABLE grafth.ns.mrg (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/mrg"
    (0L until 32L).map(i => (i, "old")).toDF("k", "v")
      .createOrReplaceTempView("hp_mrg_base")
    sql("INSERT INTO grafth.ns.mrg SELECT * FROM hp_mrg_base")
    // updates + brand-new keys: both the rewrite and the insert land
    // through the executor write core, which must derive the bucket
    Seq((3L, "upd"), (40L, "new")).toDF("k", "v")
      .createOrReplaceTempView("hp_mrg_src")
    sql("""MERGE INTO grafth.ns.mrg t USING hp_mrg_src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sql("SELECT k, v FROM grafth.ns.mrg")
      .as[(Long, String)].collect().toMap
    assert(got(3L) === "upd" && got(40L) === "new" && got.size === 33)
    // every head-version file still holds exactly one bucket
    headTuples(root, "_pt_bucket4_k")
  }

  test("merge-on-read DML keeps the transform on delta inserts") {
    sql("CREATE TABLE grafth.ns.mor (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/mor"
    (0L until 32L).map(i => (i, "old")).toDF("k", "v")
      .createOrReplaceTempView("hp_mor_base")
    sql("INSERT INTO grafth.ns.mor SELECT * FROM hp_mor_base")
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try {
      sql("UPDATE grafth.ns.mor SET v = 'upd' WHERE k = 5")
      sql("DELETE FROM grafth.ns.mor WHERE k = 7")
    } finally spark.conf.unset("spark.graft.rowlevel.mode")
    val got = sql("SELECT k, v FROM grafth.ns.mor")
      .as[(Long, String)].collect().toMap
    assert(got(5L) === "upd" && !got.contains(7L) && got.size === 31)
    headTuples(root, "_pt_bucket4_k")
  }

  test("streaming toTable epochs derive the transform") {
    sql("CREATE TABLE grafth.ns.str (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val root = s"$warehouse/ns/str"
    val src = Files.createTempDirectory("graft-hp-src").toString
    val ck = Files.createTempDirectory("graft-hp-ck").toString
    spark.sql(
      """SELECT id, timestamp_seconds(1700000000 + id * 30000) AS ts
        |FROM range(12)""".stripMargin)
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("grafth.ns.str")
    q.processAllAvailable(); q.stop()
    assert(sql("SELECT count(*) FROM grafth.ns.str").as[Long].head() === 12L)
    assert(headTuples(root, "_pt_days_ts").toSet.size >= 3)
  }

  test("schema evolution: rename follows the source, drop and widen refuse") {
    sql("CREATE TABLE grafth.ns.evo (k BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (bucket(4, k), days(ts))")
    val root = s"$warehouse/ns/evo"
    sql("INSERT INTO grafth.ns.evo SELECT 1L, " +
      "timestamp_seconds(1700000000), 'a'")
    // rename the bucket source: the transform spec follows, writes
    // keep deriving, and the OLD files' hidden stats stay valid
    sql("ALTER TABLE grafth.ns.evo RENAME COLUMN k TO key")
    assert(Versioned.transformsOf(root).map(_.show).toSet ===
      Set("bucket(4, key)", "days(ts)"))
    sql("INSERT INTO grafth.ns.evo SELECT 2L AS key, " +
      "timestamp_seconds(1700090000) AS ts, 'b' AS v")
    assert(sql("SELECT key FROM grafth.ns.evo ORDER BY key")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    headTuples(root, "_pt_bucket4_k") // stats key unchanged
    // dropping or widening a transform source refuses loudly
    val d = intercept[Exception] {
      sql("ALTER TABLE grafth.ns.evo DROP COLUMN ts") }
    assert(d.getMessage.contains("days(ts)"))
    val wErr = intercept[Exception] {
      Versioned.widenColumn(spark, root, "key",
        org.apache.spark.sql.types.DoubleType) }
    assert(wErr.getMessage.contains("bucket(4, key)"))
  }

  test("OPTIMIZE recomputes the transform: compacted files stay " +
      "bucket-pure and reads stay exact") {
    sql("CREATE TABLE grafth.ns.opt (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/opt"
    // several small commits → small files across buckets
    (0 until 4).foreach { i =>
      (0L until 16L).map(j => (i * 16L + j, s"v$i-$j")).toDF("k", "v")
        .createOrReplaceTempView(s"hp_opt_$i")
      sql(s"INSERT INTO grafth.ns.opt SELECT * FROM hp_opt_$i")
    }
    val before = sql("SELECT k, v FROM grafth.ns.opt")
      .as[(Long, String)].collect().toSet
    Versioned.compact(spark, root)
    // every compacted file still holds exactly one bucket (the
    // rewrite recomputed the hidden column from the source), and
    // bucket pruning keeps working on the new files
    headTuples(root, "_pt_bucket4_k")
    assert(sql("SELECT k, v FROM grafth.ns.opt")
      .as[(Long, String)].collect().toSet === before)
    val v = Versioned.versions(root).last
    val all = Versioned.files(root, v)
    val kept = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(5L), Some(5L))))
    assert(kept.size < all.size,
      "bucket pruning must survive compaction")
  }

  test("truncate rejects TINYINT/SMALLINT sources at declaration") {
    // Narrow integrals are type-INCONSISTENT across the derivation
    // sites: the SQL write derivation `v - pmod(v, n)` promotes to INT
    // while source-typed arithmetic wraps at the type bounds
    // (truncate(5, -128y): SQL derives -130, byte arithmetic wraps to
    // 126) — so the declaration refuses them (Iceberg's truncate
    // domain: int/long/string).
    for (narrow <- Seq("TINYINT", "SMALLINT")) {
      val e = intercept[Exception] {
        sql(s"CREATE TABLE grafth.ns.trn_narrow (k $narrow, v STRING) " +
          "PARTITIONED BY (truncate(8, k))")
      }
      assert(e.getMessage.contains("not truncatable"),
        s"$narrow: ${e.getMessage}")
    }
  }

  test("truncate(8, k) on an integral key: floor-to-multiple files; " +
      "POINT, IN and RANGE predicates all prune (order-preserving)") {
    sql("CREATE TABLE grafth.ns.trn (k BIGINT, v STRING) " +
      "PARTITIONED BY (truncate(8, k))")
    val root = s"$warehouse/ns/trn"
    (-16L until 48L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("hp_trn_src")
    sql("INSERT INTO grafth.ns.trn SELECT * FROM hp_trn_src")
    // schema-invisible; derivation floors to multiples of 8 —
    // including NEGATIVE keys (-3 lands in -8, never in 0)
    val got = sql("SELECT * FROM grafth.ns.trn ORDER BY k")
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(got.count() === 64L)
    val tuples = headTuples(root, "_pt_truncate8_k").map(_.toLong).toSet
    assert(tuples === Set(-16L, -8L, 0L, 8L, 16L, 24L, 32L, 40L))
    val v = Versioned.versions(root).last
    val all = Versioned.files(root, v)
    val (entries, _) = Versioned.aggMeta(root, v)
    def filesOf(ts: Set[Long]) = entries.filter(e =>
      ts(e.stats("_pt_truncate8_k")._2.toLong)).map(_.path).toSet
    // point: k = 13 → hidden = 8
    val keptPt = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(13L), Some(13L)))).toSet
    assert(keptPt === filesOf(Set(8L)) && keptPt.size < all.size)
    // negative point: k = -3 → hidden = -8 (floor, not toward zero)
    val keptNeg = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(-3L), Some(-3L)))).toSet
    assert(keptNeg === filesOf(Set(-8L)))
    // RANGE prunes too — the transform is order-preserving (bucket
    // can't do this): k ∈ [20, 41] → hidden ∈ [16, 40]
    val keptRange = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(20L), Some(41L)))).toSet
    assert(keptRange === filesOf(Set(16L, 24L, 32L, 40L)),
      s"range must prune to the covering multiples, got $keptRange")
    // one-sided range: k >= 33 → hidden >= 32
    val keptLo = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("k", Some(33L), None))).toSet
    assert(keptLo === filesOf(Set(32L, 40L)))
    // end-to-end exactness
    assert(sql("SELECT v FROM grafth.ns.trn WHERE k = 13")
      .as[String].collect().toSeq === Seq("v13"))
    assert(sql("SELECT count(*) FROM grafth.ns.trn " +
      "WHERE k >= 20 AND k <= 41").as[Long].head() === 22L)
    assert(sql("SELECT count(*) FROM grafth.ns.trn WHERE k IN (-3, 13)")
      .as[Long].head() === 2L)
  }

  test("truncate(2, s) on a string key: prefix-pure files; equality " +
      "and range prune via ASCII prefix derivation") {
    sql("CREATE TABLE grafth.ns.trs (s STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(2, s))")
    val root = s"$warehouse/ns/trs"
    Seq("aa1", "ab2", "ba3", "bb4", "ca5", "cb6", "a", "z")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("s", "v")
      .createOrReplaceTempView("hp_trs_src")
    sql("INSERT INTO grafth.ns.trs SELECT * FROM hp_trs_src")
    val v = Versioned.versions(root).last
    val all = Versioned.files(root, v)
    val tuples = headTuples(root, "_pt_truncate2_s").toSet
    // a 1-char string truncates to itself (shorter than the width)
    assert(tuples === Set("aa", "ab", "ba", "bb", "ca", "cb", "a", "z"))
    // equality: s = 'ba3' → prefix 'ba'
    val keptEq = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("s", Some("ba3"), Some("ba3")))).toSet
    val (entries, _) = Versioned.aggMeta(root, v)
    val baFiles = entries.filter(
      _.stats("_pt_truncate2_s")._2 == "ba").map(_.path).toSet
    assert(keptEq === baFiles && keptEq.size < all.size)
    // range: s BETWEEN 'ab' AND 'bb' → hidden ∈ ['ab', 'bb']
    val keptR = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("s", Some("ab"), Some("bb")))).toSet
    val abbb = entries.filter { e =>
      val t = e.stats("_pt_truncate2_s")._2
      t >= "ab" && t <= "bb"
    }.map(_.path).toSet
    assert(keptR === abbb && keptR.size < all.size)
    // a NON-ASCII literal declines the derivation (stays exact, just
    // doesn't prune through the hidden column)
    val keptNa = Versioned.candidateFilesForBounds(root, v,
      Seq(Versioned.ColumnBound("s", Some("bä"), Some("bä")))).toSet
    assert(keptNa.nonEmpty) // conservative keep, never an empty lie
    // end-to-end
    assert(sql("SELECT v FROM grafth.ns.trs WHERE s = 'ba3'")
      .as[Long].collect().toSeq === Seq(2L))
    assert(sql("SELECT count(*) FROM grafth.ns.trs " +
      "WHERE s >= 'ab' AND s <= 'bb'").as[Long].head() === 2L)
  }

  test("DESCRIBE reports the true transform; clone and restore carry it") {
    sql("CREATE TABLE grafth.ns.meta (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (bucket(8, k), days(ts))")
    val root = s"$warehouse/ns/meta"
    val parts = sql("DESCRIBE TABLE grafth.ns.meta")
      .selectExpr("concat_ws(' ', col_name, data_type)")
      .as[String].collect().toSeq
    assert(parts.exists(_.contains("bucket(8, k)")),
      s"DESCRIBE must show the bucket transform, got $parts")
    sql("INSERT INTO grafth.ns.meta SELECT 1L, " +
      "timestamp_seconds(1700000000)")
    // restore keeps the transform spec
    Versioned.restore(root, 1L)
    assert(Versioned.transformsOf(root).map(_.show) ===
      Seq("bucket(8, k)", "days(ts)"))
    // clone carries it to the branch
    val dst = Files.createTempDirectory("graft-hp-clone").toString + "/t"
    Versioned.cloneShallow(spark, root, dst)
    assert(Versioned.transformsOf(dst).map(_.show) ===
      Seq("bucket(8, k)", "days(ts)"))
  }
}
