package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.Versioned

/** Write-side distribution and ordering (`spark.graft.write.*`): the
  * small-files economics of clustered writes, proven by counting the
  * files each commit actually published. Without a write distribution,
  * every task holding rows of a partition opens a file in it — T tasks
  * × P partitions files; with `distribution=hash` Spark plans one AQE
  * rebalance by partition value and the commit lands O(P) files. */
class GraftWriteDistributionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-wdist-wh").toString
    spark.conf.set("spark.sql.catalog.graftw",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftw.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftw.ns")
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  private def withDistribution[A](sortBy: Option[String] = None)(f: => A): A = {
    spark.conf.set("spark.graft.write.distribution", "hash")
    sortBy.foreach(spark.conf.set("spark.graft.write.sortBy", _))
    try f finally {
      spark.conf.unset("spark.graft.write.distribution")
      spark.conf.unset("spark.graft.write.sortBy")
    }
  }

  /** Files the head version added over its parent. */
  private def addedFiles(root: String): Int = {
    val vs = Versioned.versions(root)
    val now = Versioned.files(root, vs.last).toSet
    val before =
      if (vs.size < 2) Set.empty[String]
      else Versioned.files(root, vs(vs.size - 2)).toSet
    (now -- before).size
  }

  // a frame whose 6 partition values are deliberately SCATTERED over 4
  // input tasks: the unclustered write's worst case (every task sees
  // every partition)
  private def scattered() =
    spark.range(0, 240, 1, 4)
      .selectExpr("id", "cast(id % 6 as int) AS p")

  test("unclustered append fans out; distribution=hash lands O(partitions) files") {
    sql("CREATE TABLE graftw.ns.fan (id BIGINT, p INT) PARTITIONED BY (p)")
    val root = s"$warehouse/ns/fan"
    scattered().createOrReplaceTempView("wdist_src")
    sql("INSERT INTO graftw.ns.fan SELECT * FROM wdist_src")
    val unclustered = addedFiles(root)
    assert(unclustered > 6,
      s"baseline: 4 tasks × 6 partitions should exceed 6 files, got $unclustered")
    withDistribution() {
      sql("INSERT INTO graftw.ns.fan SELECT * FROM wdist_src")
    }
    assert(addedFiles(root) === 6,
      "hash distribution must land exactly one file per partition tuple")
    // correctness unchanged: both inserts fully readable
    assert(sql("SELECT count(*) FROM graftw.ns.fan").as[Long].head() === 480L)
  }

  test("atomic CTAS honors the write distribution against the " +
      "DECLARED spec (the table has no manifest at plan time)") {
    scattered().createOrReplaceTempView("wdist_ctas_src")
    // baseline: unclustered CTAS fans out (4 tasks × 6 partitions)
    sql("CREATE TABLE graftw.ns.cfan PARTITIONED BY (p) AS " +
      "SELECT * FROM wdist_ctas_src")
    val fanned = Versioned.files(s"$warehouse/ns/cfan", 1L).size
    assert(fanned > 6,
      s"baseline CTAS should fan out past 6 files, got $fanned")
    withDistribution() {
      sql("CREATE TABLE graftw.ns.cone PARTITIONED BY (p) AS " +
        "SELECT * FROM wdist_ctas_src")
    }
    assert(Versioned.files(s"$warehouse/ns/cone", 1L).size === 6,
      "a distributed CTAS must land exactly one file per tuple at v1")
    // the declared layout also applies to HIDDEN transforms: a
    // bucket-partitioned CTAS clusters by the derivation expression
    withDistribution() {
      sql("CREATE TABLE graftw.ns.cbkt PARTITIONED BY (bucket(4, id)) " +
        "AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 240, 1, 4)")
    }
    assert(Versioned.files(s"$warehouse/ns/cbkt", 1L).size === 4,
      "a bucketed CTAS must land exactly one file per bucket at v1")
    assert(sql("SELECT count(*) FROM graftw.ns.cbkt")
      .as[Long].head() === 240L)
  }

  test("dynamic partition overwrite honors the write distribution") {
    sql("CREATE TABLE graftw.ns.dyn (id BIGINT, p INT) PARTITIONED BY (p)")
    val root = s"$warehouse/ns/dyn"
    scattered().createOrReplaceTempView("wdist_dyn_src")
    withDistribution() {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sql("INSERT OVERWRITE graftw.ns.dyn SELECT * FROM wdist_dyn_src")
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(addedFiles(root) === 6)
    assert(sql("SELECT count(*) FROM graftw.ns.dyn").as[Long].head() === 240L)
  }

  test("ordered distribution on an unpartitioned table writes disjoint file ranges") {
    sql("CREATE TABLE graftw.ns.sorted (k BIGINT, v STRING)")
    val root = s"$warehouse/ns/sorted"
    // shuffled keys over 8 tasks: without a range distribution every
    // file's [min,max] spans nearly the whole domain
    spark.range(0, 4000, 1, 8)
      .selectExpr("cast((id * 2654435761) % 4096 as bigint) AS k",
        "cast(id as string) AS v")
      .createOrReplaceTempView("wdist_sorted_src")
    withDistribution(sortBy = Some("k")) {
      sql("INSERT INTO graftw.ns.sorted SELECT * FROM wdist_sorted_src")
    }
    // the catalog INSERT records no manifest stats for k — read each
    // file's own footer-backed min/max through a per-file scan
    val ranges = Versioned.files(root, Versioned.versions(root).last)
      .map { rel =>
        val r = spark.read.parquet(s"$root/$rel")
          .agg(org.apache.spark.sql.functions.min("k"),
            org.apache.spark.sql.functions.max("k"))
          .as[(Long, Long)].head()
        r
      }
    assert(ranges.nonEmpty)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2,
          s"file ranges overlap under ordered distribution: $sorted")
      case _ => ()
    }
  }

  test("streaming toTable epochs honor the write distribution") {
    sql("CREATE TABLE graftw.ns.str (id BIGINT, p INT) PARTITIONED BY (p)")
    val root = s"$warehouse/ns/str"
    val src = Files.createTempDirectory("graft-wdist-src").toString
    val ck = Files.createTempDirectory("graft-wdist-ck").toString
    // 4 input files → 4 stream tasks, each seeing all 6 partitions
    scattered().write.mode("overwrite").parquet(src)
    withDistribution() {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graftw.ns.str")
      q.processAllAvailable(); q.stop()
    }
    assert(addedFiles(root) === 6,
      "the micro-batch write must cluster by partition value")
    assert(sql("SELECT count(*) FROM graftw.ns.str").as[Long].head() === 240L)
  }

  test("bucket-transform tables cluster by the transform expression") {
    sql("CREATE TABLE graftw.ns.btx (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val root = s"$warehouse/ns/btx"
    spark.range(0, 256, 1, 8).selectExpr("id AS k", "'x' AS v")
      .createOrReplaceTempView("wdist_btx")
    // baseline: 8 tasks × 4 buckets fans out
    sql("INSERT INTO graftw.ns.btx SELECT * FROM wdist_btx")
    assert(addedFiles(root) > 4)
    withDistribution() {
      sql("INSERT INTO graftw.ns.btx SELECT * FROM wdist_btx")
    }
    assert(addedFiles(root) === 4,
      "hash distribution must cluster by bucket(4, k): one file per bucket")
    assert(sql("SELECT count(*) FROM graftw.ns.btx").as[Long].head() === 512L)
  }

  test("targetFileSize splits a skewed partition into bounded files " +
      "while small partitions still land one file") {
    sql("CREATE TABLE graftw.ns.tfs (id BIGINT, p INT, pad STRING) " +
      "PARTITIONED BY (p)")
    val root = s"$warehouse/ns/tfs"
    // p=0 carries ~10+ MB of COMPRESSED shuffle bytes (high-entropy
    // pad — a constant pad would compress to nothing and defeat the
    // byte-budget split); p=1 a few rows
    spark.range(0, 100000, 1, 8)
      .selectExpr("id", "CAST(id >= 99990 AS INT) AS p",
        "repeat(md5(CAST(id AS STRING)), 4) AS pad")
      .createOrReplaceTempView("wdist_tfs")
    spark.conf.set("spark.graft.write.targetFileSize", (1 << 20).toString)
    try withDistribution() {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sql("INSERT OVERWRITE graftw.ns.tfs SELECT * FROM wdist_tfs")
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    } finally spark.conf.unset("spark.graft.write.targetFileSize")
    val (entries, _) = Versioned.aggMeta(root,
      Versioned.versions(root).last)
    val byP = entries.groupBy(_.stats("p")._2)
    assert(byP("0").size > 3,
      s"the big partition must split at ~1 MB: ${byP("0").size} files")
    assert(byP("1").size === 1,
      s"the tiny partition must stay one file: ${byP("1").size}")
    assert(sql("SELECT count(*) FROM graftw.ns.tfs").as[Long].head()
      === 100000L)
  }

  test("a sortBy column missing from the write schema fails loudly") {
    sql("CREATE TABLE graftw.ns.badsort (k BIGINT)")
    withDistribution(sortBy = Some("nope")) {
      val e = intercept[Exception] {
        sql("INSERT INTO graftw.ns.badsort VALUES (1)")
      }
      assert(e.getMessage.contains("nope"))
    }
  }
}
