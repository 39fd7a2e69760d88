package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Versioned

/** Plain `spark.sql` MERGE / UPDATE / DELETE against catalog names —
  * Spark's own analyzer rewrite over `SupportsRowLevelOperations`, no
  * dispatcher anywhere. DELETE with an exactly-translatable condition
  * takes the `SupportsDelete` fast path onto the file-pruned verb;
  * everything else is the group-based copy-on-write replace. */
class GraftRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-rowlevel-wh").toString
    spark.conf.set("spark.sql.catalog.graftr",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftr.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.rl")
    w
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  test("bare SQL DELETE: translatable condition takes the pruned " +
      "metadata path; others take the group-based rewrite") {
    sql("CREATE TABLE graftr.rl.del (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/rl/del"
    // two files with disjoint id ranges so pruning is observable
    Versioned.commit(spark, root,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root,
      (100 to 150).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1),
      statsCols = Seq("id"))
    val before = Versioned.files(root, Versioned.latestVersion(root).get)
    sql("DELETE FROM graftr.rl.del WHERE id <= 10")
    assert(sql("SELECT count(*) AS n FROM graftr.rl.del")
      .as[Long].head() === 91L)
    assert(sql("SELECT min(id) AS m FROM graftr.rl.del")
      .as[Long].head() === 11L)
    // the out-of-range file carried BY REFERENCE (the pruned verb ran)
    val after = Versioned.files(root, Versioned.latestVersion(root).get)
    assert(before.toSet.intersect(after.toSet).nonEmpty,
      "the un-hit file must carry by reference through bare-SQL DELETE")
    // a non-translatable condition still deletes correctly (group path)
    sql("DELETE FROM graftr.rl.del WHERE id % 2 = 0")
    assert(sql("SELECT count(*) AS n FROM graftr.rl.del")
      .as[Long].head() === 45L)
    assert(sql("SELECT count(*) AS n FROM graftr.rl.del WHERE id % 2 = 0")
      .as[Long].head() === 0L)
  }

  test("bare SQL UPDATE: swap semantics, partition layout preserved") {
    sql("CREATE TABLE graftr.rl.upd (id BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    val root = s"$warehouse/rl/upd"
    sql("INSERT INTO graftr.rl.upd VALUES " +
      "(1, 'd1', 10.0), (2, 'd1', 20.0), (3, 'd2', 30.0)")
    sql("UPDATE graftr.rl.upd SET v = v + 0.5 WHERE id <= 2")
    assert(sql("SELECT id, v FROM graftr.rl.upd ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.5), (2L, 20.5), (3L, 30.0)))
    // the rewrite kept the hive layout: partition verbs still work
    Versioned.overwritePartitions(spark, root,
      Seq((9L, "d2", 0.0)).toDF("id", "day", "v"))
    assert(sql("SELECT id FROM graftr.rl.upd WHERE day = 'd2'")
      .as[Long].collect().toSet === Set(9L))
    assert(sql("SELECT count(*) AS n FROM graftr.rl.upd WHERE day = 'd1'")
      .as[Long].head() === 2L)
  }

  test("bare SQL MERGE: update/delete/insert clauses and the " +
      "cardinality contract") {
    sql("CREATE TABLE graftr.rl.mrg (id BIGINT, v STRING)")
    sql("INSERT INTO graftr.rl.mrg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    Seq((2L, "b2"), (3L, "DEL"), (9L, "new")).toDF("id", "nv")
      .createOrReplaceTempView("rl_src")
    sql("""MERGE INTO graftr.rl.mrg t USING rl_src s ON t.id = s.id
          |WHEN MATCHED AND s.nv = 'DEL' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)"""
      .stripMargin)
    assert(sql("SELECT id, v FROM graftr.rl.mrg ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b2"), (9L, "new")))
    // NOT MATCHED BY SOURCE through bare SQL too
    Seq((2L, "keep")).toDF("id", "nv").createOrReplaceTempView("rl_src2")
    sql("""MERGE INTO graftr.rl.mrg t USING rl_src2 s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(sql("SELECT id FROM graftr.rl.mrg").as[Long]
      .collect().toSeq === Seq(2L))
    // two source rows matching one target row must error, not duplicate
    Seq((2L, "x"), (2L, "y")).toDF("id", "nv")
      .createOrReplaceTempView("rl_dup")
    val e = intercept[Exception] {
      sql("""MERGE INTO graftr.rl.mrg t USING rl_dup s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.toLowerCase.contains("merge") ||
      msgs.toLowerCase.contains("cardinality") ||
      msgs.toLowerCase.contains("multiple"), msgs)
    assert(sql("SELECT id, v FROM graftr.rl.mrg").as[(Long, String)]
      .collect().toSeq === Seq((2L, "b2")), "failed MERGE publishes nothing")
  }

  test("runtime group filtering: a MERGE touching one partition " +
      "carries the others by file identity") {
    sql("CREATE TABLE graftr.rl.rgf (id BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    val root = s"$warehouse/rl/rgf"
    sql("INSERT INTO graftr.rl.rgf VALUES " +
      "(1, 'd1', 1.0), (2, 'd1', 2.0), (3, 'd2', 3.0), (4, 'd3', 4.0)")
    val before = Versioned.files(root, Versioned.latestVersion(root).get)
    // the source hits ONLY d2 — runtime group filtering must narrow
    // the scanned (and therefore replaced) set to d2's file(s)
    Seq((3L, "d2", 30.0)).toDF("id", "day", "nv")
      .createOrReplaceTempView("rgf_src")
    sql("""MERGE INTO graftr.rl.rgf t USING rgf_src s
          |ON t.id = s.id AND t.day = s.day
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(sql("SELECT id, v FROM graftr.rl.rgf ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 4.0)))
    val after = Versioned.files(root, Versioned.latestVersion(root).get)
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size >= 2,
      s"d1 and d3 files must carry by identity (runtime group filter); " +
        s"carried=$carried before=$before after=$after")
  }

  test("multi-level partitioning: a MERGE touching one (day, src) " +
      "pair carries every other partition's files by identity") {
    sql("CREATE TABLE graftr.rl.ml (id BIGINT, day STRING, src STRING, " +
      "v DOUBLE) PARTITIONED BY (day, src)")
    val root = s"$warehouse/rl/ml"
    sql("INSERT INTO graftr.rl.ml VALUES (1,'d1','a',1.0), " +
      "(2,'d1','b',2.0), (3,'d2','a',3.0), (4,'d2','b',4.0)")
    val before = Versioned.files(root, Versioned.latestVersion(root).get)
    assert(before.size === 4, "one file per (day, src) tuple")
    // the source hits ONLY (d2, a) — with the single-attribute `_file`
    // group grain the runtime filter names exactly that file (a
    // multi-attribute partition grain would ship as a struct-IN, which
    // has no V2 translation and would rewrite everything)
    Seq((3L, "d2", "a", 30.0)).toDF("id", "day", "src", "nv")
      .createOrReplaceTempView("ml_src")
    sql("""MERGE INTO graftr.rl.ml t USING ml_src s
          |ON t.id = s.id AND t.day = s.day AND t.src = s.src
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(sql("SELECT id, v FROM graftr.rl.ml ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 4.0)))
    val after = Versioned.files(root, Versioned.latestVersion(root).get)
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size === 3,
      s"exactly the (d2, a) file may be replaced; carried=$carried")
  }

  test("file-grain runtime filtering: an UNPARTITIONED MERGE carries " +
      "untouched files by identity") {
    sql("CREATE TABLE graftr.rl.fg (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/rl/fg"
    // two files with disjoint id ranges, stats on id
    Versioned.commit(spark, root,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root,
      (100 to 150).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
        .coalesce(1), statsCols = Seq("id"))
    val before = Versioned.files(root, Versioned.latestVersion(root).get)
    // the source hits only the second file's key range — the _file
    // runtime group filter must narrow the replaced set to that file
    Seq((120L, 999.0)).toDF("id", "nv").createOrReplaceTempView("fg_src")
    sql("""MERGE INTO graftr.rl.fg t USING fg_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(sql("SELECT v FROM graftr.rl.fg WHERE id = 120")
      .as[Double].head() === 999.0)
    assert(sql("SELECT count(*) AS n FROM graftr.rl.fg")
      .as[Long].head() === 101L)
    val after = Versioned.files(root, Versioned.latestVersion(root).get)
    assert(before.toSet.intersect(after.toSet).nonEmpty,
      s"the un-hit file must carry by identity through bare-SQL MERGE; " +
        s"before=$before after=$after")
    // a MERGE matching nothing publishes NOTHING (fully-pruned no-op)
    val v = Versioned.latestVersion(root).get
    Seq((99999L, 0.0)).toDF("id", "nv").createOrReplaceTempView("fg_none")
    sql("""MERGE INTO graftr.rl.fg t USING fg_none s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(Versioned.latestVersion(root) === Some(v),
      "a no-match MERGE must not publish a version")
  }

  test("plan pin: the optimized MERGE plan carries the runtime group " +
      "filter (dynamic pruning subquery over the matching rows)") {
    sql("CREATE TABLE graftr.rl.pin (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graftr.rl.pin VALUES (1, 1.0), (2, 2.0)")
    Seq((2L, 20.0)).toDF("id", "nv").createOrReplaceTempView("pin_src")
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val parsed = cs.sessionState.sqlParser.parsePlan(
      """MERGE INTO graftr.rl.pin t USING pin_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val analyzed = cs.sessionState.analyzer.executeAndCheck(parsed,
      new org.apache.spark.sql.catalyst.QueryPlanningTracker)
    val optimized = cs.sessionState.optimizer.execute(analyzed).treeString
    assert(optimized.contains("dynamicpruningexpression"),
      s"the group filter must survive optimization:\n$optimized")
    assert(optimized.contains("_file"),
      "the unpartitioned group grain must be _file")
  }

  test("row-level ops on a COLUMN-MAPPED table: rename, then bare-SQL " +
      "UPDATE/MERGE read physical and write under the mapping") {
    sql("CREATE TABLE graftr.rl.map (id BIGINT, amount DOUBLE)")
    val root = s"$warehouse/rl/map"
    sql("INSERT INTO graftr.rl.map VALUES (1, 10.0), (2, 20.0)")
    // rename → files keep the physical name 'amount'; logical is 'bal'
    sql("ALTER TABLE graftr.rl.map RENAME COLUMN amount TO bal")
    sql("UPDATE graftr.rl.map SET bal = bal + 1.0 WHERE id = 1")
    assert(sql("SELECT id, bal FROM graftr.rl.map ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 11.0), (2L, 20.0)))
    Seq((2L, 99.0), (3L, 3.0)).toDF("id", "nb")
      .createOrReplaceTempView("map_src")
    sql("""MERGE INTO graftr.rl.map t USING map_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET bal = s.nb
          |WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.nb)"""
      .stripMargin)
    assert(sql("SELECT id, bal FROM graftr.rl.map ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 11.0), (2L, 99.0), (3L, 3.0)))
    // the library read agrees (mapping round-trips through both paths)
    assert(Versioned.read(spark, root).orderBy("id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 11.0), (2L, 99.0), (3L, 3.0)))
  }

  test("a concurrent commit during a row-level operation aborts loudly " +
      "and publishes nothing; the retry succeeds") {
    sql("CREATE TABLE graftr.rl.race (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/rl/race"
    sql("INSERT INTO graftr.rl.race VALUES (1, 1.0), (2, 2.0)")
    val prev = Versioned.coordinator
    var fired = false
    Versioned.coordinator =
      new graft.operators.ConditionalPutCoordinator(raceHook = { _ =>
        if (!fired) { fired = true
          Versioned.commit(spark, root, Seq((9L, 9.0)).toDF("id", "v"))
        }
      })
    try {
      val e = intercept[Exception] {
        sql("UPDATE graftr.rl.race SET v = 0.0 WHERE id % 2 = 0")
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("moved to version") ||
        msgs.contains("concurrent"), msgs)
    } finally Versioned.coordinator = prev
    // the sniper's row landed; the aborted update did not half-apply
    assert(sql("SELECT id, v FROM graftr.rl.race ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (9L, 9.0)))
    // re-running against the settled snapshot succeeds
    sql("UPDATE graftr.rl.race SET v = 0.0 WHERE id % 2 = 0")
    assert(sql("SELECT v FROM graftr.rl.race WHERE id = 2")
      .as[Double].head() === 0.0)
  }

  test("pending merge-on-read state never resurrects deleted rows: " +
      "deletion vectors anti-filter provenance reads and route DML " +
      "onto the delta path; predicate deletes refuse loudly") {
    sql("CREATE TABLE graftr.rl.morg (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/rl/morg"
    sql("INSERT INTO graftr.rl.morg VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    // a plain read with no pending state MAY project _file
    assert(sql("SELECT _file, id FROM graftr.rl.morg").count() === 3L)
    Versioned.deleteRows(spark, root, col("id") === 2L)
    // the DV-AWARE native scan honors the vector on plain reads and
    // serves the provenance projection with the deleted row filtered
    assert(sql("SELECT id FROM graftr.rl.morg").as[Long]
      .collect().toSet === Set(1L, 3L))
    assert(sql("SELECT _file, id FROM graftr.rl.morg")
      .select("id").as[Long].collect().toSet === Set(1L, 3L))
    // bare-SQL DML routes onto the delta path (auto mode) and matches
    // only LIVE rows — id=2 stays deleted
    sql("UPDATE graftr.rl.morg SET v = 0.0 WHERE id % 2 = 1")
    assert(sql("SELECT id, v FROM graftr.rl.morg ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 0.0), (3L, 0.0)))
    // a manifest in the retired PREDICATE delete form is refused
    // loudly by both a plain read and bare-SQL DML — never read past
    sql("CREATE TABLE graftr.rl.morp (id BIGINT, v DOUBLE)")
    val rootP = s"$warehouse/rl/morp"
    sql("INSERT INTO graftr.rl.morp VALUES (1, 1.0), (2, 2.0)")
    graft.operators.VersionedDvSpec.writePredicateDeleteManifest(rootP)
    val e = intercept[Exception] {
      sql("SELECT id FROM graftr.rl.morp").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("merge-on-read"), msgs)
    val e2 = intercept[Exception] {
      sql("UPDATE graftr.rl.morp SET v = 0.0 WHERE id % 2 = 1")
    }
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs2.contains("merge-on-read"), msgs2)
  }

  test("the row-level history is versioned like every other verb") {
    sql("CREATE TABLE graftr.rl.hist (id BIGINT, v DOUBLE)")
    val root = s"$warehouse/rl/hist"
    sql("INSERT INTO graftr.rl.hist VALUES (1, 1.0), (2, 2.0)")
    sql("UPDATE graftr.rl.hist SET v = 0.0 WHERE id = 1")
    // time travel reads the pre-update snapshot
    assert(sql("SELECT v FROM graftr.rl.hist VERSION AS OF 2 " +
      "WHERE id = 1").as[Double].head() === 1.0)
    assert(sql("SELECT v FROM graftr.rl.hist WHERE id = 1")
      .as[Double].head() === 0.0)
    val actions = Versioned.history(spark, root)
      .select("action").as[String].collect().toSeq
    assert(actions.exists(a => a == "update" || a == "delete"),
      s"history must record the row-level verb, got $actions")
  }
}
