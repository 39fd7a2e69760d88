package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** The extensions must register on a FRESH session (functions are bound
  * at session build), so this suite builds its own instead of SparkSpec's. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate would return another suite's session and silently skip
    // withExtensions — force a fresh session (shares the SparkContext).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with the JVM's artifact isolation property set to
    * `value` (or absent), restoring what was there before. */
  private def withIsolationProperty(value: Option[String])(body: => Unit): Unit = {
    val key = GraftExtensions.ArtifactIsolation
    def put(v: Option[String]): Unit = v match {
      case Some(x) => System.setProperty(key, x)
      case None => System.clearProperty(key)
    }
    val before = sys.props.get(key)
    put(value)
    try body finally put(before)
  }

  test("apply makes artifact isolation off the JVM default; an explicit SparkConf value wins") {
    val key = GraftExtensions.ArtifactIsolation
    withIsolationProperty(None) {
      assert(!new SparkConf().contains(key))
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(new SparkConf().get(key) === "false")
      assert(new SparkConf().set(key, "true").get(key) === "true")
    }
  }

  test("apply keeps an artifact isolation value the JVM already has") {
    val key = GraftExtensions.ArtifactIsolation
    withIsolationProperty(Some("true")) {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props(key) === "true")
      assert(new SparkConf().get(key) === "true")
    }
  }

  test("global-window totals rewrite to a broadcast aggregate (no Window node)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(1, 101).toDF("x")
      .withColumn("tot", sum($"x").over(W.partitionBy()))
      .withColumn("pct", $"x" / $"tot")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Window"),
      "SUM() OVER () must be rewritten away:\n" + optimized)
    // values are exactly the naive window's
    val rows = df.filter($"x" === 10).select("tot", "pct")
      .as[(Long, Double)].head()
    assert(rows._1 === 5050L && rows._2 === 10.0 / 5050.0)
    // full equivalence against the un-extended session's computation
    val got = df.select("x", "tot").as[(Long, Long)].collect().toSet
    assert(got === (1L to 100L).map(x => (x, 5050L)).toSet)
  }

  test("partitioned and running windows are NOT rewritten") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = spark.range(1, 11).toDF("x").withColumn("k", $"x" % 2)
    val partitioned = base.withColumn("t", sum($"x").over(W.partitionBy($"k")))
    assert(partitioned.queryExecution.optimizedPlan.toString.contains("Window"))
    val running = base.withColumn("r",
      sum($"x").over(W.partitionBy($"k").orderBy($"x")))
    assert(running.queryExecution.optimizedPlan.toString.contains("Window"))
    // and they still compute correctly in the extended session
    assert(partitioned.filter($"x" === 2).select("t").as[Long].head() ===
      (2L + 4 + 6 + 8 + 10))
  }

  test("mixed global aggregates rewrite together (one aggregate, one join)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(1, 6).toDF("x")
      .withColumn("tot", sum($"x").over(W.partitionBy()))
      .withColumn("mx", max($"x").over(W.partitionBy()))
      .withColumn("n", count(lit(1)).over(W.partitionBy()))
    assert(!df.queryExecution.optimizedPlan.toString.contains("Window"))
    val r = df.filter($"x" === 3).select("tot", "mx", "n")
      .as[(Long, Long, Long)].head()
    assert(r === ((15L, 5L, 5L)))
  }

  test("dot_product is callable from SQL") {
    val v = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(v === 32.0)
  }

  test("simhash_bits is callable from SQL and matches the Column API") {
    val sqlV = spark.sql(
      "SELECT simhash_bits(array(123456789L, 987654321L), 60) AS h")
      .head().getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val colV = Seq(Seq(123456789L, 987654321L)).toDF("h")
      .select(graft.functions.expressions.SimHashBits.simhash_bits(col("h"), 60))
      .head().getLong(0)
    assert(sqlV === colV)
  }

  test("rolling_fingerprint is callable from SQL and matches the Column API") {
    val text = "the quick brown fox jumps over the lazy dog"
    val sqlV = spark.sql(
      s"SELECT rolling_fingerprint('$text', 16, 8) AS f")
      .head().getSeq[Long](0)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val colV = Seq(text).toDF("t")
      .select(graft.functions.expressions.RollingFingerprint
        .rolling_fingerprint(col("t"), 16, 8))
      .head().getSeq[Long](0)
    assert(sqlV === colV && sqlV.nonEmpty)
  }

  test("simhash64 is callable from SQL and matches the Column API") {
    val sqlV = spark.sql("SELECT simhash64(array('spark', 'engine')) AS h")
      .head().getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val colV = Seq(Seq("spark", "engine")).toDF("t")
      .select(graft.functions.expressions.SimHash64.simhash64(col("t")))
      .head().getLong(0)
    assert(sqlV === colV)
  }

  test("topk_pairs aggregate is callable from SQL") {
    import spark.implicits._
    Seq((1L, 2L, 0.5), (1L, 3L, 0.8), (2L, 9L, 0.1))
      .toDF("g", "id", "sc").createOrReplaceTempView("tk_in")
    val rows = spark.sql(
      "SELECT g, topk_pairs(sc, id, 1) AS tk FROM tk_in GROUP BY g")
      .selectExpr("g", "tk[0].id AS id", "tk[0].score AS sc")
      .as[(Long, Long, Double)].collect().toSet
    assert(rows === Set((1L, 3L, 0.8), (2L, 9L, 0.1)))
  }

  test("lake TVFs: graft_table/history/files/changes from pure SQL") {
    import spark.implicits._
    import graft.operators.Versioned
    val root = java.nio.file.Files
      .createTempDirectory("graft-tvf").toString + "/t"
    Versioned.commit(spark, root,
      (1 to 30).map(i => (i.toLong, s"a$i")).toDF("id", "tag").coalesce(1),
      statsCols = Seq("id"))
    Versioned.commit(spark, root,
      (31 to 40).map(i => (i.toLong, s"b$i")).toDF("id", "tag").coalesce(1),
      statsCols = Seq("id"))
    // snapshot + VERSION AS OF
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_table('$root')")
      .as[Long].head() === 40L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_table('$root', 1)")
      .as[Long].head() === 30L)
    // predicates compose — the TVF is a real relation, not a dump
    assert(spark.sql(
      s"SELECT SUM(id) FROM graft_table('$root') WHERE id > 35")
      .as[Long].head() === (36 to 40).sum.toLong)
    // history and files are queryable metadata
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_history('$root')")
      .as[Long].head() === 2L)
    assert(spark.sql(
      s"SELECT version FROM graft_history('$root') ORDER BY version DESC " +
        "LIMIT 1").as[Long].head() === 2L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_files('$root')")
      .as[Long].head() === 2L)
    // the append-only change feed window
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_changes('$root', 1)")
      .as[Long].head() === 10L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_changes('$root', 0, 1)")
      .as[Long].head() === 30L)
  }
}
