package graft

import org.apache.spark.sql.functions._

import graft.queries._

/** Independent recomputation checks. The DuckDB oracle proves
  * Spark ≡ DuckDB, but when both sides share a formula it cannot prove
  * the formula means what it claims (the inverted punct-ratio bug
  * survived the parity gate exactly this way). Each test here recomputes
  * a query's value through a DIFFERENT path — plain Scala arithmetic on
  * raw rows — so a shared misconception trips an assertion.
  */
class SemanticSanitySpec extends SparkSpec {

  test("t01: avg_token_len for one doc matches hand computation on the raw text") {
    val raw = Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).head().getAs[String]("text")
    val toks = raw.split(" ")
    val expected = BigDecimal(raw.replace(" ", "").length.toDouble / toks.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextQueries.t01TokenStats.fn(spark, sfDir)
      .filter(col("doc_id") === 0).head().getAs[Double]("avg_token_len")
    assert(got === expected)
  }

  test("t02: punct ratio of pure-alnum text is ~0, not ~1") {
    val ratios = TextQueries.t02QualityScore.fn(spark, sfDir)
      .agg(max("punct_ratio")).head().getDouble(0)
    // the corpus is lowercase words + spaces only
    assert(ratios <= 0.05, s"punct_ratio inverted again? max=$ratios")
  }

  test("q10: percentages sum to 100 (±rounding)") {
    val total = CoreQueries.q10PctOfTotal.fn(spark, sfDir)
      .agg(sum("pct")).head().getDouble(0)
    assert(math.abs(total - 100.0) < 0.1)
  }

  test("q10: an exact half-cent share rounds half-up (20.275 % -> 20.28)") {
    // 4,055 of 20,000 events is exactly 20.275 %, 15,945 is 79.725 %;
    // exact half-up gives 20.28 and 79.73 (a rounded DOUBLE quotient
    // gives 20.27 and 79.72, since 20.275 is 20.27499… as a double)
    val dir = java.nio.file.Files.createTempDirectory("graft-q10-tie").toString
    spark.range(20000)
      .select(when(col("id") < 4055, "click").otherwise("view").as("event_type"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val got = CoreQueries.q10PctOfTotal.fn(spark, dir)
      .select("event_type", "n", "pct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("click", 4055L, 20.28), ("view", 15945L, 79.73)))
  }

  test("p03: value shares sum to 100 (±rounding)") {
    val total = PipelineQueries.p03UserStats.fn(spark, sfDir)
      .agg(sum("value_share_pct")).head().getDouble(0)
    assert(math.abs(total - 100.0) < 0.5)
  }

  test("q19: days_observed × avg_events ≈ total_events per hour") {
    val bad = CoreQueries.q19TwoLevelAgg.fn(spark, sfDir)
      .filter(abs(col("days_observed") * col("avg_events") - col("total_events"))
        > col("days_observed") * 0.051) // 0.1-rounding slack per day
      .count()
    assert(bad === 0)
  }

  test("q23: rollup grand-total row equals the table row count") {
    val rows = AnalyticsQueries.q23Rollup.fn(spark, sfDir)
      .filter(col("gid") === 3).collect()
    assert(rows.length === 1)
    val total = Tables.t(spark, sfDir, "lineitem").count()
    assert(rows.head.getAs[Long]("n") === total)
  }

  test("q24: pivot cells sum to the day's total revenue") {
    val cells = AnalyticsQueries.q24Pivot.fn(spark, sfDir)
      .withColumn("cell_sum",
        Seq("click", "error", "purchase", "signup", "view")
          .map(c => coalesce(col(c), lit(0.0))).reduce(_ + _))
      .select("day", "cell_sum")
    val daily = Tables.t(spark, sfDir, "events")
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(graft.functions.ColFns.moneySum(col("value")).as("rev"))
    val bad = cells.join(daily, "day")
      .filter(abs(col("cell_sum") - col("rev")) > 0.01).count()
    assert(bad === 0)
  }

  test("q25: p50 ≤ p90 ≤ p99 and p50 within the value range") {
    AnalyticsQueries.q25Quantiles.fn(spark, sfDir).collect().foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("q26: one mid-series day's window total matches a hand fold") {
    val daily = Tables.t(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(graft.functions.ColFns.moneySum(col("value")).as("rev"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getDouble(1)).toMap
    val probe = daily.keys.toSeq.sorted.apply(daily.size / 2)
    val hand = (0 until 7).flatMap(i => daily.get(probe.minusDays(i)))
      .map(BigDecimal(_)).sum.toDouble
    val got = AnalyticsQueries.q26Rolling7d.fn(spark, sfDir)
      .filter(col("day") === java.sql.Date.valueOf(probe))
      .head().getAs[Double]("win_total")
    assert(math.abs(got - hand) < 0.01)
  }

  test("s01: kept rows satisfy the plain-Java md5 bucket predicate; en downsampled") {
    val kept = MixQueries.s01StratifiedSample.fn(spark, sfDir).collect()
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    kept.foreach { r =>
      val (id, lang) = (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))
      val cap = lang match { case "en" => 40; case "zh" => 80; case _ => 100 }
      assert(bucket(id) < cap, s"doc $id ($lang) bucket=${bucket(id)}")
    }
    val langs = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    val all = Tables.t(spark, sfDir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = langs("en").toDouble / all("en")
    assert(enRate > 0.2 && enRate < 0.6, s"en keep-rate $enRate not ≈ 0.4")
  }

  test("s02: sampled_tokens never exceeds total and rates cap at 1") {
    MixQueries.s02MixPlan.fn(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("sampled_tokens") <= r.getAs[Long]("total_tokens"))
      assert(r.getAs[Double]("sampling_rate") <= 1.0)
      assert(r.getAs[Double]("sampling_rate") > 0.0)
    }
  }

  test("c01: a contaminated pair genuinely shares ≥3 distinct 5-grams (hand check)") {
    val pairs = MixQueries.c01Contamination.fn(spark, sfDir).collect()
    if (pairs.nonEmpty) {
      val p = pairs.head
      val texts = Tables.t(spark, sfDir, "documents")
        .filter(col("doc_id").isin(p.getAs[Long]("train_doc"),
          p.getAs[Long]("bench_doc")))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      def grams5(s: String) =
        s.split(" ").sliding(5).map(_.mkString(" ")).toSet
      val shared = grams5(texts(p.getAs[Long]("train_doc")))
        .intersect(grams5(texts(p.getAs[Long]("bench_doc"))))
      assert(shared.size === p.getAs[Long]("n_shared"))
    }
  }

  test("d05: one doc's md5-simhash matches a plain-Scala recomputation") {
    val row = Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).head()
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = row.getAs[String]("text").split(" ").distinct
      .map(t => java.lang.Long.parseLong(md5hex(t).substring(0, 15), 16))
    val counts = new Array[Int](60)
    hashes.foreach { h =>
      (0 until 60).foreach { b =>
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      }
    }
    val hand = (0 until 60).foldLeft(0L) { (acc, b) =>
      if (counts(b) > 0) acc | (1L << b) else acc
    }
    val got = graft.operators.Dedup.simhashMd5(
        Tables.t(spark, sfDir, "documents").filter(col("doc_id") === 0),
        "doc_id", "text")
      .head().getAs[Long]("simhash")
    assert(got === hand)
  }

  test("g01: no two surviving docs share a text; every survivor passes the gates") {
    val out = MixQueries.g01CorpusGold.fn(spark, sfDir)
    val withText = out.join(Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text"), "doc_id")
    assert(withText.count() ===
      withText.select("text").distinct().count(), "dup texts survived")
    val badTok = out.filter(col("n_tokens") < 30 || col("n_tokens") > 1000).count()
    assert(badTok === 0)
  }

  test("x03: one order's ship delay matches hand computation") {
    val row = Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_orderdate", "l_shipdate").head()
    // ms-precision parquet timestamps surface as TIMESTAMP_NTZ → LocalDateTime.
    val a = row.getAs[java.time.LocalDateTime](0).toEpochSecond(java.time.ZoneOffset.UTC)
    val b = row.getAs[java.time.LocalDateTime](1).toEpochSecond(java.time.ZoneOffset.UTC)
    val handMinutes = (b - a) / 60 // floor for positive deltas
    val viaEngine = Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(graft.functions.ColFns.durationMinutes(
        col("o_orderdate"), col("l_shipdate")).as("m"))
      .head().getAs[Long]("m")
    assert(viaEngine === handMinutes)
  }
}
