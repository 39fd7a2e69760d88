package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.t
import graft.functions.ColFns._

/** Core relational surface — SURVEY §2.2–§2.8 re-expressed over the
  * driver's TPC-H-ish tables + the `events` stream table.
  *
  * Every query is declarative DataFrame code (Catalyst handles pushdown,
  * pruning, partial aggregation, broadcast selection); explicit
  * `broadcast()` hints are added on genuinely small dimension sides for
  * plan determinism at scale (SURVEY §4 "Join strategy").
  *
  * Scale posture (100 TB): aggregations are hash partial+final on
  * high-cardinality keys, dimension joins broadcast, and EVERY window
  * carries partition keys — global shares and running totals go through
  * graft.operators.ScalableWindow (broadcast one-row totals, bucketed
  * prefix offsets) instead of unpartitioned frames (plan-asserted in
  * ScalableWindowSpec).
  */
object CoreQueries {

  private def li(s: SparkSession, d: String) = t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = t(s, d, "customer")
  private def ev(s: SparkSession, d: String) = t(s, d, "events")

  /** Exact sum of DECIMAL(18,2)-cast values surfaced as DOUBLE — the SQL
    * rendering the oracles use for the same expression. */
  private val SUMD = "CAST(SUM(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"
  private def sumd(c: String) = SUMD.format(c)

  // ---------------------------------------------------------------- q01
  // A1/A5-class pricing summary: scan → filter → hash agg (partial+final)
  // → sort. Reference: int_daily_summary.sql:10-34, q1_daily_revenue.sql.
  val q01PricingSummary: Q = Q(
    "q01_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sumd("l_quantity")} AS sum_qty,
       |  ${sumd("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       |  ROUND(${sumd("l_quantity")} / COUNT(*), 2) AS avg_qty,
       |  ROUND(${sumd("l_extendedprice")} / COUNT(*), 2) AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate < TIMESTAMP '2000-01-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    li(s, d)
      .filter(col("l_shipdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4)))
          .cast("double").as("sum_disc_price"),
        round(moneySum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
        round(moneySum(col("l_extendedprice")) / count(lit(1)), 2).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- q02
  // P1–P3 projection + selective filter; predicate and column pruning must
  // reach the parquet scan. Reference: stg_yellow_trips.sql:12-59.
  val q02FilterProject: Q = Q(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01'
      |  AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    li(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp")
        && col("l_quantity") > 45)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("bigint").as("qty"),
        col("l_extendedprice").cast(DecimalType(12, 2)).cast("double").as("price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q03
  // J2-class fact ⋈ dims with broadcast on both dims (customer and nation
  // are orders-of-magnitude smaller than the fact side at any SF).
  val q03JoinAgg: Q = Q(
    "q03_join_agg",
    s"""SELECT n_name, COUNT(*) AS n_orders, ${sumd("o_totalprice")} AS revenue
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin) { (s, d) =>
    ord(s, d)
      .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q04
  // J1-class LEFT join where unmatched keys must yield NULL (reference
  // unit-tests this: nyc_taxi_dbt/models/marts/core/_unit_tests.yml:2-32).
  val q04LeftJoinNull: Q = Q(
    "q04_left_join_null",
    s"""SELECT COALESCE(p_brand, 'UNKNOWN') AS brand,
       |  COUNT(*) AS n_lines, ${sumd("l_extendedprice")} AS revenue
       |FROM lineitem
       |LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 25) p
       |  ON l_partkey = p_partkey
       |GROUP BY 1
       |ORDER BY brand""".stripMargin) { (s, d) =>
    val dim = t(s, d, "part").filter(col("p_size") > 25)
      .select("p_partkey", "p_brand")
    li(s, d)
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"), "left")
      .groupBy(coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy("brand")
  }

  // ---------------------------------------------------------------- q05
  // Semi join (EXISTS). Reference J6 uses anti-joins for FK tests; the
  // semi form is the positive complement.
  val q05SemiJoin: Q = Q(
    "q05_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val big = ord(s, d).filter(col("o_totalprice") > 400000)
    cust(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q06
  // Anti join (NOT EXISTS) — the reference's `relationships` FK test shape
  // (staging.yml:33-48 → anti-join must be empty; here it returns rows).
  val q06AntiJoin: Q = Q(
    "q06_anti_join",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    cust(s, d)
      .join(ord(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q07
  // O1 top-k: Catalyst plans TakeOrderedAndProject — no full global sort.
  val q07TopK: Q = Q(
    "q07_topk",
    s"""SELECT o_custkey, COUNT(*) AS n_orders, ${sumd("o_totalprice")} AS spend
       |FROM orders GROUP BY o_custkey
       |ORDER BY spend DESC, o_custkey LIMIT 10""".stripMargin) { (s, d) =>
    ord(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("spend"))
      .orderBy(col("spend").desc, col("o_custkey"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q08
  // W1 dedup-by-natural-key: row_number over (key ORDER BY recency) keep
  // rn=1. Partition key is high-cardinality → scales (SURVEY §7.5).
  // Tie-break on event_id so the survivor is deterministic cross-engine.
  val q08DedupRownum: Q = Q(
    "q08_dedup_rownum",
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    ev(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")
  }

  // ---------------------------------------------------------------- q09
  // W2 running total + W3 lag delta over a daily aggregate. The window is
  // partitioned by month with broadcast prefix offsets (ScalableWindow) —
  // an unpartitioned window would funnel the whole frame through one task.
  // Decimal-exact cumulation on both sides keeps cross-engine parity
  // independent of float association order.
  val q09RunningTotal: Q = Q(
    "q09_running_total",
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |         ${sumd("value")} AS revenue
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
       |SELECT day, revenue,
       |  ROUND(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
       |    AS cumulative_revenue,
       |  ROUND(revenue - LAG(revenue) OVER (ORDER BY day), 2) AS revenue_delta
       |FROM daily ORDER BY day""".stripMargin) { (s, d) =>
    val daily = ev(s, d).filter(col("event_type") === "purchase")
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(moneySum(col("value")).as("revenue"))
    graft.operators.ScalableWindow.runningTotal(
        daily, "day", "revenue",
        date_trunc("MONTH", col("day")).cast("date"),
        cumCol = "cumulative_revenue", lagCol = "__prev")
      .withColumn("revenue_delta", round(col("revenue") - col("__prev"), 2))
      .select("day", "revenue", "cumulative_revenue", "revenue_delta")
      .orderBy("day")
  }

  // ---------------------------------------------------------------- q10
  // W4 percent-of-total: window over an already-aggregated 5-row frame.
  // The percentage rounds half-up to 2 dp in INTEGER arithmetic on both
  // engines: ⌊(n·20000 + total) / (2·total)⌋ / 100. Rounding a DOUBLE
  // quotient instead splits on exact ties — a 20.275 % share is
  // 20.274999… as a double, which DuckDB rounds to 20.27 and Spark (via
  // the shortest round-tripping decimal) to 20.28.
  val q10PctOfTotal: Q = Q(
    "q10_pct_of_total",
    """SELECT event_type, COUNT(*) AS n,
      |  (COUNT(*) * 20000 + SUM(COUNT(*)) OVER ())
      |    // (2 * SUM(COUNT(*)) OVER ()) / 100.0 AS pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val counts = ev(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
    graft.operators.ScalableWindow.withGlobalShare(
        counts, sum(col("n")), "pct",
        (_, total) => call_function("div",
          col("n") * lit(20000L) + total, total * lit(2L)) / lit(100.0))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q11
  // A4 mode() with the deterministic tie-break SURVEY §7.4(5) prescribes
  // (max count, then min value) — encoded identically in the oracle, since
  // native mode() tie-breaking is engine-defined.
  val q11Mode: Q = Q(
    "q11_mode",
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
      |  FROM customer GROUP BY 1, 2),
      |r AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |                       ORDER BY cnt DESC, c_mktsegment) AS rn
      |  FROM c)
      |SELECT c_nationkey AS nationkey, c_mktsegment AS mode_segment
      |FROM r WHERE rn = 1 ORDER BY nationkey""".stripMargin) { (s, d) =>
    val counts = cust(s, d).groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("cnt").desc, col("c_mktsegment"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey").as("nationkey"),
        col("c_mktsegment").as("mode_segment"))
      .orderBy("nationkey")
  }

  // ---------------------------------------------------------------- q12
  // F13/F14 date spine + calendar attributes (dim_dates): the only
  // Generator-class op — explode(sequence(...)).
  val q12DateSpine: Q = Q(
    "q12_date_spine",
    """SELECT CAST(gs AS DATE) AS date_day,
      |  dayofweek(gs) AS dow, dayname(gs) AS day_name,
      |  weekofyear(gs) AS week_of_year,
      |  dayofweek(gs) IN (0, 6) AS is_weekend,
      |  CAST(gs AS DATE) IN (DATE '2024-01-01', DATE '2024-01-15') AS is_holiday
      |FROM generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY) t(gs)
      |ORDER BY date_day""".stripMargin) { (s, _) =>
    s.range(1)
      .select(explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-01-31").cast("date"),
        expr("interval 1 day"))).as("date_day"))
      .select(
        col("date_day"),
        dow(col("date_day")).as("dow"),
        dayName(col("date_day")).as("day_name"),
        weekofyear(col("date_day")).as("week_of_year"),
        isWeekend(col("date_day")).as("is_weekend"),
        col("date_day").isin("2024-01-01", "2024-01-15").as("is_holiday"))
      .orderBy("date_day")
  }

  // ---------------------------------------------------------------- q13
  // F3–F6 datetime extraction + A2 hourly patterns (0=Sun dow convention).
  val q13DatetimeAgg: Q = Q(
    "q13_datetime_agg",
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |  hour(ts) AS hr, dayofweek(ts) AS dow, dayname(ts) AS day_name,
       |  COUNT(*) AS n, ${sumd("value")} AS total_value
       |FROM events GROUP BY 1, 2, 3, 4
       |ORDER BY day, hr""".stripMargin) { (s, d) =>
    ev(s, d)
      .groupBy(
        date_trunc("DAY", col("ts")).cast("date").as("day"),
        hour(col("ts")).as("hr"),
        dow(col("ts")).as("dow"),
        dayName(col("ts")).as("day_name"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .orderBy("day", "hr")
  }

  // ---------------------------------------------------------------- q14
  // F1 md5 surrogate key over a canonical '|'-joined natural key; string
  // renderings are ints so the hash is engine-stable (SURVEY §7.4(4)).
  val q14SurrogateKey: Q = Q(
    "q14_surrogate_key",
    """SELECT md5(concat_ws('|',
      |    CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      |    CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR))) AS line_sk,
      |  l_orderkey, l_linenumber
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    // Sort on the narrow natural key FIRST, hash after: the range
    // partitioner samples its child plan, so an md5 below the sort is
    // computed twice (sampling pass + real pass) and widens sort rows.
    li(s, d)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .orderBy("l_orderkey", "l_linenumber")
      .select(
        surrogateKey(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")).as("line_sk"),
        col("l_orderkey"), col("l_linenumber"))
  }

  // ---------------------------------------------------------------- q15
  // S4 JSON decode: wire-format JSON → typed column (from_json/`->>`).
  val q15JsonExtract: Q = Q(
    "q15_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
    ev(s, d)
      .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- q16
  // §2.8 UNION ALL of two branches then re-aggregate.
  val q16UnionAgg: Q = Q(
    "q16_union_agg",
    s"""WITH u AS (
       |  SELECT user_id, value FROM events WHERE event_type = 'click'
       |  UNION ALL
       |  SELECT user_id, value FROM events WHERE event_type = 'view')
       |SELECT user_id, COUNT(*) AS n, ${sumd("value")} AS total
       |FROM u GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val clicks = e.filter(col("event_type") === "click").select("user_id", "value")
    val views = e.filter(col("event_type") === "view").select("user_id", "value")
    clicks.unionAll(views)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q17
  // P5/F10/F11 null-guarded division + CASE bucketing.
  val q17NullGuardCase: Q = Q(
    "q17_null_guard_case",
    s"""SELECT l_returnflag,
       |  CASE WHEN l_quantity < 10 THEN 'small'
       |       WHEN l_quantity < 30 THEN 'mid' ELSE 'big' END AS bucket,
       |  COUNT(*) AS n,
       |  ROUND(${sumd("l_extendedprice")} /
       |        NULLIF(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0),
       |        2) AS price_per_unit
       |FROM lineitem GROUP BY 1, 2
       |ORDER BY l_returnflag, bucket""".stripMargin) { (s, d) =>
    li(s, d)
      .groupBy(
        col("l_returnflag"),
        when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("big").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(safeDiv(moneySum(col("l_extendedprice")),
          moneySum(col("l_quantity"))), 2).as("price_per_unit"))
      .orderBy("l_returnflag", "bucket")
  }

  // ---------------------------------------------------------------- q18
  // P1 rename/cast money projection (DECIMAL(12,2) canonical money form).
  val q18MoneyCast: Q = Q(
    "q18_money_cast",
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_amount,
      |  upper(o_orderstatus) AS status,
      |  CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    ord(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01 00:00:00").cast("timestamp"))
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(12, 2)).cast("double").as("total_amount"),
        upper(col("o_orderstatus")).as("status"),
        col("o_orderdate").cast("date").as("order_date"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q19
  // A3 two-level re-aggregation (hourly patterns → hour-of-day profile).
  val q19TwoLevelAgg: Q = Q(
    "q19_two_level_agg",
    """WITH hourly AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, hour(ts) AS hr,
      |         COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT hr, COUNT(*) AS days_observed,
      |  ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 1) AS avg_events,
      |  CAST(SUM(n) AS BIGINT) AS total_events
      |FROM hourly GROUP BY hr ORDER BY hr""".stripMargin) { (s, d) =>
    val hourly = ev(s, d)
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    hourly.groupBy("hr")
      .agg(
        count(lit(1)).as("days_observed"),
        round(sum("n").cast("double") / count(lit(1)), 1).as("avg_events"),
        sum("n").as("total_events"))
      .orderBy("hr")
  }

  // ---------------------------------------------------------------- q20
  // A7 anomaly detection: global stats (exact percentile, not approx — the
  // reference's Python model uses pandas quantile) cross-joined back, then
  // z-score > 2 OR 1.5·IQR flags (anomaly_daily_trips.py:18-40).
  val q20Anomaly: Q = Q(
    "q20_anomaly",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT AVG(n) AS mean_n, STDDEV_SAMP(n) AS sd_n,
      |         quantile_cont(n, 0.25) AS q1, quantile_cont(n, 0.75) AS q3
      |  FROM daily)
      |SELECT day, n,
      |  ROUND((n - mean_n) / NULLIF(sd_n, 0), 4) AS zscore,
      |  (n < q1 - 1.5 * (q3 - q1) OR n > q3 + 1.5 * (q3 - q1)) AS iqr_outlier,
      |  (abs((n - mean_n) / NULLIF(sd_n, 0)) > 2
      |    OR n < q1 - 1.5 * (q3 - q1) OR n > q3 + 1.5 * (q3 - q1)) AS is_anomaly
      |FROM daily, stats ORDER BY day""".stripMargin) { (s, d) =>
    val daily = ev(s, d)
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.agg(
      avg("n").as("mean_n"), stddev_samp(col("n")).as("sd_n"),
      expr("percentile(n, 0.25)").as("q1"),
      expr("percentile(n, 0.75)").as("q3"))
    val z = (col("n") - col("mean_n")) / nullif(col("sd_n"), lit(0))
    val iqr = col("q3") - col("q1")
    val iqrOut = col("n") < col("q1") - lit(1.5) * iqr ||
      col("n") > col("q3") + lit(1.5) * iqr
    daily.crossJoin(broadcast(stats))
      .select(
        col("day"), col("n"),
        round(z, 4).as("zscore"),
        iqrOut.as("iqr_outlier"),
        (abs(z) > 2 || iqrOut).as("is_anomaly"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------- q21
  // ST7/A10 tumbling-window rollup, batch-equivalent form: the streaming
  // variant (graft.streaming) uses the identical groupBy(window(...)).
  val q21HourRollup: Q = Q(
    "q21_hour_rollup",
    s"""SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       |  COUNT(*) AS n, ${sumd("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin) { (s, d) =>
    ev(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("hour_ts", "event_type")
  }

  // ---------------------------------------------------------------- q22
  // A9/M1 incremental high-watermark: scalar subquery supplies the
  // watermark; only rows past it are processed (fct_trips.sql:69-71).
  val q22IncrementalWatermark: Q = Q(
    "q22_incremental_watermark",
    s"""SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS new_rows,
       |  ${sumd("o_totalprice")} AS new_revenue
       |FROM orders
       |WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)
       |GROUP BY 1 ORDER BY order_date""".stripMargin) { (s, d) =>
    val o = ord(s, d)
    val hiWm = o.agg(max(col("o_orderdate")).as("m"))
      .select((col("m") - expr("interval 90 day")).as("wm"))
    o.join(broadcast(hiWm))
      .filter(col("o_orderdate") > col("wm"))
      .groupBy(col("o_orderdate").cast("date").as("order_date"))
      .agg(count(lit(1)).as("new_rows"),
        moneySum(col("o_totalprice")).as("new_revenue"))
      .orderBy("order_date")
  }

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinAgg, q04LeftJoinNull,
    q05SemiJoin, q06AntiJoin, q07TopK, q08DedupRownum, q09RunningTotal,
    q10PctOfTotal, q11Mode, q12DateSpine, q13DatetimeAgg, q14SurrogateKey,
    q15JsonExtract, q16UnionAgg, q17NullGuardCase, q18MoneyCast,
    q19TwoLevelAgg, q20Anomaly, q21HourRollup, q22IncrementalWatermark)
}
