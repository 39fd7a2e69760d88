package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{DataQuality, Medallion}
import graft.plans.ModelGraph
import graft.plans.ModelGraph.Node

/** Medallion pipeline surface: the full Bronze→Silver→Gold flow as
  * verifiable queries (batch path; the streaming twin lives in
  * graft.streaming and is exercised by StreamingSpec).
  *
  * Bronze's ingestion_ts is pinned to a literal inside these queries so
  * the dedup tie-break — and therefore the oracle — is deterministic;
  * the production path passes current_timestamp().
  */
object PipelineQueries {

  private val FIXED_INGEST = "2024-02-01 00:00:00"

  /** Shared DuckDB CTE reproducing Medallion.silver (fixed ingest ts ⇒
    * dedup order reduces to event_id DESC). */
  private val SILVER_CTE =
    """f AS (
      |  SELECT * FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value >= 0
      |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      |    AND ts <  TIMESTAMP '2024-02-01 00:00:00'),
      |d AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type, ts
      |                               ORDER BY event_id DESC) AS rn
      |  FROM f),
      |silver AS (
      |  SELECT
      |    md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type,
      |        strftime(ts, '%Y-%m-%d %H:%M:%S'), CAST(event_id AS VARCHAR))) AS event_sk,
      |    event_id, user_id, event_type, ts AS event_ts,
      |    CAST(ts AS DATE) AS event_date, hour(ts) AS event_hour,
      |    dayofweek(ts) AS event_dow, dayofweek(ts) IN (0, 6) AS is_weekend,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value, props
      |  FROM d WHERE rn = 1)""".stripMargin

  private def silverDf(s: org.apache.spark.sql.SparkSession, d: String) =
    Medallion.silver(Medallion.bronze(
      t(s, d, "events"), lit(FIXED_INGEST).cast("timestamp")))

  // ---------------------------------------------------------------- p01
  // Full Silver transform (P1+P2+P3+W1+F1 composed end-to-end).
  val p01Silver: Q = Q(
    "p01_silver",
    s"""WITH $SILVER_CTE
       |SELECT * FROM silver ORDER BY event_id""".stripMargin) { (s, d) =>
    silverDf(s, d).orderBy("event_id")
  }

  // ---------------------------------------------------------------- p02
  // Gold daily summary built THROUGH the model graph (bronze → silver →
  // mart as DAG nodes, all view-materialized ⇒ Catalyst fuses the whole
  // lineage into one optimized plan).
  val p02GoldDaily: Q = Q(
    "p02_gold_daily",
    s"""WITH $SILVER_CTE
       |SELECT event_date, event_dow, is_weekend,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_value,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
       |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
       |FROM silver GROUP BY 1, 2, 3 ORDER BY event_date""".stripMargin) { (s, d) =>
    val nodes = Seq(
      Node("bronze", Seq("events"),
        f => Medallion.bronze(f("events"), lit(FIXED_INGEST).cast("timestamp"))),
      Node("silver", Seq("bronze"), f => Medallion.silver(f("bronze"))),
      Node("mart_daily", Seq("silver"), f => Medallion.goldDailySummary(f("silver"))))
    ModelGraph.run(s, nodes, Map("events" -> t(s, d, "events")))("mart_daily")
      .orderBy("event_date")
  }

  // ---------------------------------------------------------------- p03
  // Gold user rollup with exact percent-of-total window.
  val p03UserStats: Q = Q(
    "p03_user_stats",
    s"""WITH $SILVER_CTE
       |SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  MIN(event_ts) AS first_seen, MAX(event_ts) AS last_seen,
       |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100.0 /
       |    CAST(SUM(SUM(CAST(value AS DECIMAL(18,2)))) OVER () AS DOUBLE), 2) AS value_share_pct
       |FROM silver GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    Medallion.goldUserStats(silverDf(s, d)).orderBy("user_id")
  }

  // ---------------------------------------------------------------- dq01
  // Data-quality suite summary (reference §5's 91-test shape): every
  // check returns violating rows; the summary counts them per check.
  val dq01Summary: Q = Q(
    "dq01_quality_summary",
    """SELECT 'events_type_accepted' AS check_name, CAST(COUNT(*) AS BIGINT) AS violations
      |FROM events WHERE event_type NOT IN ('click','view','purchase','signup','error')
      |   OR event_type IS NULL
      |UNION ALL
      |SELECT 'events_user_notnull', CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id IS NULL
      |UNION ALL
      |SELECT 'events_value_nonneg', CAST(COUNT(*) AS BIGINT) FROM events WHERE value < 0
      |UNION ALL
      |SELECT 'lineitem_pk_unique', CAST(COUNT(*) AS BIGINT) FROM (
      |  SELECT l_orderkey, l_linenumber FROM lineitem
      |  GROUP BY 1, 2 HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_qty_range', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |WHERE l_quantity < 1 OR l_quantity > 50
      |UNION ALL
      |SELECT 'orders_custkey_fk', CAST(COUNT(*) AS BIGINT) FROM orders
      |WHERE o_custkey IS NOT NULL
      |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    import DataQuality._
    val ev = t(s, d, "events"); val li = t(s, d, "lineitem")
    val eventTypes = Seq("click", "view", "purchase", "signup", "error")
    // fused (guide §6): the three events checks share ONE scan via a
    // conditional aggregate (was 3 full passes), and the lineitem qty
    // check rides the PK-uniqueness groupBy as a partial aggregate
    // (was 2 passes) — per-check semantics unchanged, so the counts
    // are identical by construction.
    val evChecks = summarizeConditions(ev, Seq(
      "events_type_accepted" ->
        (!col("event_type").isin(eventTypes: _*) || col("event_type").isNull),
      "events_user_notnull" -> col("user_id").isNull,
      "events_value_nonneg" -> (col("value") < 0)))
    val liChecks = countsToSummary(
      li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("qv"))
        .agg(
          coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L)).as("pk"),
          coalesce(sum("qv"), lit(0L)).as("qty")),
      Seq("lineitem_pk_unique" -> "pk", "lineitem_qty_range" -> "qty"))
    val fkCheck = relationships(
        t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey")
      .agg(count(lit(1)).cast("bigint").as("violations"))
      .select(lit("orders_custkey_fk").as("check_name"), col("violations"))
    evChecks.unionAll(liChecks).unionAll(fkCheck).orderBy("check_name")
  }

  // ---------------------------------------------------------------- dq02
  // Audit suite over the corpus tables: accepted values, metadata-vs-
  // content reconciliation (n_chars must equal the text's real length —
  // the check that catches a decoupled metadata pipeline), embedding
  // dimensionality contract, and a deterministic freshness gate against
  // a fixed cutoff (a wall-clock `now()` would make the result
  // time-dependent; production wires the cutoff to the run date).
  val dq02Audit: Q = Q(
    "dq02_corpus_audit",
    """SELECT 'docs_lang_accepted' AS check_name, CAST(COUNT(*) AS BIGINT) AS violations
      |FROM documents WHERE lang NOT IN ('en','de','es','fr','zh') OR lang IS NULL
      |UNION ALL
      |SELECT 'docs_meta_reconciled', CAST(COUNT(*) AS BIGINT)
      |FROM documents WHERE n_chars <> length(text)
      |UNION ALL
      |SELECT 'docs_text_nonempty', CAST(COUNT(*) AS BIGINT)
      |FROM documents WHERE text IS NULL OR length(text) = 0
      |UNION ALL
      |SELECT 'emb_dim_contract', CAST(COUNT(*) AS BIGINT)
      |FROM embeddings WHERE len(embedding) <> 64
      |UNION ALL
      |SELECT 'events_fresh_by_cutoff', CAST(CASE WHEN MAX(ts) >= TIMESTAMP '2024-01-30 00:00:00'
      |  THEN 0 ELSE 1 END AS BIGINT)
      |FROM events
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    import DataQuality._
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
    val fresh = t(s, d, "events")
      .agg(max("ts").as("mx"))
      .select(when(col("mx") >=
        lit("2024-01-30 00:00:00").cast("timestamp"), 0L).otherwise(1L)
        .as("stale"))
      .filter(col("stale") === 1)
    val langs = Seq("en", "de", "es", "fr", "zh")
    // fused (guide §6): the three documents checks share ONE scan via
    // a conditional aggregate (was 3 full passes over the text column)
    val docChecks = summarizeConditions(docs, Seq(
      "docs_lang_accepted" ->
        (!col("lang").isin(langs: _*) || col("lang").isNull),
      "docs_meta_reconciled" -> (col("n_chars") =!= length(col("text"))),
      "docs_text_nonempty" ->
        (col("text").isNull || length(col("text")) === 0)))
    val embCheck = summarizeConditions(emb,
      Seq("emb_dim_contract" -> (size(col("embedding")) =!= 64)))
    val freshCheck = fresh
      .agg(count(lit(1)).cast("bigint").as("violations"))
      .select(lit("events_fresh_by_cutoff").as("check_name"),
        col("violations"))
    docChecks.unionAll(embCheck).unionAll(freshCheck).orderBy("check_name")
  }

  // ---------------------------------------------------------------- dq03
  // Cross-table coverage audit: every document should have an embedding
  // row (doc_id ↔ vec_id) and vice versa — per-source coverage plus the
  // orphan counts in both directions. Anti-joins keyed on the id; at
  // 100 TB both sides partial-aggregate before the join-back, so the
  // audit costs two keyed joins regardless of corpus size.
  val dq03EmbeddingCoverage: Q = Q(
    "dq03_embedding_coverage",
    """WITH cov AS (
      |  SELECT d.source, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_with_embedding
      |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      |  GROUP BY d.source),
      |orphans AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n
      |  FROM embeddings e
      |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
      |SELECT source, n_docs, n_with_embedding,
      |  ROUND(CAST(n_with_embedding AS DOUBLE) / n_docs, 4) AS coverage,
      |  (SELECT n FROM orphans) AS orphan_embeddings
      |FROM cov ORDER BY source""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
    val cov = docs.join(emb.select(col("vec_id")),
        col("doc_id") === col("vec_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vec_id").isNull, 0).otherwise(1)).cast("bigint")
          .as("n_with_embedding"))
    val orphans = emb.join(docs.select(col("doc_id")),
        col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("orphan_embeddings"))
    cov.crossJoin(broadcast(orphans))
      .select(col("source"), col("n_docs"), col("n_with_embedding"),
        round(col("n_with_embedding").cast("double") / col("n_docs"), 4)
          .as("coverage"),
        col("orphan_embeddings"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(p01Silver, p02GoldDaily, p03UserStats, dq01Summary,
    dq02Audit, dq03EmbeddingCoverage)
}
