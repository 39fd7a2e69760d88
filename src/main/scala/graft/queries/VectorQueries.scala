package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Similarity

/** Similarity-search surface over `embeddings` (array<float>, 64 dims).
  *
  * Oracle parity for float math: both engines cast to double first, fold
  * the list sequentially left-to-right (Spark `aggregate`, DuckDB
  * `list_sum`), apply the identical cosine formula, and round to 6 dp.
  */
object VectorQueries {

  /** DuckDB CTE: vectors as double lists + precomputed squared norm. */
  private val VEC_CTE =
    """v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, e,
      |    list_sum(list_transform(e, x -> x * x)) AS nn
      |  FROM v)""".stripMargin

  private val COS =
    "list_sum(list_transform(range(1, 65), k -> a.e[k] * b.e[k])) / (sqrt(a.nn) * sqrt(b.nn))"

  /** CTE chain ending in `exact10(query_id, neighbor_id, cos_sim, rank)`
    * — the brute-force ground-truth top-10 (v01's body; v06 reuses it as
    * the recall denominator). */
  private val EXACT10_CTES =
    s"""exact_scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROUND($COS, 6) AS cos_sim
       |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10),
       |exact10 AS (
       |  SELECT * FROM (
       |    SELECT query_id, neighbor_id, cos_sim,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM exact_scored) WHERE rank <= 10)""".stripMargin

  // ---------------------------------------------------------------- v01
  // Brute-force cosine top-k: 10 query vectors (vec_id < 10) against the
  // full corpus; the correctness baseline every ANN variant is judged by.
  val v01BruteForceTopK: Q = Q(
    "v01_ann_bruteforce_topk",
    s"""WITH $VEC_CTE,
       |$EXACT10_CTES
       |SELECT query_id, neighbor_id, cos_sim, rank
       |FROM exact10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** Plane literals for the STRIDE-decoupled family (plane index
    * `tbl * stride + bit`, stride = [[Similarity.AdaptiveMaxBits]]):
    * the deterministic trig-hash weights as correctly-rounded double
    * literals (Double.toString round-trips exactly through a string
    * cast), so DuckDB reproduces bucket assignment bit-for-bit, and
    * the corpus-size-adaptive bit count filters `bit < chosen` over
    * this ONE literal set (see [[Similarity.adaptiveLshBits]]). */
  private def planesSqlStride(nTables: Int): String = {
    val stride = Similarity.AdaptiveMaxBits
    (0 until nTables).flatMap { tbl =>
      (0 until stride).map { bit =>
        val ws = Similarity
          .planeWeightValues(tbl * stride + bit, dims = 64)
          .map(w => s"'$w'::DOUBLE").mkString(", ")
        s"($tbl, $bit, [$ws])"
      }
    }.mkString(",\n    ")
  }

  /** CTE `<name>(bits)`: DuckDB replay of
    * [[Similarity.adaptiveLshBits]] — the same integer thresholds
    * (targetOcc · 2^b), generated from the same constants, as a CASE
    * ladder over COUNT(*) of the corpus CTE `n`. Engine and oracle
    * therefore pick the IDENTICAL geometry at every corpus size. */
  private def bitsCaseSql(name: String): String = {
    val cases = (Similarity.AdaptiveMinBits until Similarity.AdaptiveMaxBits)
      .map(b => s"WHEN cnt <= ${Similarity.AdaptiveTargetOcc.toLong << b} " +
        s"THEN $b")
      .mkString("\n      ")
    s"""$name AS (
       |  SELECT CASE
       |      $cases
       |      ELSE ${Similarity.AdaptiveMaxBits} END AS bits
       |  FROM (SELECT COUNT(*) AS cnt FROM n))""".stripMargin
  }

  /** CTEs `<p>(tbl, bit, w)` (the stride-family plane literals),
    * `<p>_bits(bits)` (the corpus-sized bit count), `<s>_raw(vec_id,
    * tbl, bkt)` (uncapped bit-masked per-table signatures over CTE
    * `n`) and `<s>(…)` (occupancy-capped: lowest `maxBucket` vec_ids
    * per bucket) — the shared ADAPTIVE sign-LSH construction the ANN
    * (v03/v06) and near-dup (v02) oracles replay. The cap replays
    * `Similarity.capBuckets` EXACTLY, so engine and oracle agree even
    * at a scale where a degenerate bucket makes the cap bind. */
  private def sigCtesAdaptive(p: String, s: String, nTables: Int,
      maxBucket: Int): String =
    s"""$p(tbl, bit, w) AS (VALUES
       |    ${planesSqlStride(nTables)}),
       |${bitsCaseSql(s"${p}_bits")},
       |${s}_raw AS (
       |  SELECT n.vec_id, p.tbl,
       |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
       |            k -> n.e[k] * p.w[k])) > 0
       |        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bkt
       |  FROM n
       |  CROSS JOIN $p p
       |  JOIN ${p}_bits nb ON p.bit < nb.bits
       |  GROUP BY 1, 2),
       |$s AS (
       |  SELECT vec_id, tbl, bkt FROM (
       |    SELECT vec_id, tbl, bkt,
       |      ROW_NUMBER() OVER (PARTITION BY tbl, bkt ORDER BY vec_id) AS rn
       |    FROM ${s}_raw)
       |  WHERE rn <= $maxBucket)""".stripMargin

  // ---------------------------------------------------------------- v02
  // Embedding-cosine near-dup pairs above 0.4 (the corpus has no planted
  // ≥0.95 dups; 0.4 exercises the operator with real output), via the
  // CORPUS-SCALE plan: sign-LSH bucket candidates verified with the
  // exact cosine, with the bit count SIZED FROM THE CORPUS
  // (Similarity.adaptiveLshBits: smallest b with n ≤ 32·2^b, clamped to
  // [4, 20]) so expected bucket occupancy — and with it the candidate
  // volume per vector — stays constant at any scale. A pinned 8-bit
  // geometry DNF'd the sf10 gate (200k vectors → ~780/bucket →
  // quadratic per-bucket pair space past this box's spill disk) while
  // the 13 bits this rule picks verified 471,898 pairs in 136 s
  // (round-13 scale proof). The oracle replays the identical rule: one
  // inlined 20-bit-stride plane family, a CASE ladder over COUNT(*)
  // picking the same integer thresholds, and `bit < bits` masking —
  // both engines agree on exactly which pairs the bucketing surfaces at
  // EVERY corpus size. The brute-force theta-join
  // (Similarity.nearDupPairs) stays as the spec-side ground truth.
  private val ND_TABLES = 16

  val v02NearDupPairs: Q = Q(
    "v02_embedding_neardup",
    s"""WITH $VEC_CTE,
       |${sigCtesAdaptive("nd_planes", "nd_sig", ND_TABLES,
          graft.operators.Similarity.DefaultMaxBucket)},
       |nd_cand AS (
       |  SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
       |  FROM nd_sig x JOIN nd_sig y
       |    ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
       |SELECT c.i, c.j, ROUND($COS, 6) AS cos_sim
       |FROM nd_cand c
       |JOIN n a ON a.vec_id = c.i
       |JOIN n b ON b.vec_id = c.j
       |WHERE $COS >= 0.4 ORDER BY i, j""".stripMargin) { (s, d) =>
    Similarity.nearDupPairsLshAdaptive(t(s, d, "embeddings"), 0.4,
        nTables = ND_TABLES)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- v03
  // Sign-LSH-bucketed ANN, oracle-verified end to end: DuckDB reproduces
  // bucket assignment, candidate generation, scoring, and ranking
  // bit-for-bit from the inlined plane literals — INCLUDING the
  // corpus-sized bit count (the same adaptive rule as v02: a pinned
  // geometry saturates the occupancy cap at large n, collapsing
  // candidate recall to the cap's deterministic id-ordered subset;
  // holding expected occupancy at ~32 keeps cost-per-query flat at any
  // scale, and v06 is the mart that watches what recall that buys).
  private val LSH_TABLES = 4

  /** CTE chain ending in `lsh10(query_id, neighbor_id, cos_sim, rank)` —
    * the multi-table sign-LSH top-10 (v03's body; v06 reuses it as the
    * recall numerator). */
  private def lsh10Ctes: String =
    s"""${sigCtesAdaptive("planes", "sig", LSH_TABLES,
        graft.operators.Similarity.DefaultMaxBucket)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sig_raw q JOIN sig c ON q.tbl = c.tbl AND q.bkt = c.bkt
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |lsh_scored AS (
       |  SELECT cand.query_id, cand.neighbor_id, ROUND($COS, 6) AS cos_sim
       |  FROM cand
       |  JOIN n a ON a.vec_id = cand.query_id
       |  JOIN n b ON b.vec_id = cand.neighbor_id),
       |lsh10 AS (
       |  SELECT * FROM (
       |    SELECT query_id, neighbor_id, cos_sim,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM lsh_scored) WHERE rank <= 10)""".stripMargin

  val v03LshTopK: Q = Q(
    "v03_ann_lsh_topk",
    s"""WITH $VEC_CTE,
       |$lsh10Ctes
       |SELECT query_id, neighbor_id, cos_sim, rank
       |FROM lsh10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.lshTopKAdaptive(emb, emb.filter(col("vec_id") < 10), 10,
        nTables = LSH_TABLES)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v04
  // IVF ANN, oracle-verified end to end: DuckDB replays seeding (lowest
  // 16 ids), Voronoi assignment, the Lloyd refinement (decimal-exact
  // component sums divided in DOUBLE — one deterministic IEEE op; a
  // decimal division would round at an engine-specific scale), probing,
  // and ranking. Every argmax is a ROW_NUMBER with the identical
  // (sim DESC, cid) tie-break, and every dot is the same left-to-right
  // fold, so cell boundaries land identically in both engines.
  private def assignSql(src: String, filter: String, keep: String,
      idAlias: String): String =
    s"""SELECT vec_id AS $idAlias, cid FROM (
       |    SELECT n.vec_id, r.cid,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, 65), k -> n.e[k] * r.cv[k]))
       |          / (n.nrm * r.cn) DESC,
       |        r.cid) AS rnk
       |    FROM n CROSS JOIN $src r$filter) WHERE $keep""".stripMargin

  val v04IvfTopK: Q = Q(
    "v04_ann_ivf_topk",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM v),
       |seed AS (SELECT vec_id AS cid, e AS cv, nrm AS cn
       |         FROM n ORDER BY vec_id LIMIT 16),
       |a0 AS (
       |  ${assignSql("seed", "", "rnk = 1", "vec_id")}),
       |comp AS (
       |  SELECT a0.cid, r.j AS pos,
       |    CAST(SUM(CAST(n.e[r.j] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM a0 JOIN n USING (vec_id), unnest(range(1, 65)) r(j)
       |  GROUP BY 1, 2),
       |refined AS (SELECT cid, list(m ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |refined2 AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
       |  FROM refined),
       |cells AS (
       |  ${assignSql("refined2", "", "rnk = 1", "neighbor_id")}),
       |probes AS (
       |  ${assignSql("refined2", " WHERE n.vec_id < 10", "rnk <= 4", "query_id")}),
       |scored AS (
       |  SELECT p.query_id, c.neighbor_id,
       |    ROUND(list_sum(list_transform(range(1, 65), k -> a.e[k] * b.e[k]))
       |          / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM probes p JOIN cells c USING (cid)
       |  JOIN n a ON a.vec_id = p.query_id
       |  JOIN n b ON b.vec_id = c.neighbor_id
       |  WHERE c.neighbor_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v05
  // Int8 scalar-quantized ANN: per-vector scale 127/max|x|, components
  // floor(x·scale) — floor of a double product is the same IEEE op in
  // both engines, unlike round/cast whose half-way rules diverge — then
  // EXACT integer dot products, double only at the final normalize.
  // 4× smaller vectors (the memory/bandwidth lever at corpus scale);
  // recall vs the float baseline is spec-checked.
  val v05QuantizedTopK: Q = Q(
    "v05_ann_quantized_topk",
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx
      |  FROM v),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> CAST(floor(x * (127.0 / mx)) AS BIGINT)) AS qv
      |  FROM m WHERE mx > 0),
      |qq AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(qv, x -> x * x)) AS qn
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROUND(list_sum(list_transform(range(1, 65), k -> a.qv[k] * b.qv[k]))
      |      / (sqrt(a.qn) * sqrt(b.qn)), 6) AS qcos_sim
      |  FROM qq a JOIN qq b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, neighbor_id, qcos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY qcos_sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, qcos_sim, rank
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .select("query_id", "neighbor_id", "qcos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v06
  // ANN quality evaluation as a first-class mart: recall@10 of the LSH
  // index against the brute-force ground truth, per query — the number
  // an index owner tunes tables/bits against. Composes the exact and
  // LSH CTE chains in ONE statement; both engines replay both pipelines
  // and must agree on every hit.
  val v06AnnRecall: Q = Q(
    "v06_ann_recall",
    s"""WITH $VEC_CTE,
       |$EXACT10_CTES,
       |$lsh10Ctes
       |SELECT e.query_id,
       |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
       |  ROUND(COUNT(l.neighbor_id) * 1.0 / COUNT(*), 4) AS recall_at_10
       |FROM exact10 e LEFT JOIN lsh10 l
       |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10)
      .select("query_id", "neighbor_id")
    val lsh = Similarity.lshTopKAdaptive(emb, q, 10, nTables = LSH_TABLES)
      .select(col("query_id").as("lq"), col("neighbor_id").as("ln"))
    exact.join(lsh,
        col("query_id") === col("lq") && col("neighbor_id") === col("ln"),
        "left")
      .groupBy("query_id")
      .agg(count(col("ln")).as("n_hits"),
        round(count(col("ln")) * lit(1.0) / count(lit(1)), 4).as("recall_at_10"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- v07
  // Embedding outlier audit: distance of every vector to its label's
  // centroid, z-scored within the label — catches corrupt or mislabeled
  // embeddings before they poison ANN buckets and near-dup clusters.
  // DECIMAL-summed centroid and stats (order-independent), sequential
  // distance fold, dist/z rounded BEFORE the cut → the oracle replays
  // the whole construction exactly.
  val v07EmbeddingOutliers: Q = Q(
    "v07_embedding_outliers",
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |cdim AS (
      |  SELECT label, i,
      |    CAST(SUM(CAST(e[i] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      |  FROM v, unnest(range(1, 65)) r(i)
      |  GROUP BY label, i),
      |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cdim GROUP BY label),
      |dist AS (
      |  SELECT vec_id, v.label,
      |    ROUND(sqrt(list_sum(list_transform(range(1, 65),
      |      k -> (e[k] - c[k]) * (e[k] - c[k])))), 6) AS dist
      |  FROM v JOIN cent ON v.label = cent.label),
      |stats AS (
      |  SELECT label,
      |    CAST(SUM(CAST(dist AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mu,
      |    CAST(SUM(CAST(dist * dist AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS msq
      |  FROM dist GROUP BY label)
      |SELECT vec_id, label, dist,
      |  ROUND((dist - mu) / sqrt(GREATEST(msq - mu * mu, 1e-12)), 4) AS z,
      |  ROUND((dist - mu) / sqrt(GREATEST(msq - mu * mu, 1e-12)), 4) > 2.5
      |    AS is_outlier
      |FROM dist JOIN stats USING (label)
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    Similarity.centroidOutliers(t(s, d, "embeddings"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- v08
  // Product-quantization ANN: unit-normalize, split into 8 subspaces,
  // 16 codewords each (id-seeded + one DECIMAL-mean Lloyd step), encode
  // the corpus as 8 codes/vector, score queries by asymmetric distance
  // over per-query lookup tables. The oracle replays codebook training,
  // encoding, and ADC ranking end-to-end in SQL.
  val v08PqTopK: Q = Q(
    "v08_ann_pq_topk",
    """WITH u AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n0 AS (
      |  SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      |  FROM u),
      |vn AS (
      |  SELECT vec_id, list_transform(e, x -> x / nrm) AS vn
      |  FROM n0 WHERE nrm > 0),
      |subv AS (
      |  SELECT vec_id, j,
      |    list_slice(vn, CAST(j * 8 + 1 AS INT), CAST(j * 8 + 8 AS INT)) AS sv
      |  FROM vn, unnest(range(0, 8)) r(j)),
      |seed AS (
      |  SELECT j, c, sv AS cw FROM (
      |    SELECT j, sv,
      |      ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c
      |    FROM subv) WHERE c < 16),
      |a0 AS (
      |  SELECT vec_id, j, c FROM (
      |    SELECT s.vec_id, s.j, d.c,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
      |        list_sum(list_transform(range(1, 9),
      |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
      |    FROM subv s JOIN seed d ON s.j = d.j)
      |  WHERE rn = 1),
      |lloyd AS (
      |  SELECT j, c, list(mc ORDER BY pos) AS cw FROM (
      |    SELECT s.j, a0.c, pos,
      |      CAST(SUM(CAST(s.sv[CAST(pos AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
      |        / COUNT(*) AS mc
      |    FROM subv s
      |    JOIN a0 ON s.vec_id = a0.vec_id AND s.j = a0.j,
      |    unnest(range(1, 9)) r(pos)
      |    GROUP BY s.j, a0.c, pos)
      |  GROUP BY j, c),
      |codes AS (
      |  SELECT vec_id, j, c FROM (
      |    SELECT s.vec_id, s.j, d.c,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
      |        list_sum(list_transform(range(1, 9),
      |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
      |    FROM subv s JOIN lloyd d ON s.j = d.j)
      |  WHERE rn = 1),
      |tables AS (
      |  SELECT s.vec_id AS query_id, s.j, d.c,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))) AS dd
      |  FROM subv s JOIN lloyd d ON s.j = d.j
      |  WHERE s.vec_id < 10),
      |approx AS (
      |  SELECT t.query_id, codes.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(t.dd AS DECIMAL(38,18))) AS DOUBLE) AS ad
      |  FROM codes JOIN tables t ON codes.j = t.j AND codes.c = t.c
      |  WHERE t.query_id <> codes.vec_id
      |  GROUP BY t.query_id, codes.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, ad,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY ad, neighbor_id) AS INT) AS rank
      |  FROM approx)
      |SELECT query_id, neighbor_id, ROUND(ad, 6) AS approx_d2, rank
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v09
  // IVF-PQ, the canonical production ANN: v04's cell routing composed
  // with v08's ADC scoring — a query touches ~nProbe/nCentroids of the
  // corpus and never reads a full vector while scoring. The oracle is
  // the two proven constructions joined on the candidate set.
  val v09IvfPqTopK: Q = Q(
    "v09_ann_ivfpq_topk",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM v),
       |seed AS (SELECT vec_id AS cid, e AS cv, nrm AS cn
       |         FROM n ORDER BY vec_id LIMIT 16),
       |a0 AS (
       |  ${assignSql("seed", "", "rnk = 1", "vec_id")}),
       |comp AS (
       |  SELECT a0.cid, r.j AS pos,
       |    CAST(SUM(CAST(n.e[r.j] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM a0 JOIN n USING (vec_id), unnest(range(1, 65)) r(j)
       |  GROUP BY 1, 2),
       |refined AS (SELECT cid, list(m ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |refined2 AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
       |  FROM refined),
       |cells AS (
       |  ${assignSql("refined2", "", "rnk = 1", "neighbor_id")}),
       |probes AS (
       |  ${assignSql("refined2", " WHERE n.vec_id < 10", "rnk <= 4", "query_id")}),
       |cand AS (
       |  SELECT p.query_id, c.neighbor_id
       |  FROM probes p JOIN cells c USING (cid)
       |  WHERE c.neighbor_id <> p.query_id),
       |vn AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS vn
       |  FROM n WHERE nrm > 0),
       |subv AS (
       |  SELECT vec_id, j,
       |    list_slice(vn, CAST(j * 8 + 1 AS INT), CAST(j * 8 + 8 AS INT)) AS sv
       |  FROM vn, unnest(range(0, 8)) r(j)),
       |pseed AS (
       |  SELECT j, c, sv AS cw FROM (
       |    SELECT j, sv,
       |      ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c
       |    FROM subv) WHERE c < 16),
       |pa0 AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT s.vec_id, s.j, d.c,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_sum(list_transform(range(1, 9),
       |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
       |    FROM subv s JOIN pseed d ON s.j = d.j)
       |  WHERE rn = 1),
       |lloyd AS (
       |  SELECT j, c, list(mc ORDER BY pos) AS cw FROM (
       |    SELECT s.j, pa0.c, pos,
       |      CAST(SUM(CAST(s.sv[CAST(pos AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
       |        / COUNT(*) AS mc
       |    FROM subv s
       |    JOIN pa0 ON s.vec_id = pa0.vec_id AND s.j = pa0.j,
       |    unnest(range(1, 9)) r(pos)
       |    GROUP BY s.j, pa0.c, pos)
       |  GROUP BY j, c),
       |codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT s.vec_id, s.j, d.c,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_sum(list_transform(range(1, 9),
       |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
       |    FROM subv s JOIN lloyd d ON s.j = d.j)
       |  WHERE rn = 1),
       |tables AS (
       |  SELECT s.vec_id AS query_id, s.j, d.c,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))) AS dd
       |  FROM subv s JOIN lloyd d ON s.j = d.j
       |  WHERE s.vec_id < 10),
       |approx AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(SUM(CAST(t.dd AS DECIMAL(38,18))) AS DOUBLE) AS ad
       |  FROM cand
       |  JOIN codes ON codes.vec_id = cand.neighbor_id
       |  JOIN tables t ON t.query_id = cand.query_id
       |    AND t.j = codes.j AND t.c = codes.c
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, ad,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ad, neighbor_id) AS INT) AS rank
       |  FROM approx)
       |SELECT query_id, neighbor_id, ROUND(ad, 6) AS approx_d2, rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v10
  // RESIDUAL IVF-PQ (Jégou et al. §IV.A, the canonical form): v09's
  // routing and ADC, but PQ quantizes each unit vector's residual from
  // its cell's ANCHOR — the DECIMAL-mean of the cell's unit members,
  // the L2-optimal anchor in the quantized space — same code budget on
  // a far smaller ball, better recall at identical cost (spec-asserted
  // ≥ v09). The query's lookup table becomes per-(query, probed cell);
  // the oracle replays anchor derivation, residual construction,
  // codebook training, encoding, and cell-keyed ADC end-to-end.
  val v10IvfPqResidualTopK: Q = Q(
    "v10_ann_ivfpq_residual_topk",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM v),
       |seed AS (SELECT vec_id AS cid, e AS cv, nrm AS cn
       |         FROM n ORDER BY vec_id LIMIT 16),
       |a0 AS (
       |  ${assignSql("seed", "", "rnk = 1", "vec_id")}),
       |comp AS (
       |  SELECT a0.cid, r.j AS pos,
       |    CAST(SUM(CAST(n.e[r.j] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM a0 JOIN n USING (vec_id), unnest(range(1, 65)) r(j)
       |  GROUP BY 1, 2),
       |refined AS (SELECT cid, list(m ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |refined2 AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
       |  FROM refined),
       |cells AS (
       |  ${assignSql("refined2", "", "rnk = 1", "neighbor_id")}),
       |probes AS (
       |  ${assignSql("refined2", " WHERE n.vec_id < 10", "rnk <= 4", "query_id")}),
       |cand AS (
       |  SELECT p.query_id, c.neighbor_id, c.cid
       |  FROM probes p JOIN cells c USING (cid)
       |  WHERE c.neighbor_id <> p.query_id),
       |vn AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS vn
       |  FROM n WHERE nrm > 0),
       |cum AS (
       |  SELECT c.cid, r.k AS pos,
       |    CAST(SUM(CAST(vn.vn[r.k] AS DECIMAL(38,18))) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM cells c JOIN vn ON vn.vec_id = c.neighbor_id,
       |  unnest(range(1, 65)) r(k)
       |  GROUP BY 1, 2),
       |cu AS (SELECT cid, list(m ORDER BY pos) AS cu FROM cum GROUP BY cid),
       |rres AS (
       |  SELECT c.neighbor_id AS vec_id,
       |    list_transform(range(1, 65), k -> vn.vn[k] - cu.cu[k]) AS rv
       |  FROM cells c JOIN vn ON vn.vec_id = c.neighbor_id JOIN cu USING (cid)),
       |rsub AS (
       |  SELECT vec_id, j,
       |    list_slice(rv, CAST(j * 8 + 1 AS INT), CAST(j * 8 + 8 AS INT)) AS sv
       |  FROM rres, unnest(range(0, 8)) r(j)),
       |pseed AS (
       |  SELECT j, c, sv AS cw FROM (
       |    SELECT j, sv,
       |      ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c
       |    FROM rsub) WHERE c < 16),
       |pa0 AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT s.vec_id, s.j, d.c,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_sum(list_transform(range(1, 9),
       |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
       |    FROM rsub s JOIN pseed d ON s.j = d.j)
       |  WHERE rn = 1),
       |lloyd AS (
       |  SELECT j, c, list(mc ORDER BY pos) AS cw FROM (
       |    SELECT s.j, pa0.c, pos,
       |      CAST(SUM(CAST(s.sv[CAST(pos AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
       |        / COUNT(*) AS mc
       |    FROM rsub s
       |    JOIN pa0 ON s.vec_id = pa0.vec_id AND s.j = pa0.j,
       |    unnest(range(1, 9)) r(pos)
       |    GROUP BY s.j, pa0.c, pos)
       |  GROUP BY j, c),
       |codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT s.vec_id, s.j, d.c,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_sum(list_transform(range(1, 9),
       |          i -> (s.sv[i] - d.cw[i]) * (s.sv[i] - d.cw[i]))), d.c) AS rn
       |    FROM rsub s JOIN lloyd d ON s.j = d.j)
       |  WHERE rn = 1),
       |qres AS (
       |  SELECT p.query_id, p.cid,
       |    list_transform(range(1, 65), k -> vn.vn[k] - cu.cu[k]) AS rv
       |  FROM probes p JOIN vn ON vn.vec_id = p.query_id JOIN cu USING (cid)),
       |qsub AS (
       |  SELECT query_id, cid, j,
       |    list_slice(rv, CAST(j * 8 + 1 AS INT), CAST(j * 8 + 8 AS INT)) AS sv
       |  FROM qres, unnest(range(0, 8)) r(j)),
       |tables AS (
       |  SELECT q.query_id, q.cid, q.j, d.c,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (q.sv[i] - d.cw[i]) * (q.sv[i] - d.cw[i]))) AS dd
       |  FROM qsub q JOIN lloyd d ON q.j = d.j),
       |approx AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(SUM(CAST(t.dd AS DECIMAL(38,18))) AS DOUBLE) AS ad
       |  FROM cand
       |  JOIN codes ON codes.vec_id = cand.neighbor_id
       |  JOIN tables t ON t.query_id = cand.query_id AND t.cid = cand.cid
       |    AND t.j = codes.j AND t.c = codes.c
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, ad,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ad, neighbor_id) AS INT) AS rank
       |  FROM approx)
       |SELECT query_id, neighbor_id, ROUND(ad, 6) AS approx_d2, rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v11
  // SemDeDup (Abbas et al. 2023): semantic dedup by embedding clusters
  // — the published LLM-curation technique. Clusters are v04's exact
  // Lloyd construction (seed → assign → DECIMAL-mean refine → assign);
  // near-dup pairs form only within a cell; per duplicate relation the
  // keeper is the member FARTHEST from its centroid (the paper's
  // keep-lowest-centroid-similarity rule), ties by id, expressed as a
  // declarative tournament (dropped iff a better-ranked cell-mate is a
  // ≥ 0.4 neighbor — 0.4 for the same no-planted-dups reason as v02).
  // DuckDB replays clustering, centroid similarities, the tournament,
  // and the anti-join verbatim.
  val v11SemDedup: Q = Q(
    "v11_semantic_dedup",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM v),
       |seed AS (SELECT vec_id AS cid, e AS cv, nrm AS cn
       |         FROM n ORDER BY vec_id LIMIT 16),
       |a0 AS (
       |  ${assignSql("seed", "", "rnk = 1", "vec_id")}),
       |comp AS (
       |  SELECT a0.cid, r.j AS pos,
       |    CAST(SUM(CAST(n.e[r.j] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM a0 JOIN n USING (vec_id), unnest(range(1, 65)) r(j)
       |  GROUP BY 1, 2),
       |refined AS (SELECT cid, list(m ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |refined2 AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
       |  FROM refined),
       |cells AS (
       |  ${assignSql("refined2", "", "rnk = 1", "neighbor_id")}),
       |members AS (
       |  SELECT c.neighbor_id AS vid, c.cid, n.e, n.nrm,
       |    ROUND(list_sum(list_transform(range(1, 65), k -> n.e[k] * r.cv[k]))
       |          / (n.nrm * r.cn), 6) AS cent_sim
       |  FROM cells c JOIN n ON n.vec_id = c.neighbor_id
       |  JOIN refined2 r USING (cid)),
       |dominated AS (
       |  SELECT DISTINCT a.vid
       |  FROM members a JOIN members b
       |    ON a.cid = b.cid AND a.vid <> b.vid
       |   AND (b.cent_sim < a.cent_sim
       |        OR (b.cent_sim = a.cent_sim AND b.vid < a.vid))
       |  WHERE list_sum(list_transform(range(1, 65), k -> a.e[k] * b.e[k]))
       |        / (a.nrm * b.nrm) >= 0.4)
       |SELECT vid, cid, cent_sim FROM members
       |WHERE vid NOT IN (SELECT vid FROM dominated)
       |ORDER BY vid""".stripMargin) { (s, d) =>
    Similarity.semDedup(t(s, d, "embeddings"), 0.4)
      .orderBy("vid")
  }

  // ---------------------------------------------------------------- v12
  // Filtered vector search: top-k among candidates passing a metadata
  // predicate (label < 5 here) — "nearest English docs" / "neighbors
  // outside my shard", the retrieval-stack composition. PRE-filter
  // semantics: the predicate semi-joins the cell index before any dot
  // product; the IVF index itself is built on the FULL corpus and shared
  // across predicates (one index at 100 TB, per-query filters at serve).
  // DuckDB replays v04's exact IVF construction with the label carried
  // through and the predicate applied at the same point (candidates, not
  // training).
  val v12FilteredTopK: Q = Q(
    "v12_ann_filtered_topk",
    s"""WITH v AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM v),
       |seed AS (SELECT vec_id AS cid, e AS cv, nrm AS cn
       |         FROM n ORDER BY vec_id LIMIT 16),
       |a0 AS (
       |  ${assignSql("seed", "", "rnk = 1", "vec_id")}),
       |comp AS (
       |  SELECT a0.cid, r.j AS pos,
       |    CAST(SUM(CAST(n.e[r.j] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM a0 JOIN n USING (vec_id), unnest(range(1, 65)) r(j)
       |  GROUP BY 1, 2),
       |refined AS (SELECT cid, list(m ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |refined2 AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
       |  FROM refined),
       |cells AS (
       |  ${assignSql("refined2", "", "rnk = 1", "neighbor_id")}),
       |probes AS (
       |  ${assignSql("refined2", " WHERE n.vec_id < 10", "rnk <= 4", "query_id")}),
       |scored AS (
       |  SELECT p.query_id, c.neighbor_id,
       |    ROUND(list_sum(list_transform(range(1, 65), k -> a.e[k] * b.e[k]))
       |          / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM probes p JOIN cells c USING (cid)
       |  JOIN n a ON a.vec_id = p.query_id
       |  JOIN n b ON b.vec_id = c.neighbor_id
       |  WHERE c.neighbor_id <> p.query_id AND b.label < 5),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions.col
    val emb = t(s, d, "embeddings")
    Similarity.ivfTopKFiltered(emb, emb.filter(col("vec_id") < 10),
        emb.filter(col("label") < 5).select("vec_id"), 10)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- v13
  // Hybrid retrieval: reciprocal-rank fusion of the lexical leg (BM25
  // top-20, t16's shared query set — query_id 0..2) and the vector leg
  // (cosine top-20 for query vectors vec_id 0..2, v01's construction).
  // RRF(d) = Σ_legs 1/(60 + rank_leg(d)), the standard k=60 fusion —
  // rank-only, so it needs NO score normalization across legs, which is
  // what makes it the production default for hybrid search. Scale shape:
  // each leg is already a bounded top-k (5·|queries| rows shuffled by
  // `topk_pairs`); the fusion join and re-rank run on ≤ 2k rows per
  // query — driver-light, corpus-independent. Absent legs contribute 0
  // (outer join, rank 0 = "not retrieved"); fused score rounds to 6 dp,
  // ties break doc_id ASC in both engines.
  val v13HybridRrf: Q = Q(
    "v13_hybrid_rrf",
    s"""WITH ${TextQueries.BM25_ORACLE_CTES},
       |$VEC_CTE,
       |vec_scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS id,
       |    ROUND($COS, 6) AS cos_sim
       |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 3),
       |vec_ranked AS (
       |  SELECT query_id, id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos_sim DESC, id) AS vrank
       |  FROM vec_scored),
       |lex AS (SELECT query_id, doc_id AS id, rank AS lrank
       |        FROM bm25_ranked WHERE rank <= 20),
       |vec20 AS (SELECT query_id, id, vrank FROM vec_ranked
       |          WHERE vrank <= 20),
       |fused AS (
       |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
       |    COALESCE(l.id, v.id) AS id,
       |    COALESCE(l.lrank, 0) AS lex_rank,
       |    COALESCE(v.vrank, 0) AS vec_rank,
       |    ROUND(
       |      CASE WHEN l.lrank IS NULL THEN 0
       |           ELSE CAST(1 AS DOUBLE) / (60 + l.lrank) END +
       |      CASE WHEN v.vrank IS NULL THEN 0
       |           ELSE CAST(1 AS DOUBLE) / (60 + v.vrank) END, 6) AS rrf
       |  FROM lex l
       |  FULL OUTER JOIN vec20 v
       |    ON v.query_id = l.query_id AND v.id = l.id),
       |final_ranked AS (
       |  SELECT query_id, id, rrf, lex_rank, vec_rank,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY rrf DESC, id) AS rank
       |  FROM fused)
       |SELECT query_id, id, rrf, lex_rank, vec_rank, rank
       |FROM final_ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    val lex = TextQueries.bm25TopK(s, t(s, d, "documents"), 20)
      .select(col("query_id"), col("doc_id").as("id"),
        col("rank").cast("long").as("lex_rank"))
    val vec = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 20)
      .select(col("query_id"), col("neighbor_id").as("id"),
        col("rank").cast("long").as("vec_rank"))
    val fused = lex.join(vec, Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        round(
          when(col("lex_rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / (lit(60) + col("lex_rank"))) +
          when(col("vec_rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / (lit(60) + col("vec_rank"))), 6).as("rrf"))
    // single-consumer finisher (r15): `fused` is BOUNDED by
    // construction — both legs are top-20 cuts, so ≤ 40 rows per query
    // regardless of corpus size — which makes a query-partitioned
    // row_number window scale-safe here (the topk_pairs discipline
    // exists for corpus-sized candidate sets; this isn't one). The
    // previous topk+join-back consumed a persisted fused frame from
    // two INDEPENDENT stages of one job, which materialized the whole
    // two-leg lineage twice concurrently (profiled Σ task 8.6 s vs
    // ~1.3 s for the legs run alone; r15 AB 0.848); one window pass
    // consumes it once and needs no persist at all.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "id", "rrf", "lex_rank", "vec_rank", "rank")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- c03
  // Embedding-space contamination: the semantic complement to the
  // n-gram checks c01/c02 — paraphrased or lightly-edited benchmark
  // leaks share no 5-gram but sit at high cosine. Benchmark = vec_id
  // < 25 (the held-out set), corpus = the rest; per benchmark vector,
  // the single nearest corpus vector and a ≥0.9 contamination flag.
  // The query side is bounded (25 vectors broadcast against the
  // corpus, map-side k=1 heaps — v01's machinery); at 100 TB the same
  // report runs through ivfTopKFiltered with the benchmark set as the
  // query batch.
  val c03EmbeddingContamination: Q = Q(
    "c03_embedding_contamination",
    s"""WITH $VEC_CTE,
       |scored AS (
       |  SELECT a.vec_id AS bench_id, b.vec_id AS corpus_id,
       |    ROUND($COS, 6) AS cs
       |  FROM n a JOIN n b ON b.vec_id >= 25
       |  WHERE a.vec_id < 25),
       |top1 AS (
       |  SELECT bench_id, corpus_id, cs,
       |    ROW_NUMBER() OVER (PARTITION BY bench_id
       |      ORDER BY cs DESC, corpus_id) AS rnk
       |  FROM scored)
       |SELECT bench_id, corpus_id AS nearest_id, cs AS max_cos,
       |  cs >= 0.9 AS contaminated
       |FROM top1 WHERE rnk = 1 ORDER BY bench_id""".stripMargin) { (s, d) =>
    val emb = t(s, d, "embeddings")
    Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= 25),
        emb.filter(col("vec_id") < 25), 1)
      .select(col("query_id").as("bench_id"),
        col("neighbor_id").as("nearest_id"),
        col("cos_sim").as("max_cos"),
        (col("cos_sim") >= 0.9).as("contaminated"))
      .orderBy("bench_id")
  }

  val all: Seq[Q] = Seq(v01BruteForceTopK, v02NearDupPairs, v03LshTopK,
    v04IvfTopK, v05QuantizedTopK, v06AnnRecall, v07EmbeddingOutliers,
    v08PqTopK, v09IvfPqTopK, v10IvfPqResidualTopK, v11SemDedup,
    v12FilteredTopK, v13HybridRrf, c03EmbeddingContamination)
}
