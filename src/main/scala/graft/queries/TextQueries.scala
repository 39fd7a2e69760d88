package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFns._

/** Text-analysis surface over the `documents` table (BASELINE north star:
  * the operators a training-data pipeline runs at 100 TB). All pure
  * column expressions — embarrassingly parallel, no shuffle except the
  * final aggregations, and the scan only reads the columns each query
  * projects.
  */
object TextQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "documents")

  /** Persist a projected frame ahead of its global orderBy (r15): a
    * range exchange SAMPLES its child to pick partition bounds —
    * executing the child plan once for the sample and again for the
    * shuffle — so an un-persisted expensive projection (regex
    * tokenization, PII scans) runs TWICE over the corpus. The persisted
    * frame is the NARROW per-doc result (a few scalars per row), so the
    * cache is corpus-row-count sized, not corpus-byte sized. */
  private def sortShared(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.CacheScope.persist(df)

  // ---------------------------------------------------------------- t01
  // Token counting + basic stats per document.
  val t01TokenStats: Q = Q(
    "t01_token_stats",
    """SELECT doc_id, n_chars,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |  ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / NULLIF(len(string_split(text, ' ')), 0), 4) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = tokens(col("text"))
    sortShared(docs(s, d).select(
      col("doc_id"), col("n_chars"),
      size(tok).cast("bigint").as("n_tokens"),
      size(array_distinct(tok)).cast("bigint").as("n_distinct_tokens"),
      round(length(regexp_replace(col("text"), " ", "")).cast("double")
        / nullif(size(tok).cast("bigint"), lit(0)), 4).as("avg_token_len")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t02
  // Quality scoring: length / punctuation / stopword-ratio heuristics —
  // the standard pre-training quality filters.
  val t02QualityScore: Q = Q(
    "t02_quality_score",
    """WITH f AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok,
      |    ROUND(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |          / NULLIF(length(text), 0), 4) AS punct_ratio
      |  FROM documents)
      |SELECT doc_id,
      |  len(tok) AS n_tokens, punct_ratio,
      |  ROUND(CAST(len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |        / NULLIF(len(tok), 0), 4) AS stopword_ratio,
      |  (len(tok) BETWEEN 10 AND 1000
      |    AND punct_ratio <= 0.1
      |    AND len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'to'))) > 0) AS passes_quality
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stops = Seq("the", "a", "of", "and", "to")
    val base = docs(s, d).select(
      col("doc_id"), tokens(col("text")).as("tok"),
      punctRatio(col("text")).as("punct_ratio"))
    sortShared(base.select(
      col("doc_id"),
      size(col("tok")).cast("bigint").as("n_tokens"),
      col("punct_ratio"),
      round(markerHits(col("tok"), stops).cast("double")
        / nullif(size(col("tok")).cast("bigint"), lit(0)), 4).as("stopword_ratio"),
      (size(col("tok")).between(10, 1000)
        && col("punct_ratio") <= 0.1
        && markerHits(col("tok"), stops) > 0).as("passes_quality")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t03
  // Language-ID via stopword-marker argmax with a deterministic
  // tie-break (first language code in de<en<es<fr order among maxima;
  // 'und' when no marker hits at all).
  val t03LangId: Q = Q(
    "t03_lang_id", {
      val scoreSql = langMarkers.map { case (code, ms) =>
        s"len(list_filter(tok, x -> x IN (${ms.map("'" + _ + "'").mkString(", ")}))) AS $code"
      }.mkString(",\n      |    ")
      s"""WITH s AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    $scoreSql
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents))
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
         |       WHEN de = greatest(de, en, es, fr) THEN 'de'
         |       WHEN en = greatest(de, en, es, fr) THEN 'en'
         |       WHEN es = greatest(de, en, es, fr) THEN 'es'
         |       ELSE 'fr' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val base = docs(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"), tokens(col("text")).as("tok"))
    val scored = base.select(
      (Seq(col("doc_id"), col("labeled_lang")) ++
        langMarkers.map { case (code, ms) =>
          markerHits(col("tok"), ms).as(code)
        }): _*)
    val g = greatest(langMarkers.map(m => col(m._1)): _*)
    sortShared(scored.select(
      col("doc_id"), col("labeled_lang"),
      when(g === 0, "und")
        .when(col("de") === g, "de")
        .when(col("en") === g, "en")
        .when(col("es") === g, "es")
        .otherwise("fr").as("predicted_lang")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t04
  // Document fingerprint: md5 over the sorted distinct token set —
  // collapses word-order permutations (key-collapse canonicalization).
  val t04Fingerprint: Q = Q(
    "t04_fingerprint",
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_doc_id"))
      .orderBy("fp")
  }

  // ---------------------------------------------------------------- t05
  // Corpus token histogram (word count) with deterministic top-50.
  val t05TokenHistogram: Q = Q(
    "t05_token_histogram",
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  // ---------------------------------------------------------------- t06
  // BPE-ish regex tokenization: letter runs / digit runs / single
  // non-space symbols — the pre-tokenizer split GPT-style BPE vocabs
  // assume. Pattern kept to constructs Java regex and DuckDB's RE2
  // interpret identically.
  val t06BpeTokens: Q = Q(
    "t06_bpe_tokens",
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
      |  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_distinct_bpe
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
    sortShared(docs(s, d).select(
      col("doc_id"),
      size(toks).cast("bigint").as("n_bpe_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_distinct_bpe")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t07
  // Winnowing rolling-hash fingerprints (Rabin-Karp, window 16, stride 8,
  // mod 2^61−1). Docs sharing ≥8 selected hashes are substring-overlap
  // candidates — the plagiarism-detection primitive. The oracle replays
  // the EXACT construction in DuckDB: the polynomial hash evaluates
  // directly (HUGEINT holds the 121-bit products; the precomputed
  // B^(15−j) mod M powers are inlined as literals — the rolling O(1)
  // update is an optimization, not a semantic, so both forms agree
  // bit-for-bit on ASCII text), and winnowing is a sliding MIN window
  // with the same run-boundary rule as the native expression.
  private[queries] val FP_M = (BigInt(1) << 61) - 1
  private[queries] val FP_POWS = (0 until 16)
    .map(j => BigInt(257).modPow(BigInt(15 - j), FP_M))
    .map(p => s"$p::HUGEINT").mkString("[", ", ", "]")

  val t07RollingFingerprint: Q = Q(
    "t07_rolling_fingerprint",
    s"""WITH pos AS (
       |  SELECT doc_id, text, len(text) - 15 AS nw,
       |    unnest(range(1, len(text) - 14)) AS i
       |  FROM documents WHERE len(text) >= 16),
       |win AS (
       |  SELECT doc_id, i, nw,
       |    CAST(list_sum(list_transform(range(0, 16),
       |      j -> ord(substr(text, CAST(i + j AS INT), 1))::HUGEINT
       |           * ($FP_POWS)[j + 1]))
       |      % $FP_M AS BIGINT) AS h
       |  FROM pos),
       |runs AS (
       |  SELECT doc_id, i, nw,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn
       |  FROM win),
       |sel AS (
       |  SELECT DISTINCT doc_id, mn AS fp FROM runs
       |  WHERE i <= GREATEST(nw - 8, 0) + 1),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared_fingerprints
       |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 8)
       |SELECT * FROM pairs ORDER BY i, j""".stripMargin) { (s, d) =>
    import graft.functions.expressions.RollingFingerprint.rolling_fingerprint
    // widened ahead of the rolling-hash pass (the d09 rationale: the
    // polynomial hash over every char is the heaviest per-row stage and
    // the scan is unsplittable; Par.wide no-ops at realistic layouts)
    // persisted: both self-join legs read the fingerprints — without
    // this the rolling-hash pass over every document runs twice
    val fps = graft.CacheScope.persist(
      graft.operators.Par.wide(docs(s, d)).select(col("doc_id"),
        explode(rolling_fingerprint(col("text"))).as("fp")))
    val a = fps.select(col("doc_id").as("i"), col("fp"))
    val b = fps.select(col("doc_id").as("j"), col("fp"))
    a.join(b, "fp").filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= 8)
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- t08
  // Within-document repetition metrics (the Gopher-rules repetition
  // filters): most-frequent-token share and duplicate-trigram fraction.
  // High values flag boilerplate/spam docs a pre-training pipeline drops.
  /** Repetition metrics for any (doc_id, text) frame — shared by the t08
    * query and the fixture spec. */
  def repetitionMetrics(docsDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tc = docsDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val agg = tc.groupBy("doc_id")
      .agg(sum("c").cast("bigint").as("n_tokens"), max("c").as("top_c"))
    val tri = docsDf
      .select(col("doc_id"), tokens(col("text")).as("t"),
        shingles(col("text")).as("sh"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        (size(col("t")) - 2).cast("bigint").as("n_tri"),
        size(col("sh")).cast("bigint").as("n_dtri"))
    agg.join(tri, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_c") * lit(1.0) / col("n_tokens"), 4).as("top_token_share"),
        round(lit(1.0) - (col("n_dtri") * lit(1.0) / col("n_tri")), 4)
          .as("dup_trigram_frac"))
  }

  val t08Repetition: Q = Q(
    "t08_repetition",
    """WITH tc AS (
      |  SELECT doc_id, token, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_c
      |  FROM tc GROUP BY 1),
      |tri AS (
      |  SELECT doc_id, len(t) - 2 AS n_tri,
      |    len(list_distinct(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n_dtri
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)
      |SELECT agg.doc_id, n_tokens,
      |  ROUND(top_c * 1.0 / n_tokens, 4) AS top_token_share,
      |  ROUND(1.0 - (n_dtri * 1.0 / n_tri), 4) AS dup_trigram_frac
      |FROM agg JOIN tri ON agg.doc_id = tri.doc_id
      |ORDER BY agg.doc_id""".stripMargin) { (s, d) =>
    repetitionMetrics(docs(s, d)).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t09
  // PII detection + redaction. The corpus itself is PII-free, so each
  // doc is augmented with deterministic doc_id-derived PII (email, IPv4,
  // phone) FIRST — both engines build the identical augmented string,
  // then must agree on match counts AND the md5 of the fully redacted
  // text, which verifies the regex semantics end-to-end. Patterns live
  // in TextFns (Java-regex ∩ RE2 common subset).
  private val EMAIL_RE = graft.functions.TextFns.EmailRe
  private val IP_RE = graft.functions.TextFns.Ipv4Re
  private val PHONE_RE = graft.functions.TextFns.PhoneRe

  val t09PiiScrub: Q = Q(
    "t09_pii_scrub",
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' mail user' || doc_id || '@example.org ip 10.'
       |      || (doc_id % 256) || '.0.7 tel 202-555-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(t, '$EMAIL_RE')) AS n_emails,
       |  len(regexp_extract_all(t, '$IP_RE')) AS n_ips,
       |  len(regexp_extract_all(t, '$PHONE_RE')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$EMAIL_RE', '[EMAIL]', 'g'),
       |    '$IP_RE', '[IP]', 'g'),
       |    '$PHONE_RE', '[PHONE]', 'g')) AS redacted_md5
       |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = docs(s, d).select(col("doc_id"),
      concat(col("text"), lit(" mail user"), col("doc_id"),
        lit("@example.org ip 10."), col("doc_id") % 256,
        lit(".0.7 tel 202-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
    import graft.functions.TextFns.{piiCount, piiRedact}
    sortShared(aug.select(col("doc_id"),
      piiCount(col("t"), EMAIL_RE).as("n_emails"),
      piiCount(col("t"), IP_RE).as("n_ips"),
      piiCount(col("t"), PHONE_RE).as("n_phones"),
      md5(piiRedact(col("t"))).as("redacted_md5")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t10
  // Corpus novelty: per doc, the fraction of its distinct trigrams that
  // appear NOWHERE else in the corpus — low novelty flags boilerplate /
  // template families that per-doc repetition (t08) cannot see. One
  // inverted-index aggregation (df per gram) + a join back: the same
  // shuffle shape as dedup, keyed on high-cardinality grams.
  val t10Novelty: Q = Q(
    "t10_novelty",
    s"WITH ${DedupQueries.SHINGLES_CTE},\n" +
      """ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
        |df AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
        |per AS (
        |  SELECT ex.doc_id, COUNT(*) AS n_grams,
        |    SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
        |  FROM ex JOIN df ON ex.s = df.s GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  ROUND(n_unique * 1.0 / n_grams, 4) AS novelty
        |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    // d02's index-build shape (r15): widen ahead of the shingle explode
    // (per-row heavy, unsplittable scan; no-op at realistic layouts) and
    // persist the exploded rows — the df aggregate AND the join-back leg
    // both read them, so without the persist the shingle pass runs twice
    val ex = graft.CacheScope.persist(graft.operators.Dedup
      .shingleSets(graft.operators.Par.wide(docs(s, d)), "doc_id", "text")
      .select(col("doc_id"), explode(col("sh")).as("s")))
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    ex.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1).otherwise(0)).cast("bigint").as("n_unique"))
      .select(col("doc_id"), col("n_grams"),
        round(col("n_unique") * lit(1.0) / col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t11
  // CCNet-style LM perplexity filtering: a smoothed bigram model
  // trained on a trusted reference slice (src0/src1 stand in for the
  // "wikipedia" side of the CCNet recipe) scores every document's
  // cross-entropy — the quality gate that drops text unlike the
  // reference. The oracle replays training AND scoring: add-one
  // probabilities are one exact IEEE division of integer operands, the
  // per-doc Σ ln p is DECIMAL-summed (order-independent), and the only
  // libm call (ln, ≤1 ulp across engines) is absorbed by the 4 dp
  // round; a plain-Scala recomputation spec pins the numbers
  // independently of both engines.
  /** CTE chain ending in `scored(doc_id, m, xent)` — the full bigram-LM
    * train + score pipeline (t11 exposes it directly; g02 composes it
    * into the corpus funnel with a `ptok` prefix rename). */
  private[queries] val PPL_CTES =
    """tok AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |big AS (
      |  SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2
      |  FROM tok, unnest(range(1, len(t))) r(i)
      |  WHERE len(t) >= 2),
      |refbig AS (SELECT w1, w2 FROM big WHERE source IN ('src0', 'src1')),
      |counts AS (SELECT w1, w2, COUNT(*) AS c FROM refbig GROUP BY 1, 2),
      |ctx AS (SELECT w1, COUNT(*) AS n FROM refbig GROUP BY 1),
      |vocab AS (
      |  SELECT COUNT(DISTINCT u) AS v
      |  FROM (SELECT unnest(t) AS u FROM tok WHERE source IN ('src0', 'src1'))),
      |scored AS (
      |  SELECT big.doc_id, COUNT(*) AS m,
      |    CAST(-SUM(CAST(ln((COALESCE(c, 0) + 1) / (COALESCE(n, 0) + v))
      |        AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS xent
      |  FROM big
      |  LEFT JOIN counts USING (w1, w2)
      |  LEFT JOIN ctx USING (w1)
      |  CROSS JOIN vocab
      |  GROUP BY big.doc_id)""".stripMargin

  val t11Perplexity: Q = Q(
    "t11_lm_perplexity",
    s"WITH $PPL_CTES\n" +
      """SELECT doc_id, m, ROUND(xent, 4) AS xent
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    val all = docs(s, d)
    val refPred = col("source").isin("src0", "src1")
    val (counts, ctx, vocab) =
      graft.operators.LangModel.train(all, "doc_id", "text", refPred)
    graft.operators.LangModel
      .crossEntropy(all, "doc_id", "text", counts, ctx, vocab)
      .select("doc_id", "m", "xent")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t12
  // BPE tokenizer training, the distributed kernel: corpus-wide adjacent
  // character-pair frequencies (the statistics the first merge choice is
  // made from). Full training iterates this count → merge-argmax loop;
  // each iteration is this same aggregation, whose shuffle is bounded by
  // the symbol-pair alphabet, not the corpus. Ordered (cnt DESC, pair)
  // so the top-50 cut is deterministic — pair is unique after the
  // group-by, making the boundary tie-free.
  val t12BpeMerges: Q = Q(
    "t12_bpe_merges",
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, length(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair
      |  FROM words WHERE length(w) >= 2)
      |SELECT pair, COUNT(*) AS cnt FROM pairs
      |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
    graft.operators.Tokenizer.pairCounts(docs(s, d), "text", 50)
  }

  // ---------------------------------------------------------------- t13
  // TF-IDF keyword extraction: top-3 terms per document by
  // tf · ln(N/df) — the classic signature-term summary (search indexing,
  // topic tagging, near-dup triage). Two keyed aggregations (term counts
  // per doc, document frequency per term) + one keyed join; the ranking
  // window partitions on doc_id — corpus-cardinality keys, so the sort
  // state per partition is one document's vocabulary. ln is the only
  // libm call (≤1 ulp cross-engine, absorbed by the 4 dp round — the
  // t11 discipline); ties on the ROUNDED score break on term ASC, so
  // the top-3 cut is engine-exact.
  val t13Tfidf: Q = Q(
    "t13_tfidf",
    """WITH tf AS (
      |  SELECT doc_id, u AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u FROM documents)
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS nd FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, ROUND(tf * ln(nd / df), 4) AS score
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
      |ranked AS (
      |  SELECT doc_id, term, tf, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, term, tf, score, rank FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docs(s, d).agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(nd))
      .withColumn("score", round(col("tf") * log(col("nd") / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  // ---------------------------------------------------------------- t14
  // Corpus-law statistics: the Zipf rank-frequency fit (log-log least
  // squares over the top-100 ranks) plus corpus totals — the one-row
  // health mart that flags template/spam corpora (slope far from −1) at
  // a glance. The global rank runs over the VOCABULARY, which is
  // aggregation-bounded (Heaps' law: |vocab| ≪ corpus tokens), not over
  // the corpus — and since round 5 it runs through `globalRank`
  // (bucket = -cnt: one bucket per distinct frequency, vocab-bounded
  // driver fold), so even this bounded case plans ZERO unpartitioned
  // windows. Regression sums are DECIMAL-cast (order-independent);
  // ln is the only libm call, absorbed by the 4 dp round.
  val t14CorpusLaws: Q = Q(
    "t14_corpus_laws",
    """WITH tf AS (
      |  SELECT u AS term, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS u FROM documents)
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk FROM tf),
      |zpts AS (
      |  SELECT CAST(ln(rnk) AS DECIMAL(38,18)) AS x,
      |         CAST(ln(cnt) AS DECIMAL(38,18)) AS y,
      |         CAST(ln(rnk) * ln(rnk) AS DECIMAL(38,18)) AS xx,
      |         CAST(ln(rnk) * ln(cnt) AS DECIMAL(38,18)) AS xy
      |  FROM ranked WHERE rnk <= 100),
      |zfit AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
      |         CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(xx) AS DOUBLE) AS sxx,
      |         CAST(SUM(xy) AS DOUBLE) AS sxy
      |  FROM zpts),
      |totals AS (SELECT COUNT(*) AS n_terms, SUM(cnt) AS n_tokens FROM tf)
      |SELECT n_terms, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
      |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
      |    AS zipf_intercept
      |FROM zfit CROSS JOIN totals""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    // persisted (r15): `tf` feeds the globalRank chain AND the totals
    // aggregate — separate query executions (globalRank collects
    // internally), so without the persist the explode+groupBy runs
    // twice. NOT widened: Par.wide ahead of the explode A/B'd 1.33×
    // slower (r15) — the token explode is too cheap per row to pay for
    // the exchange (unlike the shingle/rolling-hash sites).
    val tf = graft.CacheScope.persist(docs(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt")))
    val ranked = graft.operators.ScalableWindow.globalRank(
      tf, expr("-cnt"), Seq(col("cnt").desc, col("term")), "rnk")
    val lnR = log(col("rnk"))
    val lnC = log(col("cnt"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 18))
    val zfit = ranked.filter(col("rnk") <= 100)
      .select(dec(lnR).as("x"), dec(lnC).as("y"),
        dec(lnR * lnR).as("xx"), dec(lnR * lnC).as("xy"))
      .agg(count(lit(1)).as("n"), sum("x").cast("double").as("sx"),
        sum("y").cast("double").as("sy"), sum("xx").cast("double").as("sxx"),
        sum("xy").cast("double").as("sxy"))
    val totals = tf.agg(count(lit(1)).as("n_terms"),
      sum("cnt").cast("bigint").as("n_tokens"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    zfit.crossJoin(totals)
      .select(col("n_terms"), col("n_tokens"),
        round(slope, 4).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 4).as("zipf_intercept"))
  }

  // ---------------------------------------------------------------- t15
  // Heaps'-law vocabulary growth: cumulative docs/tokens/vocab at each
  // corpus decile (by doc_id order). The scale trick: vocab at a prefix
  // is the count of terms whose FIRST-occurrence doc falls inside it —
  // one min-aggregate per term plus a 10-row broadcast join, instead of
  // ten COUNT(DISTINCT) passes over the corpus. A flattening curve on a
  // growing corpus signals template/duplicated content (vocabulary
  // stops growing while tokens keep coming).
  val t15VocabGrowth: Q = Q(
    "t15_vocab_growth",
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bounds AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
      |terms AS (
      |  SELECT u AS term, MIN(doc_id) AS first_doc
      |  FROM (SELECT doc_id, unnest(t) AS u FROM docs) GROUP BY 1),
      |per_doc AS (SELECT doc_id, len(t) AS n_tok FROM docs),
      |curve AS (
      |  SELECT decile, (n * decile) // 10 AS cutoff
      |  FROM (SELECT unnest(range(1, 11)) AS decile) CROSS JOIN bounds)
      |SELECT c.decile,
      |  CAST((SELECT COUNT(*) FROM per_doc p WHERE p.doc_id < c.cutoff) AS BIGINT)
      |    AS cum_docs,
      |  CAST((SELECT COALESCE(SUM(n_tok), 0) FROM per_doc p WHERE p.doc_id < c.cutoff) AS BIGINT)
      |    AS cum_tokens,
      |  CAST((SELECT COUNT(*) FROM terms t WHERE t.first_doc < c.cutoff) AS BIGINT)
      |    AS vocab
      |FROM curve c ORDER BY decile""".stripMargin) { (s, d) =>
    val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("t"))
    val curve = s.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(base.agg((max("doc_id") + 1).as("n"))))
      .select(col("decile"), expr("(n * decile) div 10").as("cutoff"))
    val perDoc = base.select(col("doc_id"), size(col("t")).cast("long").as("n_tok"))
    val terms = base.select(col("doc_id"), explode(col("t")).as("u"))
      .groupBy("u").agg(min("doc_id").as("first_doc"))
    val docStats = perDoc.crossJoin(broadcast(curve))
      .filter(col("doc_id") < col("cutoff"))
      .groupBy("decile")
      .agg(count(lit(1)).as("cum_docs"),
        coalesce(sum("n_tok"), lit(0L)).as("cum_tokens"))
    val vocabStats = terms.crossJoin(broadcast(curve))
      .filter(col("first_doc") < col("cutoff"))
      .groupBy("decile").agg(count(lit(1)).as("vocab"))
    // LEFT joins from the curve: a decile whose prefix is empty (ids
    // not starting near 0, or < 10 docs) must still emit its zero row —
    // the oracle's correlated subqueries always produce all 10
    curve.select("decile")
      .join(docStats, Seq("decile"), "left")
      .join(vocabStats, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("cum_docs"), lit(0L)).as("cum_docs"),
        coalesce(col("cum_tokens"), lit(0L)).as("cum_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------- t16
  // BM25 lexical retrieval: Okapi BM25(k1=1.2, b=0.75) top-5 documents
  // per query for a fixed multi-term query set — the canonical sparse
  // retrieval operator (search serving, RAG candidate generation, and
  // the lexical leg of hybrid search). Scale shape: the query-term set
  // is tiny and broadcast, so the per-doc term-frequency aggregation is
  // pre-filtered to query terms BEFORE grouping — the shuffle carries
  // only rows whose term is in some query, not the corpus vocabulary.
  // df per term is computed from that same filtered tf (filtering by
  // term before the doc-count grouping cannot change a retained term's
  // df). Per-term partial scores are DECIMAL-summed (order-independent
  // across the 3-term fold), rounded to 4 dp, and the per-query top-5
  // finisher is `topk_pairs` — map-side k-heap, shuffle = 5·|queries|
  // rows per partition regardless of corpus size (the v01 finisher
  // discipline; a window here would funnel every scored doc through
  // |queries| reducer tasks). Lucene-style idf = ln(1 + (N-df+.5)/(df+.5))
  // keeps scores positive; ties on the ROUNDED score break doc_id ASC in
  // both engines, so the cut is engine-exact.
  /** The fixed retrieval query set: (query_id, term) rows. Tiny by
    * construction — always broadcast, inlined as VALUES in the oracle. */
  val BM25_QUERIES: Seq[(Long, String)] = Seq(
    0L -> "join", 0L -> "hash", 0L -> "merge",
    1L -> "stream", 1L -> "window", 1L -> "batch",
    2L -> "vector", 2L -> "scan", 2L -> "filter")

  private def BM25_QUERY_VALUES: String =
    BM25_QUERIES.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** DuckDB CTE chain ending in `bm25_ranked(query_id, doc_id, score,
    * rank)` — the full-corpus BM25 ranking both t16 and the hybrid
    * fusion (v13) oracles consume; each applies its own rank cut. */
  def BM25_ORACLE_CTES: String =
    s"""qterms(query_id, term) AS (VALUES $BM25_QUERY_VALUES),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents),
      |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
      |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      |          FROM dlen),
      |tf AS (
      |  SELECT t.doc_id, t.term, COUNT(*) AS tf
      |  FROM tok t WHERE t.term IN (SELECT DISTINCT term FROM qterms)
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |bm25_scored AS (
      |  SELECT q.query_id, f.doc_id,
      |    CAST(ln(1 + (s.nd - d.df + 0.5) / (d.df + 0.5))
      |      * (f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
      |      AS DECIMAL(38, 18)) AS part
      |  FROM qterms q
      |  JOIN tf f ON f.term = q.term
      |  JOIN dfreq d ON d.term = q.term
      |  JOIN dlen l ON l.doc_id = f.doc_id
      |  CROSS JOIN stats s),
      |bm25_summed AS (
      |  SELECT query_id, doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 4) AS score
      |  FROM bm25_scored GROUP BY 1, 2),
      |bm25_ranked AS (
      |  SELECT query_id, doc_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id) AS rank
      |  FROM bm25_summed)""".stripMargin

  val t16Bm25: Q = Q(
    "t16_bm25",
    s"""WITH $BM25_ORACLE_CTES
      |SELECT query_id, doc_id, score, rank FROM bm25_ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    bm25TopK(s, docs(s, d), 5)
      .orderBy("query_id", "rank")
  }

  /** BM25(k1=1.2, b=0.75) top-k per query over `docs`; emits
    * (query_id, doc_id, score, rank). Shared by t16 and the hybrid
    * fusion (v13): the lexical leg of retrieval. */
  def bm25TopK(
      s: org.apache.spark.sql.SparkSession,
      docsDf: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    // This two-leg explode shape is the measured winner — two r15
    // rewrites lost to it at sf10 (500k docs) and are NOT in the tree:
    //  1. per-term tf via 9 `filter()` higher-order functions per row
    //     (no explode at all): 0.88× at sf0.1 but 24.1 s vs ~7 s at
    //     sf10 — HOFs are interpreted per element (guide §4), the
    //     explode+groupBy is whole-stage codegen;
    //  2. map-side dl = size(tokens) replacing dlen's explode+groupBy:
    //     1.33× at sf10 (1.42× with dlen persisted) — dlen's terminal
    //     Exchange is computed ONCE and reused by ReuseExchange across
    //     its two consumers (stats + scoring join), which the map-only
    //     form forfeits, re-tokenizing per consumer.
    val tok = docsDf.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dlen = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // pre-filter to query terms before grouping: shuffle is query-term
    // rows only, and df per retained term is unchanged by the filter
    val qterms = s.createDataFrame(BM25_QUERIES).toDF("query_id", "term")
    val tf = tok
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    bm25Score(s, tf, dlen, k)
  }

  /** The BM25 scoring tail over an INDEX: `postings(doc_id, term, tf)`
    * (may be pre-filtered to query terms) and `dlen(doc_id, dl)`. This
    * is what serves from a materialized index — the streaming-
    * maintained postings tables ([[graft.streaming.Streams.bm25IndexSink]])
    * plug in here with no re-tokenization. */
  def bm25Score(
      s: org.apache.spark.sql.SparkSession,
      postings: org.apache.spark.sql.DataFrame,
      dlen: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.expressions.TopKPairs.topk_pairs
    val qterms = s.createDataFrame(BM25_QUERIES).toDF("query_id", "term")
    val stats = dlen.agg(
      count(lit(1)).cast("double").as("nd"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = postings
      .join(broadcast(qterms.select("term").distinct()), "term")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val part = (
      log(lit(1) + (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        * (col("tf") * lit(2.2))
        / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      ).cast(DecimalType(38, 18))
    val scored = broadcast(qterms)
      .join(tf, "term")
      .join(broadcast(dfreq), "term")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), part.as("part"))
    val summed = scored.groupBy("query_id", "doc_id")
      .agg(round(sum("part").cast("double"), 4).as("score"))
    summed.groupBy("query_id")
      .agg(topk_pairs(col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).as("rank"))
  }

  // ---------------------------------------------------------------- t17
  // Model-scored quality filtering: a logistic regression over the t02
  // feature vector with FIXED weights — the modern replacement for
  // hand-threshold heuristics (fastText/LR quality classifiers in
  // production curation stacks; here the weights are illustrative
  // constants, the PLUMBING is the operator). Pure column math —
  // map-only, embarrassingly parallel, the score is one fused
  // expression inside whole-stage codegen; at 100 TB this is a
  // streaming-friendly scan with zero shuffle before the final sort.
  // Cross-engine float discipline: features round to 4 dp FIRST (so
  // both engines feed identical doubles into the link function), the
  // single exp() is ≤1 ulp cross-engine and the 4 dp round of the
  // probability absorbs it (the t11/t13 ln discipline, applied to
  // exp). Ties on the ROUNDED probability can't flip the boolean
  // (threshold 0.5 is never a 4 dp rounding boundary of a tie here —
  // and the decision column replays in SQL identically either way).
  val t17QualityModel: Q = Q(
    "t17_quality_model",
    """WITH f AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok,
      |    ROUND(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |          / NULLIF(length(text), 0), 4) AS punct_ratio
      |  FROM documents),
      |feat AS (
      |  SELECT doc_id,
      |    len(tok) AS n_tokens, punct_ratio,
      |    ROUND(CAST(len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |          / NULLIF(len(tok), 0), 4) AS stopword_ratio,
      |    ROUND(ln(1 + len(tok)), 4) AS log_len
      |  FROM f),
      |scored AS (
      |  SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
      |    ROUND(1 / (1 + exp(-(-2.0 + 0.55 * log_len
      |      - 6.0 * punct_ratio + 9.0 * stopword_ratio))), 4) AS p_quality
      |  FROM feat)
      |SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, p_quality,
      |  p_quality >= 0.5 AS keep
      |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stops = Seq("the", "a", "of", "and", "to")
    val base = docs(s, d).select(
      col("doc_id"), tokens(col("text")).as("tok"),
      punctRatio(col("text")).as("punct_ratio"))
    val feat = base.select(
      col("doc_id"),
      size(col("tok")).cast("bigint").as("n_tokens"),
      col("punct_ratio"),
      round(markerHits(col("tok"), stops).cast("double")
        / nullif(size(col("tok")).cast("bigint"), lit(0)), 4)
        .as("stopword_ratio"),
      round(log(lit(1) + size(col("tok"))), 4).as("log_len"))
    val z = lit(-2.0) + lit(0.55) * col("log_len") -
      lit(6.0) * col("punct_ratio") + lit(9.0) * col("stopword_ratio")
    sortShared(feat
      .withColumn("p_quality", round(lit(1) / (lit(1) + exp(-z)), 4))
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("stopword_ratio"), col("p_quality"),
        (col("p_quality") >= 0.5).as("keep")))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(
    t01TokenStats, t02QualityScore, t03LangId, t04Fingerprint,
    t05TokenHistogram, t06BpeTokens, t07RollingFingerprint,
    t08Repetition, t09PiiScrub, t10Novelty, t11Perplexity, t12BpeMerges,
    t13Tfidf, t14CorpusLaws, t15VocabGrowth, t16Bm25, t17QualityModel)
}
