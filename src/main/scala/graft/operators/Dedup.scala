package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Document deduplication operators (BASELINE north star — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design (100 TB): every step is a narrow column expression or a
  * shuffle keyed on high-cardinality values (shingle, LSH bucket), never a
  * cross join. MinHash signatures are computed with per-row array
  * expressions (`array_min(transform(...))`) — zero shuffle, one pass over
  * the corpus — and candidate generation joins only within LSH buckets, so
  * the pair space is bounded by bucket occupancy rather than n².
  */
object Dedup {

  /** Exact-duplicate groups keyed on content hash. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(idCol).as("keeper_doc_id"))

  /** (id, sh: array<string>) — distinct k-shingle set per document. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    docs.select(col(idCol), TextFns.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)

  /** MinHash signature via Kirsch-Mitzenmacher double hashing: each
    * shingle is md5'd ONCE; two 40-bit halves of the digest (h1, h2)
    * expand into the whole hash family as h_i = h1 + i·h2 (values stay
    * < 2^45, exact in both engines' 64-bit ints — wider halves would
    * overflow DuckDB BIGINT where Spark silently wraps). Reproducible in
    * any engine, 16× fewer digest computations than seed-salted md5. */
  def withSignature(shingled: DataFrame, numHashes: Int = 16): DataFrame = {
    val sig = graft.functions.expressions.MinHashSignature.minhash_signature(
      transform(col("sh"), x => md5(x)), numHashes)
    shingled.select((shingled.columns.map(col) :+ sig.as("mh")): _*)
  }

  /** (id, band, sig): one LSH bucket key per band — md5 over the band's
    * minhash slice. Docs sharing any (band, sig) are candidates. */
  def lshBuckets(signed: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("mh"), i + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("sig"))
    }
    signed.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Default LSH bucket-occupancy cap: the corpus' healthy buckets are
    * tiny (max 17 members at sf0.1, mean 1.9), so 256 never binds on
    * real near-dup clusters while bounding the degenerate case. */
  val DefaultMaxBucket = 256

  /** Distinct candidate pairs (i < j) from shared LSH buckets, with a
    * bucket-occupancy guard: a bucket holding more than `maxBucket`
    * docs (degenerate content — empty/boilerplate docs all hashing
    * identically) would contribute O(B²) pairs and go quadratic at
    * corpus scale. Oversized buckets instead emit a STAR — bucket-min
    * id paired with every other member — so their pair count is O(B).
    *
    * What the star trade PRESERVES and what it gives up, precisely:
    * star CANDIDATES keep every member attached to the bucket-min doc,
    * but downstream verification still applies — so cluster
    * connectivity survives exactly when the star edges pass the
    * jaccard threshold. For the degenerate case the cap targets
    * (identical/near-identical docs flooding one bucket) they do
    * (jaccard ≈ 1, spec-proven identical clusters); for a merely
    * LOOSELY similar oversized bucket, pairs not through the bucket
    * min are not enumerated and clusters can split — the cap is an
    * explicit work-bound switch, not a free lunch. The DuckDB oracle
    * replays this exact occ/star construction (bstats CTE), so engine
    * and oracle agree even at a scale where the cap binds. Healthy
    * buckets (measured max 17 at any test SF vs the default 256) are
    * unaffected. Both occupancy and bucket-min come from one window
    * pass over the bucket key — no second aggregate-and-join stage. */
  def lshCandidates(buckets: DataFrame, idCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val occed = buckets
      .withColumn("__occ", count(lit(1)).over(w))
      .withColumn("__min", min(col(idCol)).over(w))
    val small = occed.filter(col("__occ") <= maxBucket)
    val clique = small.select(col("band"), col("sig"), col(idCol).as("i"))
      .join(small.select(col("band"), col("sig"), col(idCol).as("j")),
        Seq("band", "sig"))
      .filter(col("i") < col("j"))
      .select("i", "j")
    val star = occed
      .filter(col("__occ") > maxBucket && col(idCol) =!= col("__min"))
      .select(col("__min").as("i"), col(idCol).as("j"))
    clique.union(star).distinct()
  }

  /** Inverted index: one (id, n, s) row per document shingle, with the
    * document's set size attached BEFORE the explode. Carrying the scalar
    * size through the index join costs 4 bytes per shuffle row and
    * eliminates two whole join stages (plus their recomputation of the
    * shingle projection) that a separate size lookup would need.
    *
    * Persisted: every caller feeds BOTH legs of a self-join, so without
    * this the scan + shingle expression evaluates twice. Unlike the
    * round-2 shingle-ARRAY persist (100k+ array objects → eviction
    * thrash), the exploded row form is flat columnar bytes — megabytes
    * at bench scale. At cluster scale the index is ~the tokenized
    * corpus: MEMORY_AND_DISK spills instead of evicting, and recompute
    * (the fallback if blocks drop) stays correct. */
  private def invertedIndex(shingled: DataFrame, idCol: String): DataFrame =
    graft.CacheScope.persist(
      shingled.select(col(idCol), size(col("sh")).as("n"), explode(col("sh")).as("s")))

  /** jaccard = common / (ni + nj − common), given per-pair common counts
    * with both set sizes already aggregated alongside. */
  private def jaccardCol: Column =
    col("common") * lit(1.0) / (col("ni") + col("nj") - col("common"))

  /** Exact Jaccard over the distinct shingle sets for given (i, j) pairs:
    * common counts come from a shingle-keyed join (no shingle arrays are
    * carried through the shuffle — only (id, size, shingle) rows). */
  def jaccardFor(pairs: DataFrame, shingled: DataFrame, idCol: String): DataFrame =
    jaccardForOnIndex(pairs, invertedIndex(shingled, idCol), idCol)

  /** [[jaccardFor]] over a prebuilt (persisted) inverted index. */
  private def jaccardForOnIndex(pairs: DataFrame, ex: DataFrame,
      idCol: String): DataFrame =
    pairs
      .join(ex.select(col(idCol).as("i"), col("n").as("ni"), col("s")), "i")
      .join(ex.select(col(idCol).as("j"), col("n").as("nj"), col("s")), Seq("j", "s"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("common"), max("ni").as("ni"), max("nj").as("nj"))
      .select(col("i"), col("j"), jaccardCol.as("jaccard"))

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → bucket
    * join → exact-Jaccard verification at `threshold`. The shingle set is
    * deliberately NOT persisted: recomputing the column-only projection
    * is cheaper than materializing 100k+ string arrays into executor
    * memory (a persist here caused cache-eviction thrash measured at
    * 2–3× the whole query's runtime under bench memory pressure). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val shingled = shingleSets(docs, idCol, textCol)
    val signed = withSignature(shingled, numHashes)
    val cand = lshCandidates(
      lshBuckets(signed, idCol, bands, numHashes / bands), idCol, maxBucket)
    // the verification index builds from its OWN widened shingle pass
    // (the d02 index-build shape: the persist materializes once, so only
    // that one explode is widened; `shingled` above stays un-widened —
    // widening the signature path A/B'd 1.54× slower in round 14)
    jaccardFor(cand, shingleSets(Par.wide(docs), idCol, textCol), idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard via a shingle-inverted-index join: common
    * counts straight from the (shingle ⋈ shingle) self-join — only pairs
    * sharing ≥1 shingle ever exist (shuffle keyed on shingle, no cross
    * join, no candidate-list detour). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame =
    ngramJaccardPairsOnIndex(
      invertedIndex(shingleSets(docs, idCol, textCol, k), idCol),
      idCol, threshold)

  /** [[ngramJaccardPairs]] body over a prebuilt (persisted) inverted
    * index — shared with the adaptive path so the plan decision and the
    * chosen branch read ONE index materialization. */
  private def ngramJaccardPairsOnIndex(ex: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    ex.select(col(idCol).as("i"), col("n").as("ni"), col("s"))
      .join(ex.select(col(idCol).as("j"), col("n").as("nj"), col("s")), "s")
      .filter(col("i") < col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("common"), max("ni").as("ni"), max("nj").as("nj"))
      .select(col("i"), col("j"), jaccardCol.as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Lossless prefix-filtered exact Jaccard (the AllPairs/PPJoin prefix
    * principle — Bayardo et al. WWW'07, Xiao et al. WWW'08): order each
    * document's shingles by GLOBAL rarity (document frequency, then
    * value); a pair with Jaccard ≥ t must share a shingle within each
    * side's first n − ⌈t·n⌉ + 1 shingles, so only those prefix rows
    * enter the candidate self-join. Rare-first ordering makes prefixes
    * collide almost only for genuinely similar pairs — the frequent
    * "stop shingles" that drive the Σ occ(s)² blowup of the plain
    * inverted index never reach the join. Survivors are verified with
    * the exact full-set Jaccard, so output ≡ [[ngramJaccardPairs]]
    * (spec-asserted), while the candidate pair space shrinks by the
    * prefix factor squared.
    *
    * The ε in the prefix bound absorbs float error in t·n: an error can
    * then only LENGTHEN a prefix (more candidates, never a lost pair).
    *
    * The candidate join also applies PPJoin's LENGTH filter — jaccard
    * ≥ t forces min(ni, nj) ≥ t·max(ni, nj), since the intersection is
    * at most the smaller set — before the distinct. Lossless like the
    * prefix bound (ε on the same side: float error only ADMITS more
    * candidates), and decisive at corpus scale: coincidental prefix
    * collisions between very differently-sized documents are exactly
    * the candidates that survive the prefix filter and then feed the
    * verification join's (pairs × |shingles|) fan-out — measured at
    * sf10 (500k docs), the length filter is what keeps that stage's
    * shuffle bounded. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    val shingled = shingleSets(docs, idCol, textCol, k)
    ngramJaccardPairsPrefixOnIndex(invertedIndex(shingled, idCol), idCol,
      threshold)
  }

  /** [[ngramJaccardPairsPrefix]] body over a prebuilt (persisted)
    * inverted index — shared with the adaptive path. */
  private def ngramJaccardPairsPrefixOnIndex(ex: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val cand = prefixCandidatesOnIndex(ex, idCol, threshold)
    jaccardForOnIndex(cand, ex, idCol).filter(col("jaccard") >= threshold)
  }

  /** The prefix plan's candidate-pair stage (split out so scale proofs
    * can measure the candidate volume the verification join pays). */
  private[graft] def ngramJaccardPrefixCandidates(shingled: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    prefixCandidatesOnIndex(invertedIndex(shingled, idCol), idCol, threshold)

  /** [[ngramJaccardPrefixCandidates]] over a prebuilt inverted index. */
  private def prefixCandidatesOnIndex(ex: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val docFreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("df", "s")
    val prefix = ex.join(docFreq, "s")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
    prefix.select(col(idCol).as("i"), col("n").as("ni"), col("s"))
      .join(prefix.select(col(idCol).as("j"), col("n").as("nj"), col("s")), "s")
      .filter(col("i") < col("j"))
      .filter(col("nj") >= lit(threshold) * col("ni") - lit(1e-9) &&
        col("ni") >= lit(threshold) * col("nj") - lit(1e-9))
      .select("i", "j").distinct()
  }

  /** df-adaptive exact n-gram Jaccard: ONE aggregate over the shingle
    * inverted index computes the direct join's candidate volume
    * Σ df·(df−1)/2 (the exact number of (i, j, shingle) rows the plain
    * index self-join shuffles) AND the share of that volume carried by
    * HOT shingles (df > `hotDfCap`), then picks the physical plan.
    * The prefix plan runs only when BOTH hold:
    *
    *  - volume > `maxDirectPairs`: below it the direct join's
    *    intermediate is small in absolute terms and its two stages
    *    beat the prefix plan's five (measured 3× faster on the test
    *    corpus, whose volume is 1.3M rows);
    *  - hot-shingle volume ≥ `hotFraction` of the total: the prefix
    *    plan's ONLY advantage is stripping high-df stop shingles from
    *    the join — its own verification stage fans each surviving
    *    candidate pair out by the document's whole shingle set. When
    *    the volume is spread over MANY medium-df shingles instead
    *    (measured at sf10, 500k docs: volume 266M with max df ≈ 50 —
    *    zero hot share), the prefix filter strips nothing, 62M
    *    candidates survive, and the verification join would shuffle
    *    ~70× the rows the direct join does. Hot-share is the axis that
    *    separates "big because the corpus is big" (direct scales
    *    linearly — shuffle more machines) from "big because of
    *    boilerplate df²" (prefix is the only plan that survives).
    *
    * Both branches are output-identical (spec-proven), so the choice is
    * pure physics; since round 14 the decision aggregates over the SAME
    * persisted inverted index the chosen branch joins on (one shingle
    * pass over the corpus total, not two — the decision action is also
    * what materializes the index cache the branch then reads). The
    * exploded-row index is the flat columnar form whose persist is
    * cheap; the round-2 "recompute, don't persist" lesson applied to
    * shingle ARRAYS, which are still never cached.
    *
    * At 100 TB even the decision pass matters: `statsSampleRate` < 1
    * runs it on a content-stable hash sample of the DOCUMENTS and
    * scales the observed volume by 1/rate² (doc-sampling thins each
    * df binomially, so E[df'(df'−1)/2] = rate²·df(df−1)/2 — an
    * unbiased estimator; the df > hotDfCap cut thins with the sample
    * at the same rate, biasing the hot SHARE down only near the cut).
    * Estimator noise can only flip WHICH plan runs near the crossover,
    * never what it returns — the branches are output-identical — so
    * sampling is always safe; the default stays exact (1.0) to keep
    * the chosen plan run-deterministic. */
  def ngramJaccardPairsAdaptive(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3,
      maxDirectPairs: Long = 50_000_000L,
      statsSampleRate: Double = 1.0,
      hotDfCap: Int = 100,
      hotFraction: Double = 0.5): DataFrame = {
    // widened ahead of the shingle explode that materializes the ONE
    // persisted index (guide §2.5: the shingle expression is per-row
    // heavy and the scan unsplittable; Par.wide no-ops at realistic
    // layouts). Narrow by design: only the index build widens — the
    // blanket shingle-site widening A/B'd slower in round 14.
    val ex = invertedIndex(shingleSets(Par.wide(docs), idCol, textCol, k), idCol)
    val (candVolume, hotVolume) = volumesFromExploded(
      ex.select(col(idCol), col("s")), idCol, statsSampleRate, hotDfCap)
    if (candVolume > maxDirectPairs &&
        hotVolume >= hotFraction * candVolume)
      ngramJaccardPairsPrefixOnIndex(ex, idCol, threshold)
    else
      ngramJaccardPairsOnIndex(ex, idCol, threshold)
  }

  /** The df-adaptive PLAN DECISION, split out so specs can pin the
    * boundary constants without plan-shape archaeology (the branches
    * are output-identical by design). True ⇒ prefix plan. */
  private[graft] def ngramPlanChoosesPrefix(docs: DataFrame, idCol: String,
      textCol: String, k: Int, maxDirectPairs: Long,
      statsSampleRate: Double, hotDfCap: Int,
      hotFraction: Double): Boolean = {
    val (candVolume, hotVolume) = directJoinCandidateVolumes(
      docs, idCol, textCol, k, statsSampleRate, hotDfCap)
    candVolume > maxDirectPairs && hotVolume >= hotFraction * candVolume
  }

  /** The df-adaptive decision measure, exposed for scale-proof
    * instrumentation: the EXACT number of (i, j, shingle) rows the
    * plain inverted-index self-join would shuffle, Σ df·(df−1)/2 over
    * the corpus' shingle document frequencies (estimated from a
    * doc-sampled subset when `statsSampleRate` < 1 — see
    * [[ngramJaccardPairsAdaptive]] for the unbiasedness argument). */
  def directJoinCandidateVolume(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 3, statsSampleRate: Double = 1.0): Long =
    directJoinCandidateVolumes(docs, idCol, textCol, k, statsSampleRate,
      hotDfCap = Int.MaxValue)._1

  /** [[directJoinCandidateVolume]] plus the share carried by HOT
    * shingles (df > `hotDfCap`) — both from the same single aggregate.
    * Returns (total volume, hot volume). */
  def directJoinCandidateVolumes(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 3, statsSampleRate: Double = 1.0,
      hotDfCap: Int = 100): (Long, Long) = {
    // the id-hash sample filter references only idCol, so Catalyst
    // pushes it below the shingle projection — the standalone decision
    // API scans ONLY the sampled documents, as before the round-14
    // shared-index refactor
    val exploded = shingleSets(docs, idCol, textCol, k)
      .select(col(idCol), explode(col("sh")).as("s"))
    volumesFromExploded(exploded, idCol, statsSampleRate, hotDfCap)
  }

  /** The volumes estimator over an exploded (id, …, s) shingle frame —
    * shared by the standalone decision API above (fresh projection) and
    * [[ngramJaccardPairsAdaptive]] (the persisted inverted index the
    * chosen branch reads anyway). Sampling semantics identical: the
    * id-hash bucket filter selects the same document subset whether it
    * runs below the shingle projection or over the index rows. */
  private def volumesFromExploded(exploded: DataFrame, idCol: String,
      statsSampleRate: Double, hotDfCap: Int): (Long, Long) = {
    require(statsSampleRate >= 0.0001 && statsSampleRate <= 1.0,
      s"statsSampleRate must be in [0.0001, 1]: $statsSampleRate")
    // 10 000 hash buckets, not Mix.hashBucket's 100: a rate below (or
    // between) 1% bucket boundaries would otherwise select a coarser
    // actual sample than requested while still scaling by 1/rate² —
    // inflating the estimate by (actual/requested)². With 0.01%
    // granularity the worst-case mismatch is bounded at rates ≥ 1%.
    val nBuckets = math.max(1L, (statsSampleRate * 10000).round)
    // the estimator divides by the rate the filter ACTUALLY selects
    // (rounded bucket count / 10 000), never the requested one
    val effRate = if (statsSampleRate >= 1.0) 1.0 else nBuckets / 10000.0
    val stat =
      if (statsSampleRate >= 1.0) exploded
      else exploded.filter(
        conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long") % 10000 < nBuckets)
    // the hot cut scales with the sample too: a df observed at rate r
    // estimates df/r, so the cut applies at hotDfCap·r in sample space
    val sampledCap =
      if (statsSampleRate >= 1.0 || hotDfCap == Int.MaxValue) hotDfCap.toLong
      else math.max(1L, (hotDfCap * effRate).round)
    val row = stat.select(col("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df") * (col("df") - 1) / 2), lit(0L))
          .cast("long").as("vol"),
        coalesce(sum(when(col("df") > sampledCap,
          col("df") * (col("df") - 1) / 2).otherwise(lit(0L))), lit(0L))
          .cast("long").as("hot"))
      .head()
    ((row.getLong(0) / (effRate * effRate)).toLong,
      (row.getLong(1) / (effRate * effRate)).toLong)
  }

  /** 64-bit SimHash from token xxhash64 bits (engine-native hashing — not
    * oracle-reproducible, verified by unit test + rows-only check).
    * Computed by the fused native expression (one token-array pass; the
    * 64-separate-aggregates formulation was 64 array walks per doc). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.expressions.SimHash64.simhash64(
        array_distinct(TextFns.tokens(col(textCol)))).as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Oracle-reproducible SimHash: 60-bit md5-derived token hashes fed to
    * the SimHashBits expression — any engine computes the identical
    * signature (DuckDB replays it in SQL), unlike the xxhash64 variant.
    * 15 hex chars = 60 bits keeps every value inside signed BIGINT. */
  def simhashMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.expressions.SimHashBits.simhash_bits(
        transform(array_distinct(TextFns.tokens(col(textCol))),
          t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))).as("simhash"))

  /** Connected components over an undirected pair list `(i, j)` —
    * the pairs→clusters step every dedup pipeline needs before it can
    * pick one keeper per duplicate group. Min-label propagation: each
    * node starts labeled with its own id and repeatedly takes the min
    * of its own and its neighbors' labels until a fixpoint; the final
    * label is the component's minimum id (deterministic).
    *
    * Scale: one equi-join + partial/final min-aggregation per round,
    * all keyed on node id — no driver-side graph. Rounds needed = graph
    * diameter, and near-dup clusters are dense (pairs come from shared
    * buckets), so diameter stays small even when clusters are huge; the
    * per-round persist keeps lineage flat (the doubled-plan blowup of
    * naive iteration) and holds only (id, lbl) pairs for docs that
    * appear in SOME pair — a tiny fraction of the corpus.
    *
    * Returns (id, cluster_rep). Singletons (docs in no pair) are not
    * emitted — they are their own keeper by definition.
    *
    * If the fixpoint is NOT reached within `maxIter` rounds the labels
    * are only partially propagated — components would come back wrongly
    * split. That never passes silently: `strict = true` throws,
    * `strict = false` (default) logs a WARN naming the iteration budget.
    * The final labels frame is registered with [[graft.CacheScope]];
    * wrap consumption in `CacheScope.withScope` to release it.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 64,
      strict: Boolean = false): DataFrame = {
    val edges = graft.CacheScope.persist(
      pairs.select(col("i").as("a"), col("j").as("b"))
        .union(pairs.select(col("j").as("a"), col("i").as("b"))))
    // `cached` always holds the ACTUAL persisted Dataset (unpersist on a
    // derived Projection is a silent no-op — it uncaches nothing).
    // Seed lbl = min(id, min neighbor id): EXACTLY the state the first
    // propagation round would produce from the identity labeling, but
    // from the same single aggregate that enumerates the ids — so the
    // loop starts one round ahead (one join + one convergence count
    // saved; star-shaped dup clusters converge in the very next check).
    var cached = graft.CacheScope.persist(
      edges.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("mb"))
        .select(col("id"), least(col("id"), col("mb")).as("lbl")))
    var labels = cached
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("lbl").as("nl")), "b")
        .groupBy(col("a").as("id")).agg(min("nl").as("nbl"))
      val next = graft.CacheScope.persist(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("lbl"),
            least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("nlbl")))
      // count(), not isEmpty: take(1) materializes only the partitions
      // it touches, leaving `next`'s cache partial — every later
      // iteration then re-derives the missing partitions from lineage.
      // A count scans (and therefore caches) every partition once.
      converged = next.filter(col("nlbl") < col("lbl")).count() == 0L
      labels = next.select(col("id"), col("nlbl").as("lbl"))
      cached.unpersist(false)
      cached = next
    }
    edges.unpersist(false)
    if (!converged) {
      val msg = s"connectedComponents stopped at maxIter=$maxIter without " +
        "converging — labels are partially propagated and clusters may be " +
        "wrongly split; raise maxIter (rounds needed = graph diameter)"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels
  }

  /** Duplicate clusters with sizes: (doc_id, cluster_rep, cluster_size)
    * for every document that participates in at least one near-dup pair. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
  }

  /** Blocked Hamming self-join: candidates share the signature's top
    * block (a keyed equi-join — near-identical docs agree on the prefix
    * with high probability; multi-block OR-amplification is the scale
    * lever, same trade as LSH bands).
    *
    * Block-occupancy guard — the same occ/star construction as
    * [[lshCandidates]]: a block holding more than `maxBlock` signatures
    * (degenerate content — empty/boilerplate docs collapsing to one
    * simhash prefix) would contribute O(B²) pairs and go quadratic at
    * corpus scale. Oversized blocks instead emit a STAR — block-min id
    * paired with every other member, O(B) pairs — and the Hamming
    * filter still applies to every star edge, so for the degenerate
    * case the cap targets (identical docs, hamming 0) cluster
    * connectivity survives intact; for a merely loosely-similar
    * oversized block, pairs not through the block min are not
    * enumerated — an explicit work-bound switch, exactly the LSH
    * trade. The d05 DuckDB oracle replays this exact construction, so
    * engine and oracle agree even at a scale where the cap binds.
    * Both occupancy and block-min (with ITS signature, needed for the
    * star edges' Hamming distances) come from one window pass over the
    * block key — no second aggregate-and-join stage. */
  def simhashPairs(sh: DataFrame, idCol: String, shiftBits: Int,
      maxHamming: Int, maxBlock: Int = DefaultMaxBucket): DataFrame = {
    // both legs of the self-join read the signatures: persist the tiny
    // (id, simhash) PROJECTION — an operator-owned frame, never the
    // caller's `sh` itself (persisting an argument as a side effect
    // would hand the caller a surprise cache entry) — so the per-token
    // hash pass runs once, not twice; CacheScope tracks the lifecycle
    val cached = graft.CacheScope.persist(
      sh.select(col(idCol), col("simhash")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("blk")
    // min(struct(id, sig)) orders by id first: the block-min ROW, so the
    // star edges get the min doc's signature without a join back
    val occed = cached
      .withColumn("blk", shiftright(col("simhash"), shiftBits))
      .withColumn("__occ", count(lit(1)).over(w))
      .withColumn("__mn", min(struct(col(idCol).as("id"),
        col("simhash").as("sig"))).over(w))
    val small = occed.filter(col("__occ") <= maxBlock)
    val clique = small
      .select(col("blk"), col(idCol).as("i"), col("simhash").as("ha"))
      .join(small.select(col("blk"), col(idCol).as("j"),
        col("simhash").as("hb")), Seq("blk"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("ha"), col("hb"))
    // block-min id < every other member's id, so i < j holds on stars too
    val star = occed
      .filter(col("__occ") > maxBlock && col(idCol) =!= col("__mn.id"))
      .select(col("__mn.id").as("i"), col(idCol).as("j"),
        col("__mn.sig").as("ha"), col("simhash").as("hb"))
    clique.union(star)
      .select(col("i"), col("j"),
        hamming(col("ha"), col("hb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-document shared-substring spans — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * primitive, winnowed instead of suffix-array'd so it stays
    * Spark-shaped. One scan computes positioned winnowing fingerprints
    * ([[graft.functions.expressions.RollingFingerprintPos]]: t07's exact
    * hash stream + the leftmost-of-min position rule), one keyed join on
    * fp aligns documents, and spans fall out of grouping matches by
    * position offset (pi − pj is constant along a shared substring) and
    * merging runs with gaps ≤ `maxGap` (window+stride: consecutive
    * selected fingerprints of one substring can sit at most that far
    * apart).
    *
    * Scale: candidates exist only where fingerprints collide — never an
    * all-pairs stage. Boilerplate fingerprints (occurring more than
    * `maxOcc` times corpus-wide) are dropped before pairing, the same
    * occupancy-cap move as the LSH buckets (Dedup.scala:82), bounding any
    * single fp's pair fan-out at maxOcc²/2. The span window partitions on
    * (i, j, offset) — per-pair state, trivially balanced.
    *
    * Output: (i, j, start_i, start_j, span_len, n_fps) — doc j's
    * substring [start_j, start_j+span_len) repeats doc i's
    * [start_i, start_i+span_len) (0-based bytes; i < j), witnessed by
    * n_fps ≥ `minFps` aligned fingerprints.
    */
  def substringSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 16, stride: Int = 8,
      maxOcc: Int = 64, maxGap: Int = 24, minFps: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.expressions.RollingFingerprint.rolling_fingerprint_pos
    // widened ahead of the rolling-hash pass: the winnowing fingerprint
    // (polynomial hash over every char + min-window) is the heaviest
    // per-row stage in the engine, and on an unsplittable scan it runs
    // on one core (guide §2.5; Par.wide no-ops at realistic layouts)
    // persisted: the occurrence-cap aggregate and both join legs read the
    // positioned fingerprints — three evaluations of the scan without it
    val fps = graft.CacheScope.persist(
      Par.wide(docs).select(col(idCol).as("doc_id"),
          explode(rolling_fingerprint_pos(col(textCol), window, stride)).as("sp"))
        .select(col("doc_id"), col("sp.fp").as("fp"), col("sp.pos").as("p")))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc).select("fp")
    val cool = fps.join(hot, Seq("fp"), "left_anti")
    val a = cool.select(col("doc_id").as("i"), col("fp"), col("p").as("pi"))
    val b = cool.select(col("doc_id").as("j"), col("fp"), col("p").as("pj"))
    val w = Window.partitionBy("i", "j", "off").orderBy("pi")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.join(b, "fp").filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("pi"),
        (col("pi") - col("pj")).as("off"))
      .withColumn("prev", lag("pi", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pi") - col("prev") > maxGap, 1)
          .otherwise(0))
      .withColumn("span_id", sum("brk").over(cum))
      .groupBy("i", "j", "off", "span_id")
      .agg(min("pi").as("mn"), max("pi").as("mx"), count(lit(1)).as("n_fps"))
      .filter(col("n_fps") >= minFps)
      .select(col("i"), col("j"), col("mn").cast("long").as("start_i"),
        (col("mn") - col("off")).cast("long").as("start_j"),
        (col("mx") + lit(window) - col("mn")).cast("long").as("span_len"),
        col("n_fps"))
  }
}
