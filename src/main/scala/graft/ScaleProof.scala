package graft

import org.apache.spark.sql.functions._

/** Scale-proof instrumentation: measures, at a given SF directory, the
  * quantities that decide the dedup scale machinery's behavior — the
  * df-adaptive plan decision volume (direct vs prefix), LSH bucket
  * occupancy vs the occ/star cap, simhash block occupancy vs the same
  * cap, and winnowing-fingerprint occurrence vs d09's boilerplate cap —
  * so SCALE.md records whether the guards BIND at 10–100× the committed
  * oracle gate instead of arguing they would. Prints ONE JSON line.
  *
  * Usage: runMain graft.ScaleProof <sfDir>
  */
object ScaleProof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf10")
    val spark = Harness.session()
    import graft.operators.Dedup

    val docs = Tables.t(spark, sfDir, "documents")
    val nDocs = docs.count()

    // d02: the df-adaptive decision — the EXACT candidate-row count the
    // direct inverted-index join would shuffle, its hot-shingle share,
    // and the plan the two-axis rule selects
    val (vol, hotVol) =
      Dedup.directJoinCandidateVolumes(docs, "doc_id", "text")
    val volSampled =
      Dedup.directJoinCandidateVolume(docs, "doc_id", "text",
        statsSampleRate = 0.05)
    val plan =
      if (vol > 50_000_000L && hotVol >= 0.5 * vol) "prefix" else "direct"

    // d02 prefix plan: the candidate-pair volume its verification join
    // pays (pairs × |shingles| fan-out) — with the PPJoin length
    // filter this must stay near the REAL pair count, not the raw
    // prefix-collision count
    val prefixCands = Dedup.ngramJaccardPrefixCandidates(
      Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.5).count()

    // d03/d06/d07: LSH bucket occupancy against the occ/star cap
    def occStats(grouped: org.apache.spark.sql.DataFrame, cap: Long)
        : (Long, Long, Long) = {
      val o = graft.CacheScope.persist(grouped)
      val mx = o.agg(max("n")).head().getLong(0)
      val over = o.filter(col("n") > cap).count()
      val total = o.count()
      o.unpersist()
      (mx, over, total)
    }
    val buckets = Dedup.lshBuckets(
      Dedup.withSignature(Dedup.shingleSets(docs, "doc_id", "text"), 16),
      "doc_id", bands = 4, rowsPerBand = 4)
    val (lshMax, lshOver, lshTotal) = occStats(
      buckets.groupBy("band", "sig").agg(count(lit(1)).as("n")),
      Dedup.DefaultMaxBucket)

    // d05: simhash block occupancy (the d05 shape — 60-bit md5 sigs,
    // top 16 bits) against the same cap
    val sh = Dedup.simhashMd5(docs, "doc_id", "text")
    val (blkMax, blkOver, blkTotal) = occStats(
      sh.select(shiftright(col("simhash"), 44).as("blk"))
        .groupBy("blk").agg(count(lit(1)).as("n")),
      Dedup.DefaultMaxBucket)

    // d09: winnowing fingerprint occurrence against the maxOcc=64
    // boilerplate cap (fingerprints above it are DROPPED pre-pairing)
    import graft.functions.expressions.RollingFingerprint.rolling_fingerprint_pos
    val (fpMax, fpOver, fpTotal) = occStats(
      docs.select(explode(
          rolling_fingerprint_pos(col("text"), 16, 8)).as("sp"))
        .select(col("sp.fp").as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n")),
      64L)

    // v02: the sign-LSH bits-scale-with-log(n) lever — REGISTERED as of
    // round 14 (Similarity.adaptiveLshBits sizes the geometry; the
    // DuckDB oracle replays the same integer rule from COUNT(*)). The
    // proof runs the registered adaptive path and, best-effort, the old
    // pinned-8-bit shape it replaced, so the ledger keeps the measured
    // gap between them at this corpus size.
    import graft.operators.Similarity
    val vecs = Tables.t(spark, sfDir, "embeddings")
    val nVecs = vecs.count()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val scaledBits = Similarity.adaptiveLshBits(nVecs)
    spark.catalog.clearCache()
    val (pairsScaled, wallScaled) =
      timed(Similarity.nearDupPairsLshAdaptive(vecs, 0.4).count())
    // the retired 8-bit shape crams n/256 members per bucket at large n
    // — its candidate set may exceed this box's spill disk (that
    // overload is exactly what the adaptive rule removes), so the
    // measurement is best-effort: a failure records -1, it does not
    // kill the proof
    spark.catalog.clearCache()
    val (pairs8, wall8) =
      try timed(Similarity.nearDupPairsLsh(vecs, 0.4).count())
      catch { case e: Throwable =>
        System.err.println(s"[proof] v02 8-bit baseline failed: " +
          s"${e.getMessage}")
        (-1L, -1.0)
      }

    println(
      s"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""v02_bits8_pairs":$pairs8,"v02_bits8_wall":$wall8,""" +
      s""""v02_scaled_bits":$scaledBits,""" +
      s""""v02_scaled_pairs":$pairsScaled,""" +
      s""""v02_scaled_wall":$wallScaled,""" +
      s""""d02_direct_candidate_volume":$vol,""" +
      s""""d02_hot_shingle_volume":$hotVol,""" +
      s""""d02_volume_sampled_5pct":$volSampled,""" +
      s""""d02_adaptive_plan":"$plan",""" +
      s""""d02_prefix_candidate_pairs":$prefixCands,""" +
      s""""lsh_bucket_max_occ":$lshMax,"lsh_buckets_over_cap":$lshOver,""" +
      s""""lsh_buckets_total":$lshTotal,""" +
      s""""simhash_block_max_occ":$blkMax,""" +
      s""""simhash_blocks_over_cap":$blkOver,""" +
      s""""simhash_blocks_total":$blkTotal,""" +
      s""""winnow_fp_max_occ":$fpMax,"winnow_fps_over_cap":$fpOver,""" +
      s""""winnow_fps_total":$fpTotal}""")
    spark.stop()
  }
}
