package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Medallion, Versioned}

/** Structured Streaming surface (SURVEY §2.9). The reference's Kafka
  * topics are modeled as file-stream sources here (no Kafka broker or
  * connector jars in this environment); every transform below is
  * source-agnostic — swapping `readStream.format("kafka")` in changes
  * nothing downstream, which is the point of declaring the pipeline on
  * unbounded DataFrames.
  *
  * Semantics carried over 1:1 from the reference:
  *  - ST1 event-time watermark (10 s late tolerance)
  *  - ST2 bounded backfill via Trigger.AvailableNow
  *  - ST4 exactly-once = checkpointed source offsets + idempotent sink;
  *    a sink whose write is not idempotent by itself commits through
  *    `Versioned.commitIfNew`, whose (appId, batchId) replay guard
  *    publishes in the same atomic manifest link as the batch's data
  *  - ST5 streaming dedup: withWatermark + dropDuplicates(naturalKey)
  *  - ST7 tumbling-window rollup with append output
  *  - ST8 DLQ split via foreachBatch dual-write
  */
object Streams {

  /** Declared schema for the events wire format — streaming sources never
    * infer schemas (reference bronze_ingest.py deliberately declares). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Unbounded source over a directory of parquet event files. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 4) // bounded micro-batches at scale
      .parquet(dir)

  /** Bronze: raw stream + ingest metadata, append sink, AvailableNow. */
  def bronzeIngest(events: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    Medallion.bronze(events)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** ST5 streaming dedup: watermark bounds the dedup state (keys older
    * than watermark are dropped from the state store — without it, state
    * grows unboundedly at 100 TB). */
  def dedupStream(events: DataFrame, lateness: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicates(Medallion.naturalKey)

  /** Dedup on a BUSINESS key (no event-time column in the key):
    * `dropDuplicatesWithinWatermark` expires each key from the state
    * store once the watermark passes its last-seen time + delay.
    * `dropDuplicates(businessKey)` alone would keep every key forever —
    * the state-size difference between "bounded by traffic in the
    * lateness window" and "bounded by all keys ever seen"; at 100 TB/day
    * only the former survives. Duplicates arriving within the lateness
    * window (the at-least-once redelivery case) are dropped; replays
    * beyond it are the upstream's contract to prevent. */
  def dedupByKeyWithinWatermark(events: DataFrame, keyCols: Seq[String],
      lateness: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** ST7 tumbling hourly rollup — the streaming twin of q21 (identical
    * groupBy(window(...)); append mode emits a window once the watermark
    * passes its end). */
  def hourlyRollup(events: DataFrame, lateness: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n"), col("total_value"))

  /** Continuous per-key top-k leaderboard: the bounded
    * [[graft.functions.expressions.TopKPairs]] aggregate under
    * incremental execution. The streaming state per group is the
    * k-element heap BUFFER (serialize/deserialize through the state
    * store between micro-batches), never the input rows — so state size
    * is k·|groups| regardless of stream volume, where a dropDuplicates/
    * window formulation would buffer every row. Complete mode re-emits
    * the whole leaderboard per micro-batch (it is k·|groups| rows —
    * cheap by construction). */
  def topKStream(events: DataFrame, k: Int): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.expressions.TopKPairs
        .topk_pairs(col("value"), col("event_id"), k).as("tk"))

  /** Continuously-maintained SCD2 dimension from a CDC stream: each
    * micro-batch of parsed Debezium envelopes collapses to its per-key
    * delta (last image per key by ts_ms; last-op-delete keys become
    * closes) and folds into the history via
    * [[graft.operators.Scd2.scd2ApplyChanges]] — the CDC-fed SCD2
    * that never needs the full dimension snapshot a 100 TB table can't
    * afford per batch. batchTs derives from the batch's max ts_ms, so
    * restarts reproduce identical valid_from/scd_id values.
    *
    * `targetDir` is a [[graft.operators.Versioned]] table, one version
    * per non-empty micro-batch. The history fold is not idempotent, so
    * each fold commits as an overwrite through `commitIfNew`: a replayed
    * batch finds its batchId in the manifest and folds nothing, with no
    * window between the data landing and the guard. One stream writes a
    * target. Spec: the streamed history is byte-identical to feeding the
    * same batches' FULL snapshots through scd2Apply.
    */
  def cdcScd2Stream(envelopes: DataFrame, key: Seq[String],
      checkCols: Seq[String], targetDir: String,
      checkpointDir: String, seqCol: Option[String] = None): StreamingQuery = {
    refuseStaleTarget(targetDir, checkpointDir, versioned = true)
    envelopes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        // Last envelope per key in this batch. The authoritative order
        // within equal ts_ms is `seqCol` (wire it to the envelope's
        // LSN/pos — Debezium stamps every op of a transaction with one
        // commit ts_ms, so ONLY a sequence can order intra-transaction
        // ops). Without a sequence the residual tie rule is documented
        // and conservative: the DELETE wins (an updated-then-deleted
        // row must end deleted; the cost is that a same-ts
        // delete-then-reinsert also resolves to deleted), and u/u ties
        // break on the greatest after-image for run-determinism.
        val keyed = batch.withColumn("_k",
          when(col("after").isNotNull,
            struct(key.map(k => col(s"after.$k")): _*))
            .otherwise(struct(key.map(k => col(s"before.$k")): _*)))
        val order = Seq(col("ts_ms").desc) ++
          seqCol.map(c => col(c).desc).toSeq ++
          Seq((col("op") === "d").desc, col("op").desc, col("after").desc)
        val w = Window.partitionBy("_k").orderBy(order: _*)
        val last = keyed.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).persist()
        try {
          val upserts = last.filter(col("op") =!= "d").select(col("after.*"))
          val deleteKeys = last.filter(col("op") === "d")
            .select(key.map(k => col(s"before.$k").as(k)): _*)
          val maxTs = last.agg(max("ts_ms")).head()
          if (!maxTs.isNullAt(0)) {
            val batchTs = new java.sql.Timestamp(maxTs.getLong(0))
            val history = Versioned.latestVersion(targetDir)
              .map(_ => Versioned.read(spark, targetDir))
            Versioned.commitIfNew(spark, targetDir,
              graft.operators.Scd2.scd2ApplyChanges(history, upserts,
                deleteKeys, key, checkCols, batchTs),
              "cdcScd2Stream", batchId, mode = "overwrite")
          }
          ()
        } finally { last.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental PQ encoding: new embedding rows stream in and encode
    * against a FROZEN codebook (trained once on the initial corpus —
    * retraining per batch would make old and new codes incomparable).
    * Pure broadcast-join per micro-batch, appended to the
    * [[graft.operators.Versioned]] table `targetDir` through
    * `commitIfNew` — foreachBatch is at-least-once, and the in-manifest
    * (appId, batchId) guard turns a replayed append into a no-op
    * instead of duplicate code rows. One stream writes a target.
    * `m`/`dims` MUST match the geometry the codebook was trained with
    * (a mismatch would silently join partial subspaces). Spec: drained
    * stream codes ≡ batch [[graft.operators.Similarity.pqEncode]] on
    * the same rows. */
  def pqEncodeStream(vectors: DataFrame, codebook: DataFrame,
      targetDir: String, checkpointDir: String,
      m: Int = 8, dims: Int = 64): StreamingQuery = {
    refuseStaleTarget(targetDir, checkpointDir, versioned = true)
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Versioned.commitIfNew(batch.sparkSession, targetDir,
          graft.operators.Similarity.pqEncode(batch, codebook, m, dims),
          "pqEncodeStream", batchId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** ST8 DLQ split: per micro-batch, valid rows append to the main sink
    * and invalid rows to the dead-letter sink — one pass, two writes.
    * Both sinks are [[graft.operators.Versioned]] tables, each appended
    * exactly once per batch through its own in-manifest (appId, batchId)
    * guard. The two commits are not one transaction: a crash between
    * them replays the batch, the committed sink recognizes its batchId
    * and no-ops, and the other commits. One stream writes the pair. */
  def withDlq(events: DataFrame, validDir: String, dlqDir: String,
      checkpointDir: String): StreamingQuery = {
    Seq(validDir, dlqDir).foreach(refuseStaleTarget(_, checkpointDir, versioned = true))
    val isValid = col("ts").isNotNull && col("user_id").isNotNull && col("value") >= 0
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val marked = batch.withColumn("_valid", isValid).persist()
        try {
          Versioned.commitIfNew(spark, validDir,
            marked.filter(col("_valid")).drop("_valid"), "withDlq:valid", batchId)
          Versioned.commitIfNew(spark, dlqDir,
            marked.filter(!col("_valid")).drop("_valid"), "withDlq:dlq", batchId)
          ()
        } finally { marked.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** ST6 continuous Silver MV: filter + watermarked dropDuplicates +
    * stateless projection — the streaming twin of Medallion.silver
    * (whose row_number dedup isn't streamable). */
  def silverStream(bronzeStream: DataFrame, lateness: String = "10 seconds"): DataFrame =
    Medallion.silverProject(
      Medallion.silverFilter(bronzeStream)
        .withWatermark("ts", lateness)
        .dropDuplicates(Medallion.naturalKey))

  /** ST6 hard case (SURVEY §7.4(7)): a continuously-maintained AGGREGATE
    * MV, as a stateful streaming aggregate in complete output mode. The
    * running per-group fold (row count, DECIMAL(18,2) sum) lives in
    * Spark's checkpointed state store, O(groups) like the MV itself, so a
    * micro-batch folds in only its new rows and never reads the MV back.
    * foreachBatch swaps the complete result, also O(groups), into
    * `targetDir` through a staged directory swap ([[swapInto]]). The MV
    * stays a plain parquet directory, not a `Versioned` table: readers
    * outside the engine read its parquet files directly.
    *
    * The sink is idempotent: a replayed batch N re-emits the complete
    * result of the state as of N, so a replay cannot fold a batch twice,
    * and a crash between the swap's two renames is repaired by the replay
    * rewriting the MV from state. Target and checkpoint live and die
    * together; an MV is rebuilt from its source by deleting both.
    *
    * Checkpoint break: an MV written by the earlier foreachBatch fold
    * has a `<targetDir>.lastbatch` marker and no aggregate state in its
    * checkpoint. It is refused, naming what to delete, rather than
    * restarted from empty state. */
  def aggregateMv(events: DataFrame, targetDir: String, checkpointDir: String): StreamingQuery = {
    refuseStaleTarget(targetDir, checkpointDir, versioned = false)
    events
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("total_value"))
      .writeStream.outputMode("complete")
      .foreachBatch { (result: DataFrame, _: Long) =>
        swapInto(targetDir,
          result.withColumn("total_value", col("total_value").cast("double")))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Replaces the parquet directory `targetPath` with `df`: stage to a
    * sibling dir, then swap it in with two renames, so a reader never
    * sees a half-written MV. A crash between the renames leaves the old
    * data at `<targetPath>.old`; the batch's replay rewrites the MV. */
  private def swapInto(targetPath: String, df: DataFrame): Unit = {
    val tmp = targetPath + ".staging"
    df.write.mode("overwrite").parquet(tmp)
    val target = new java.io.File(targetPath)
    if (target.exists()) {
      val trash = new java.io.File(targetPath + ".old")
      deleteRecursively(trash)
      if (!target.renameTo(trash))
        throw new java.io.IOException(s"could not stage out old $targetPath")
    }
    // Check the swap succeeded BEFORE deleting the .old backup — a failed
    // rename with the backup already deleted would lose the table.
    if (!new java.io.File(tmp).renameTo(target))
      throw new java.io.IOException(
        s"could not swap $tmp into place; previous data kept at $targetPath.old")
    deleteRecursively(new java.io.File(targetPath + ".old"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) f.delete()
  }

  /** Refuses a target that an earlier form of its sink left, whose
    * checkpoint does not hold what this sink expects: for a `versioned`
    * sink, a target that holds files but no `Versioned` log (the
    * plain-parquet sinks guarded by a `<targetDir>.lastbatch` marker;
    * `commitIfNew` would publish past those files and hide them); for
    * the aggregate MV, a `.lastbatch` marker (the batch-folding MV,
    * whose checkpoint holds no aggregate state). The message names what
    * to delete so the target rebuilds from its source. */
  private def refuseStaleTarget(targetDir: String, checkpointDir: String,
      versioned: Boolean): Unit = {
    val marker = new java.io.File(targetDir + ".lastbatch")
    val stale =
      if (versioned)
        Option(new java.io.File(targetDir).list()).exists(_.nonEmpty) &&
          Versioned.latestVersion(targetDir).isEmpty
      else marker.exists()
    if (stale)
      throw new IllegalStateException(
        s"$targetDir was written by an earlier form of this sink, which its " +
          s"checkpoint $checkpointDir does not match; delete $checkpointDir, $targetDir" +
          (if (marker.exists()) s" and $marker" else "") +
          " to rebuild it from its source")
  }

  /** Exactly-once streaming sink onto a [[graft.operators.Versioned]]
    * table. The replay guard rides IN the table's manifest
    * (`Versioned.commitIfNew`, Delta's `txnAppId`/`txnVersion`
    * dedup): the batch's data files and its
    * (appId, batchId) tag publish in ONE atomic hard-link, so there is
    * no crash window where data landed but the guard didn't (or vice
    * versa). A foreachBatch redelivery after checkpoint recovery
    * recognizes its batchId and no-ops. Bonus of the manifest log:
    * every micro-batch is a table version — the stream's history is
    * time-travelable per batch. */
  def versionedSink(events: DataFrame, root: String, checkpointDir: String,
      appId: String, statsCols: Seq[String] = Nil): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Versioned.commitIfNew(
          batch.sparkSession, root, batch, appId, batchId, statsCols)
        () // discard: StreamingQuery progress is the caller's signal
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming sketch MV: maintain a count-min sketch of `keyCol` over
    * an unbounded stream, incrementally and exactly-once. Per batch the
    * NEW rows are sketched (one fixed-size array — the only state this
    * MV ever shuffles, at any stream length or key cardinality) and
    * folded into the table's current sketch with an element-wise
    * `zip_with` add; because the sketch is deterministic and its merge
    * is associative+commutative addition, the streamed result is
    * BIT-IDENTICAL to the batch sketch over the same rows
    * (spec-asserted). Commits ride [[graft.operators.Versioned]] in
    * overwrite mode with the in-manifest replay guard, so a redelivered
    * batch can't double-fold — and the sketch's history is
    * time-travelable per micro-batch, which turns "how did the key
    * distribution evolve" into a readVersion loop. */
  def cmsMv(events: DataFrame, root: String, checkpointDir: String,
      appId: String, keyCol: String, depth: Int, width: Int): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.functions.expressions.CmsSketch.cms_sketch
        val spark = batch.sparkSession
        val fresh = batch.filter(col(keyCol).isNotNull)
          .agg(cms_sketch(col(keyCol).cast("string"), depth, width).as("cms"))
        val merged = graft.operators.Versioned.latestVersion(root) match {
          case None => fresh
          case Some(_) =>
            graft.operators.Versioned.read(spark, root)
              .select(col("cms").as("prev")).crossJoin(fresh)
              .select(zip_with(col("prev"), col("cms"),
                (a, b) => a + b).as("cms"))
        }
        graft.operators.Versioned.commitIfNew(
          spark, root, merged, appId, batchId, mode = "overwrite")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming BM25 index maintenance (beyond-reference): each
    * micro-batch of documents appends its postings (doc_id, term, tf)
    * and its doc lengths (doc_id, dl) into TWO versioned tables,
    * exactly-once via the in-manifest (appId, batchId) guard per
    * table. A crash between the two commits replays the batch: the
    * already-committed table recognizes its batchId and no-ops, the
    * other commits — each table folds every batch exactly once.
    *
    * Append-only is CORRECT here, not a simplification: documents are
    * immutable rows, so the inverted index only ever grows, df per
    * term is a count over postings, and corpus stats derive from dlen
    * — the serve path ([[graft.queries.TextQueries.bm25Score]]) needs
    * no maintained aggregates at all. Postings commit with `term`
    * footer stats so a query-term scan prunes files at the manifest
    * (z-order by term via `Versioned.zorder` to tighten further). */
  def bm25IndexSink(docs: DataFrame, postingsRoot: String,
      dlenRoot: String, checkpointDir: String,
      appId: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val tok = batch.select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        val postings = tok.groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf"))
        val dlen = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        graft.operators.Versioned.commitIfNew(spark, postingsRoot,
          postings, s"$appId:postings", batchId, statsCols = Seq("term"))
        graft.operators.Versioned.commitIfNew(spark, dlenRoot,
          dlen, s"$appId:dlen", batchId, statsCols = Seq("doc_id"))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join (beyond-reference): correlate two live
    * streams — e.g. each purchase with the same user's clicks in the
    * preceding `windowSeconds` — with BOUNDED state: the watermarks plus
    * the time-range predicate let Spark evict rows once they can no
    * longer match, so state is O(window × rate), not O(stream). Without
    * the range condition a stream-stream join must buffer both streams
    * forever.
    *
    * `joinType` "left_outer" additionally emits (left, NULL) once the
    * watermark proves no right row can still arrive for that left row —
    * the streaming analog of a reconciliation join; state stays bounded
    * by the same watermark+range eviction as the inner form. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      windowSeconds: Int, lateness: String = "10 seconds",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col(key), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"), col("value").as("l_value"))
    val r = right.withWatermark("ts", lateness)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"interval $windowSeconds seconds") &&
        col("r_ts") <= col("l_ts"),
      joinType)
      .drop("r_key")
  }

  /** Incremental MinHash+LSH near-dup detection over a DOCUMENT stream —
    * the streaming twin of `Dedup.minhashLshPairs`, proving the flagship
    * LLM-dedup path works micro-batch by micro-batch (the ST6 pattern
    * applied to the dedup surface).
    *
    * Per batch: the new docs are shingled, signed, and banded exactly as
    * the batch pipeline; candidates are (new × all-so-far) pairs sharing
    * an LSH bucket — an equi-join of the new bands against the
    * accumulated band index, so per-batch work is bounded by the NEW
    * docs' bucket occupancy, never the corpus pair space — and
    * survivors are exact-Jaccard-verified against the accumulated
    * shingle store. A pair is emitted exactly once, in the batch where
    * its LATER doc arrives (the earlier doc is already state, and
    * two-old pairs can never form because one join leg is always new).
    * After draining, `pairsDir` holds EXACTLY the batch pipeline's
    * output on the full corpus (spec-proven equivalence).
    *
    * State = two parquet dir trees (band index + shingle sets) with ONE
    * SUBDIR PER BATCH, written with overwrite — so a replayed batch
    * (foreachBatch is at-least-once) REPLACES its own partial output
    * instead of appending a second copy: pairs can't duplicate and,
    * crucially, the accumulated shingle store can't double (duplicated
    * (id, n, s) rows would double `common` counts and corrupt every
    * later batch's jaccard). No marker file is needed: a replay
    * recomputes the batch and overwrites the same subdirs, and a
    * `<stateDir>.lastbatch` left by earlier versions of this sink is
    * harmless, since nothing reads it. Per-batch caches are scoped and
    * released (CacheScope). State reads from earlier batches exclude
    * the in-flight batch's own subdirs, so a replay recomputes against
    * exactly the pre-batch state.
    */
  def minhashLshStream(docsStream: DataFrame, idCol: String, textCol: String,
      threshold: Double, stateDir: String, pairsDir: String,
      checkpointDir: String, numHashes: Int = 16, bands: Int = 4): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val spark = batch.sparkSession
        graft.CacheScope.withScope {
          val bandsPath = s"$stateDir/bands"
          val shinglePath = s"$stateDir/shingled"
          // earlier batches' subdirs ONLY — never the in-flight
          // batch's own (possibly partial, pre-crash) output
          def readPrior(root: String): Option[DataFrame] = {
            val dirs = Option(new java.io.File(root).listFiles()).toSeq.flatten
              .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
              .filter(_.getName.stripPrefix("batch-").toLong < batchId)
              .map(_.getPath)
            if (dirs.isEmpty) None
            else Some(spark.read.parquet(dirs: _*))
          }
          val newShingled = graft.CacheScope.persist(
            Dedup.shingleSets(batch, idCol, textCol))
          val newBands = graft.CacheScope.persist(Dedup.lshBuckets(
            Dedup.withSignature(newShingled, numHashes),
            idCol, bands, numHashes / bands))
          val allBands = readPrior(bandsPath)
            .map(_.unionByName(newBands)).getOrElse(newBands)
          val cand = newBands
            .select(col("band"), col("sig"), col(idCol).as("x"))
            .join(allBands.select(col("band"), col("sig"), col(idCol).as("y")),
              Seq("band", "sig"))
            .filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("i"),
              greatest(col("x"), col("y")).as("j"))
            .distinct()
          val allShingled = readPrior(shinglePath)
            .map(_.unionByName(newShingled)).getOrElse(newShingled)
          Dedup.jaccardFor(cand, allShingled, idCol)
            .filter(col("jaccard") >= threshold)
            .write.mode("overwrite").parquet(s"$pairsDir/batch-$batchId")
          newBands.write.mode("overwrite")
            .parquet(s"$bandsPath/batch-$batchId")
          newShingled.write.mode("overwrite")
            .parquet(s"$shinglePath/batch-$batchId")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** All pairs a [[minhashLshStream]] run emitted (union of the
    * per-batch subdirs). */
  def lshStreamPairs(spark: SparkSession, pairsDir: String): DataFrame = {
    val dirs = Option(new java.io.File(pairsDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      .map(_.getPath)
    require(dirs.nonEmpty, s"no batch output under $pairsDir")
    spark.read.parquet(dirs: _*)
  }

  /** Run any streaming frame into an in-memory table for deterministic
    * tests (processAllAvailable → stop). */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }
}
