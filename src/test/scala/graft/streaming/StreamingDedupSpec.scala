package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.Dedup

/** Streaming–batch parity for the flagship LLM-dedup path: the
  * incremental MinHash+LSH stream must converge to EXACTLY the batch
  * pipeline's pairs once the corpus is drained (the ST6 batch-equality
  * proof applied to the dedup surface), also across a replayed batch. */
class StreamingDedupSpec extends SparkSpec {

  private lazy val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")

  /** The corpus in 3 files; the source, state, pairs and checkpoint dirs. */
  private def dirs(): (String, String, String, String) = {
    val src = Files.createTempDirectory("graft-lshs-src").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    (src,
      Files.createTempDirectory("graft-lshs-state").toString + "/state",
      Files.createTempDirectory("graft-lshs-pairs").toString + "/pairs",
      Files.createTempDirectory("graft-lshs-ck").toString)
  }

  /** One file per micro-batch → the corpus genuinely arrives
    * incrementally (new docs must pair against accumulated state). */
  private def run(src: String, state: String, pairsDir: String, ck: String) = {
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streams.minhashLshStream(stream, "doc_id", "text", 0.5,
      state, pairsDir, ck)
    q.awaitTermination()
    q
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("i"), col("j"), round(col("jaccard"), 4))
      .collect().map(_.toSeq).toSet

  test("streaming minhash LSH pairs ≡ batch pairs after draining the corpus") {
    val (src, state, pairsDir, ck) = dirs()
    val q = run(src, state, pairsDir, ck)

    // the corpus really was processed across multiple micro-batches
    val batches = q.recentProgress.map(_.batchId).distinct.length
    assert(batches >= 3, s"expected ≥3 micro-batches, saw $batches")

    val streamedDf = Streams.lshStreamPairs(spark, pairsDir)
    val streamed = canon(streamedDf)
    val batch = canon(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5))
    assert(streamed === batch)
    assert(streamed.nonEmpty, "corpus has planted near-dups; empty = vacuous")
    // exactly-once emission: no pair appears twice across batches
    assert(streamedDf.count() === streamedDf.distinct().count())
  }

  test("a replayed micro-batch leaves the pairs unchanged and distinct") {
    val (src, state, pairsDir, ck) = dirs()
    run(src, state, pairsDir, ck)
    val before = canon(Streams.lshStreamPairs(spark, pairsDir))
    assert(before.nonEmpty, "corpus has planted near-dups; empty = vacuous")
    // Crash after the last batch's writes, before its commit-log entry:
    // the restart replays that batch over its own per-batch subdirs.
    val last = new File(ck, "commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new File(ck, s"commits/$last").delete())
    new File(ck, s"commits/.$last.crc").delete()
    assert(run(src, state, pairsDir, ck).recentProgress.map(_.batchId).toSeq === Seq(last))
    val after = Streams.lshStreamPairs(spark, pairsDir)
    assert(canon(after) === before)
    assert(after.count() === after.distinct().count())
  }
}
