package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.streaming.Sessionize

/** Property-based invariants over randomized inputs (ScalaCheck
  * generators sampled with fixed seeds — the scalatest bridge isn't on
  * the offline classpath) — structural guarantees that must hold for
  * ANY data, not just fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic samples from a generator (seeded, reproducible). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen = Gen.oneOf("spark", "query", "engine", "fast", "data",
    "row", "column", "join", "scan", "merge")
  private val docGen = Gen.chooseNum(3, 24)
    .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
  private val corpusGen = Gen.chooseNum(2, 12)
    .flatMap(n => Gen.listOfN(n, docGen))

  test("property: LSH near-dup pairs are always a subset of exact jaccard pairs") {
    samples(corpusGen, 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
        .select("i", "j").as[(Long, Long)].collect().toSet
      val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(lsh.subsetOf(exact))
    }
  }

  test("property: sessionization partitions events exactly (Σ n_events = |events|)") {
    val eventsGen = for {
      n <- Gen.chooseNum(1, 50)
      rows <- Gen.listOfN(n, for {
        u <- Gen.chooseNum(1L, 5L)
        off <- Gen.chooseNum(0L, 86000L)
      } yield (u, new java.sql.Timestamp(1704067200000L + off * 1000), 1.0))
    } yield rows
    samples(eventsGen, 5).foreach { rows =>
      val df = rows.toDF("user_id", "ts", "value")
      val sessions = Sessionize.sessionsBatch(df, gapMinutes = 30)
      val total = sessions.agg(org.apache.spark.sql.functions.sum("n_events"))
        .head().getLong(0)
      assert(total === rows.size.toLong)
    }
  }

  test("property: connected components — labels are component minima, assignment is a fixpoint") {
    val pairsGen = Gen.chooseNum(1, 15).flatMap(n => Gen.listOfN(n, for {
      i <- Gen.chooseNum(0L, 9L)
      j <- Gen.chooseNum(0L, 9L) if i != j
    } yield (math.min(i, j), math.max(i, j))))
    samples(pairsGen, 5).foreach { pairs =>
      val df = pairs.toDF("i", "j")
      val cc = Dedup.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      // reference implementation: driver-side union-find over the same pairs
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      assert(cc === expected, s"pairs=$pairs")
    }
  }

  test("property: sequence packing conserves tokens and bins monotonically") {
    val tokGen = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 30L)))
    samples(tokGen, 5).foreach { toks =>
      val docs = toks.zipWithIndex.map { case (t, i) =>
        (i.toLong, Seq.fill(t.toInt)("w").mkString(" "))
      }.toDF("doc_id", "text")
      val packed = Mix.packSequences(docs, "doc_id",
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), " ")),
          16, org.apache.spark.sql.functions.expr("doc_id div 3"))
        .select("doc_id", "n", "prev_cum", "seq_id")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      // conservation: prev_cum of doc k = Σ tokens of docs < k
      var cum = 0L
      packed.foreach { case (_, n, prev, seq) =>
        assert(prev === cum)
        assert(seq === prev / 16)
        cum += n
      }
      assert(cum === toks.sum)
    }
  }

  test("property: mergeUpsert is idempotent for any batch") {
    val batchGen = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 8L).map(k => (k, s"v$k"))))
    samples(batchGen, 5).foreach { rows =>
      val path = java.nio.file.Files.createTempDirectory("graft-prop")
        .resolve("t").toString
      val batch = rows.toDF("id", "v").dropDuplicates("id")
      Versioned.commit(spark, path, batch.limit(0)) // empty seed version
      Versioned.mergeUpsert(spark, path, batch, "id")
      val c1 = Versioned.read(spark, path).count()
      Versioned.mergeUpsert(spark, path, batch, "id")
      val c2 = Versioned.read(spark, path).count()
      assert(c1 === c2)
      assert(c1 === batch.count())
    }
  }

  test("property: topk_pairs equals sorted-take for any scored set and any k") {
    import graft.functions.expressions.TopKPairs.topk_pairs
    import org.apache.spark.sql.functions._
    val scoredGen = for {
      n <- Gen.chooseNum(0, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.chooseNum(1L, 4L)
        id <- Gen.chooseNum(0L, 30L)
        sc <- Gen.oneOf(0.1, 0.25, 0.25, 0.7, 0.9) // duplicate scores force ties
      } yield (g, id, sc))
      k <- Gen.chooseNum(1, 8)
    } yield (rows.distinctBy(r => (r._1, r._2)), k) // id unique per group
    samples(scoredGen, 8).foreach { case (rows, k) =>
      if (rows.nonEmpty) {
        val df = rows.toDF("query_id", "neighbor_id", "cos_sim")
        val got = df.groupBy("query_id")
          .agg(topk_pairs(col("cos_sim"), col("neighbor_id"), k).as("tk"))
          .select(col("query_id"), explode(col("tk")).as("p"))
          .select(col("query_id"), col("p.id"), col("p.score"))
          .as[(Long, Long, Double)].collect().toSet
        val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
          rs.sortBy(r => (-r._3, r._2)).take(k).map(r => (g, r._2, r._3))
        }.toSet
        assert(got === want, s"k=$k rows=$rows")
      }
    }
  }

  test("property: chunkTokens covers every token and respects the stride grid") {
    import org.apache.spark.sql.functions._
    samples(corpusGen, 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val window = 5
      val stride = 3
      val chunks = Mix.chunkTokens(docs, "doc_id", "text", window, stride)
        .select("doc_id", "chunk_idx", "start_token", "n_chunk_tokens")
        .as[(Long, Long, Long, Long)].collect()
      val nTokens = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> t.split(" ").length.toLong }.toMap
      chunks.groupBy(_._1).foreach { case (docId, cs) =>
        val n = nTokens(docId)
        // starts are exactly 0, stride, 2·stride, … < n (no gaps, no extras)
        assert(cs.map(_._3).sorted.toSeq ===
          (0L until n by stride.toLong).toSeq, s"doc $docId starts")
        // chunk lengths: min(window, n - start), all positive
        cs.foreach { c =>
          assert(c._4 === math.min(window.toLong, n - c._3))
          assert(c._4 > 0)
        }
        // every token position is covered by at least one chunk
        val covered = cs.flatMap(c => c._3 until (c._3 + c._4)).toSet
        assert(covered === (0L until n).toSet, s"doc $docId coverage")
      }
    }
  }

  test("property: Morton interleave is injective and order-embedding on equal coords") {
    import org.apache.spark.sql.functions._
    val coordGen = Gen.listOfN(40, for {
      x <- Gen.chooseNum(0L, 255L)
      y <- Gen.chooseNum(0L, 255L)
    } yield (x, y))
    samples(coordGen, 4).foreach { coords =>
      val distinct = coords.distinct
      val z = distinct.toDF("x", "y")
        .select(col("x"), col("y"),
          ZOrder.interleave(Seq(col("x"), col("y")), 8).as("z"))
        .as[(Long, Long, Long)].collect()
      // injective: distinct coords → distinct codes
      assert(z.map(_._3).distinct.length === distinct.length)
      // diagonal order: z is monotone along equal coordinates
      val diag = z.filter(p => p._1 == p._2).sortBy(_._1)
      assert(diag.map(_._3) === diag.map(_._3).sorted)
      // bounded: 2×8 bits → codes below 2^16
      assert(z.forall(p => p._3 >= 0 && p._3 < (1L << 16)))
    }
  }
}
