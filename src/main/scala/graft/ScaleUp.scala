package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus amplifier: writes an N× copy of a testdata
  * scale-factor directory for scale-up proof runs (the driver ships
  * sf0.001/0.01/0.1; the judge's sf1 gate needs 10× sf0.1).
  *
  * Star-schema integrity is preserved: every foreign key shifts by
  * the SAME per-copy offset as its referenced primary key (orders →
  * customer, lineitem → orders/part/supplier), so join selectivities
  * and group cardinalities scale the way a real 10× corpus would.
  * `region`/`nation` stay shared dimensions (25 nations at any SF —
  * the TPC-H shape), so nation-grain aggregates grow 10× per group
  * rather than 10× in group count.
  *
  * Documents do NOT replicate as exact N-cliques (which would turn
  * every near-dup query quadratic-in-clique and measure data
  * pathology, not plan scaling): copies pair off into ⌈copies/2⌉
  * TRANSFORM CLASSES of exactly two copies each — class c rewrites
  * text with vowel rotation (c mod 5) composed with consonant
  * rotation (c / 5), both via `translate` (length-preserving so
  * `n_chars` stays truthful) — so every doc keeps ONE near-dup
  * partner per class at any EVEN amplification up to 128 copies
  * (enforced by a require in main: odd counts put >2 copies in a
  * class, the rotation alphabet yields only 105 distinct classes, and
  * embedding rotations repeat past 2·dim = 128). At 10 copies this
  * reduces to the original 5 vowel rotations; at 100 copies there are
  * 50 classes instead of 20-cliques. The planted dup RATE is then
  * scale-invariant: pair counts grow linearly with the corpus, the
  * way a real crawl's do, and candidate-stage blowups measured at
  * sf10 are genuine plan behavior.
  * Embeddings rotate their dimensions by (i mod dim), negated every
  * dim copies — deterministic, cheap, and every copy is a distinct
  * vector rather than an identical one. Events shift ids but keep
  * the time window (N× density, the realistic stream growth).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [copies=10]
  *          [tables=t1,t2 — default all]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // the two-copies-per-class invariant (and with it the scale-invariant
    // planted-dup RATE) holds only for even copies; past 105 distinct
    // vowel×consonant rotation classes (210 copies) classes would collapse
    // into larger cliques, and embeddings repeat their rotation+sign
    // pattern past 2·dim = 128 copies — so the amplifier refuses inputs
    // where it would silently reintroduce the clique pathology it exists
    // to avoid (copies = 1 is the identity passthrough)
    require(copies == 1 || (copies % 2 == 0 && copies <= 128),
      s"copies must be 1 or an even number <= 128, got $copies — odd " +
        "counts put >2 copies in a transform class and large counts " +
        "collapse classes into cliques (vowel×consonant classes cap at " +
        "105; embedding rotations repeat past 2·dim = 128)")
    val onlyTables: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = Harness.session()

    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val events = spark.read.parquet(s"$src/events.parquet")
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")

    val C = keySpan(customer, "c_custkey")
    val S = keySpan(supplier, "s_suppkey")
    val P = keySpan(part, "p_partkey")
    val O = keySpan(orders, "o_orderkey")
    val E = keySpan(events, "event_id")
    val U = keySpan(events, "user_id")
    val D = keySpan(documents, "doc_id")
    val V = keySpan(embeddings, "vec_id")

    def amplify(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => copy(df, i)).reduce(_ unionByName _)

    def shift(df: DataFrame, i: Int, offsets: (String, Long)*): DataFrame =
      offsets.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + lit(i * span))
      }

    // transform class c = vowel rotation (c mod 5) ∘ consonant
    // rotation (c / 5): ⌈copies/2⌉ classes keep exactly two copies
    // per class at any amplification
    val vowels = "aeiou"
    val consonants = "bcdfghjklmnpqrstvwxyz"
    def rot(s: String, k: Int): String = {
      val r = k % s.length
      s.substring(r) + s.substring(0, r)
    }
    val classes = math.max(1, copies / 2)
    def docRewrite(c0: org.apache.spark.sql.Column, i: Int)
        : org.apache.spark.sql.Column = {
      val cls = i % classes
      translate(c0, vowels + consonants,
        rot(vowels, cls % 5) + rot(consonants, cls / 5))
    }

    val outs: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.read.parquet(s"$src/region.parquet"),
      "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      "customer" -> amplify(customer)((d, i) => shift(d, i, "c_custkey" -> C)),
      "supplier" -> amplify(supplier)((d, i) => shift(d, i, "s_suppkey" -> S)),
      "part" -> amplify(part)((d, i) => shift(d, i, "p_partkey" -> P)),
      "orders" -> amplify(orders)((d, i) =>
        shift(d, i, "o_orderkey" -> O, "o_custkey" -> C)),
      "lineitem" -> amplify(lineitem)((d, i) =>
        shift(d, i, "l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)),
      "events" -> amplify(events)((d, i) =>
        shift(d, i, "event_id" -> E, "user_id" -> U)),
      "documents" -> amplify(documents) { (d, i) =>
        shift(d, i, "doc_id" -> D)
          .withColumn("text", docRewrite(col("text"), i))
      },
      "embeddings" -> {
        val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
        amplify(embeddings) { (d, i) =>
        val r = i % dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(
            slice(col("embedding"), r + 1, 1 << 20),
            slice(col("embedding"), 1, r))
        // past one full rotation cycle, negate — every copy stays a
        // DISTINCT vector even when copies > dim
        val vec =
          if (i / dim % 2 == 0) rotated
          else transform(rotated, x => -x)
        shift(d, i, "vec_id" -> V).withColumn("embedding", vec)
      }})

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    outs.filter { case (name, _) => onlyTables.forall(_.contains(name)) }
      .foreach { case (name, df) =>
      // one parquet FILE per table, like the driver's layout
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part0 = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part0.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
      println(s"$name: written")
    }
    spark.stop()
  }
}
