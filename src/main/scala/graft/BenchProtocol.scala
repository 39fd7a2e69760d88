package graft

/** The reference's query-latency protocol (SURVEY A11 / BASELINE.md): 10
  * iterations against a warm engine, discard the first 2, report
  * p50/p95/p99/mean per query. Runs the four headline analytics queries
  * (the q1–q4 analogs) by default.
  *
  * Usage: runMain graft.BenchProtocol [sfDir] [queryName ...]
  */
object BenchProtocol {
  private val HEADLINE = Seq(
    "q01_pricing_summary",   // q1 daily revenue analog
    "q07_topk",              // q2 top locations analog
    "q13_datetime_agg",      // q3 hourly heatmap analog
    "q10_pct_of_total",      // q4 payment breakdown analog
    "d03_minhash_lsh",       // beyond-reference: LSH dedup
    "v01_ann_bruteforce_topk", // beyond-reference: similarity search
    "p01_silver")            // medallion silver end-to-end

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1).toSeq else HEADLINE
    val spark = Harness.session()

    def pct(sorted: Seq[Double], p: Double): Double =
      sorted((p * (sorted.size - 1)).round.toInt)

    val stats = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 10).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(2).sorted // warm protocol: discard first 2 of 10
      name -> (pct(times, 0.5), pct(times, 0.95), pct(times, 0.99),
        times.sum / times.size)
    }
    val qs = stats.map { case (n, (p50, p95, p99, mean)) =>
      s""""$n":{"p50":$p50,"p95":$p95,"p99":$p99,"mean":$mean}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"latency_protocol","unit":"sec","iterations":10,"discard":2,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
