package graft

/** Plan-inspection main: prints the formatted physical plan for the
  * named queries (or a default set of scale-critical ones) so pushdown,
  * broadcast choice, and whole-stage-codegen coverage can be reviewed —
  * the explain-then-iterate loop SURVEY §4 calls for.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q02_filter_project", "q03_join_agg",
        "q07_topk", "q08_dedup_rownum", "p02_gold_daily", "d03_minhash_lsh",
        "v01_ann_bruteforce_topk", "q35_multi_distinct", "q36_rank_suite",
        "s04_sequence_packing", "v05_ann_quantized_topk", "x10_asof_exec")
    val spark = Harness.session()
    // SPARK_GRAFT_CONF="k=v;k=v" — session confs for plan A/B captures
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
