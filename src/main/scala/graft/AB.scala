package graft

/** Paired A/B measurement harness (optimization guide §1: measure, and
  * measure in a way the box's noise cannot fake). The shared box swings
  * per-query walls by ±40% BETWEEN bench invocations (observed on the
  * fixed calibration entries), so cross-run comparisons cannot resolve
  * sub-50% effects. This harness times both arms of a conf-gated change
  * INTERLEAVED in one session — A, B, A, B … for `reps` rounds per
  * query — and reports each arm's per-query minimum, so both arms see
  * the same box window and the same JVM state.
  *
  * Usage:
  *   SPARK_GRAFT_AB_CONF=spark.graft.par.wide.enabled \
  *     runMain graft.AB <reps> <query> [query ...]
  *
  * Arm A sets the conf true, arm B false; queries run through the
  * honest-cache protocol (clearCache before every timed noop write).
  */
object AB {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: AB <reps> <query> [query ...]")
    val confKey = sys.env.getOrElse("SPARK_GRAFT_AB_CONF",
      "spark.graft.par.wide.enabled")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warmTables(spark, sfDir)
    val fns = SparkEntry.queries

    def time(name: String, arm: Boolean): Double = {
      spark.conf.set(confKey, arm.toString)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[ab] $name arm=$arm failed: ${e.getMessage}")
        return Double.NaN
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warmup both arms once (codegen/JIT), then interleave timed reps.
    // Arm ORDER alternates per rep: the second back-to-back run of the
    // same query inherits warm JIT/codegen from the first (a no-op-conf
    // control measured a consistent ~1.5× penalty on whichever arm ran
    // first), so a fixed order would bias every comparison.
    names.foreach { n => time(n, arm = true); time(n, arm = false) }
    val a = collection.mutable.Map.empty[String, Double].withDefaultValue(1e9)
    val b = collection.mutable.Map.empty[String, Double].withDefaultValue(1e9)
    (1 to reps).foreach { r =>
      names.foreach { n =>
        val order = if (r % 2 == 1) Seq(true, false) else Seq(false, true)
        order.foreach { arm =>
          val t = time(n, arm)
          if (arm) a(n) = math.min(a(n), t) else b(n) = math.min(b(n), t)
        }
      }
    }
    println(f"${"query"}%-30s ${"A(on)"}%8s ${"B(off)"}%8s ${"A/B"}%6s")
    names.foreach { n =>
      println(f"$n%-30s ${a(n)}%8.3f ${b(n)}%8.3f ${a(n) / b(n)}%6.3f")
    }
    spark.stop()
  }
}
