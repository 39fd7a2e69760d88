package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan-parallelism repair (optimization guide §2.5: "one huge
  * unsplittable file … repartition immediately after the read").
  *
  * A parquet ROW GROUP is the atomic unit of a scan — no split setting
  * can parallelize inside one — and the driver's test tables are written
  * as a single row group per file, so any per-row-expensive stage that
  * sits directly on the scan (regex tokenization, shingling, hyperplane
  * projections, image codecs, bigram explodes) runs on ONE core while
  * the other 31 idle. Measured with graft.Profile before this change:
  * the per-row-heavy queries showed Σ task-time ≈ wall with 1–4 tasks in
  * the scan stage (e.g. m02's PNG encode+decode: 2.1 s of task time, one
  * task), i.e. serial execution on a 32-core box.
  *
  * [[wide]] round-robin-repartitions such inputs to the session default
  * parallelism — once, right after the read, BEFORE the heavy per-row
  * work — and is a NO-OP whenever the scan already plans at least half
  * the session's parallelism. That guard is what keeps it scale-honest:
  * a realistically-laid-out 100 TB table (128 MB–1 GB files) plans
  * thousands of splits, so production pays no extra shuffle and no extra
  * stage; only the degenerate unsplittable-input case pays one cheap
  * shuffle of the not-yet-expanded rows to buy full-cluster parallelism
  * for the expensive stage above it. The target derives from the session
  * (defaultParallelism = SPARK_GRAFT_CPUS under the bench contract), not
  * a constant, so low-core driver runs scale the same way.
  *
  * Determinism: round-robin repartition sorts rows within each input
  * partition first (spark.sql.execution.sortBeforeRepartition, on by
  * default since SPARK-23207), so retries reproduce the same placement;
  * and every operator in this engine is partition-order-independent by
  * construction (DECIMAL-cast sums, deterministic tie-breaks, ordered
  * outputs) — re-proven after this change by the full DuckDB oracle
  * gate.
  */
object Par {

  /** `df` repartitioned to the session default parallelism iff its
    * optimizer-estimated size plans fewer splits than half of it; `df`
    * unchanged otherwise (the cluster-scale no-op case).
    *
    * The estimate reads `optimizedPlan.stats.sizeInBytes` (relation file
    * bytes for the scans this is applied to) against
    * `spark.sql.files.maxPartitionBytes` — deliberately NOT
    * `df.rdd.getNumPartitions`, which would force full physical planning
    * plus whole-stage-codegen compilation of the subtree on every call
    * (measured ~0.1–0.3 s per call, charged to every query that builds
    * the operator). Overestimated stats err toward the no-op side —
    * never toward an extra shuffle at scale. */
  def wide(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // kill switch for A/B measurement (graft.AB) and for deployments
    // whose input layout never degenerates — scale behavior is already
    // a no-op via the split estimate below. It is the only switch that
    // turns widening off (g04 alone keeps its own `g04.opt` gate). Risk
    // it guards: `optimizedPlan.stats` can UNDERESTIMATE a filtered or
    // joined input (selectivity and join-size guesses, not file bytes),
    // and an underestimate of a large input forces a full round-robin
    // shuffle of it. The widening operators take caller-supplied
    // frames, so such an input can reach this estimate.
    if (!spark.conf.get("spark.graft.par.wide.enabled", "true").toBoolean)
      return df
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val estSplits = df.queryExecution.optimizedPlan.stats.sizeInBytes /
      math.max(1L, maxSplit) + 1
    if (estSplits * 2 <= target) df.repartition(target) else df
  }
}
