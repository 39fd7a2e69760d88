package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt-style model DAG executed natively on Spark (SURVEY §3.1: "a
  * ModelGraph of named DataFrame-producing nodes with explicit
  * dependencies, topologically executed; each node = pure function
  * Map[String, DataFrame] => DataFrame").
  *
  * Materializations mirror the reference's four strategies (M4):
  * view → temp view (lazy, stays in the Catalyst plan — downstream nodes
  * compose into ONE optimized plan, the Spark-native analog of dbt views);
  * table → parquet write + re-read (cuts lineage, like a dbt table);
  * external → parquet write at a caller-visible path, still in the DAG.
  * Incremental/MERGE semantics live in operators.Versioned
  * (mergeUpsert, merge, incrementalRun); SCD2 in operators.Scd2.
  */
object ModelGraph {

  sealed trait Materialization
  case object View extends Materialization
  final case class Table(path: String, partitionBy: Seq[String] = Nil) extends Materialization
  /** Single-file export for downstream consumers that expect ONE file
    * (the reference's S13 csv/parquet exports). `maxSingleFileRows`
    * gates the coalesce(1): an export bigger than that funnels the
    * whole mart through one task — above the gate the write keeps its
    * natural parallelism (consumers glob the directory instead). The
    * gate costs one count on the node's (already-built) frame, bounded
    * by export size. */
  final case class External(path: String,
      maxSingleFileRows: Long = 10_000_000L) extends Materialization

  final case class Node(
      name: String,
      deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      materialization: Materialization = View)

  /** Topological order via Kahn's algorithm; fails fast on cycles or
    * missing deps (dbt parse-time behavior). */
  def topoOrder(nodes: Seq[Node], sources: Set[String]): Seq[Node] = {
    val byName = nodes.map(n => n.name -> n).toMap
    nodes.foreach { n =>
      n.deps.foreach { dep =>
        require(byName.contains(dep) || sources.contains(dep),
          s"node ${n.name} depends on unknown '$dep'")
      }
    }
    val resolved = mutable.LinkedHashSet[String]() ++ sources
    val out = mutable.ArrayBuffer[Node]()
    var remaining = nodes
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(resolved.contains))
      require(ready.nonEmpty,
        s"cycle or unresolvable deps among: ${blocked.map(_.name).mkString(", ")}")
      ready.foreach { n => resolved += n.name; out += n }
      remaining = blocked
    }
    out.toSeq
  }

  /** Execute the DAG over source DataFrames; returns every node's frame. */
  def run(spark: SparkSession, nodes: Seq[Node],
      sourceFrames: Map[String, DataFrame]): Map[String, DataFrame] = {
    val frames = mutable.Map[String, DataFrame]() ++ sourceFrames
    topoOrder(nodes, sourceFrames.keySet).foreach { node =>
      val df = node.build(frames.toMap)
      val materialized = node.materialization match {
        case View => df
        case Table(path, parts) =>
          // Lake-table writes follow the 128 MB target-file discipline
          // (reference table properties; graft.sources.FileLayout).
          graft.sources.FileLayout.writeTargetSized(df, path, parts)
          spark.read.parquet(path)
        case External(path, maxSingleFileRows) =>
          // parallel write FIRST, then compact to one file only if the
          // export is under the gate: the row count comes from parquet
          // footers (metadata-only) and the compaction re-reads only
          // the small written export — the node's lineage is never
          // evaluated twice, and a mart above the gate keeps its
          // parallel layout (consumers glob the directory)
          df.write.mode("overwrite").parquet(path)
          val written = spark.read.parquet(path)
          val parts = new java.io.File(path).listFiles()
            .count(f => f.isFile && f.getName.endsWith(".parquet"))
          if (parts > 1 && written.count() <= maxSingleFileRows) {
            val tmp = path + ".compact"
            written.coalesce(1).write.mode("overwrite").parquet(tmp)
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles().foreach(rm)
              f.delete(); ()
            }
            // crash-safe swap: stage the live dir to .old FIRST, publish,
            // THEN drop the backup — a crash at any point leaves either
            // the old or the new export readable, never neither
            val live = new java.io.File(path)
            val old = new java.io.File(path + ".old")
            rm(old)
            if (!live.renameTo(old))
              throw new java.io.IOException(s"could not stage out $path")
            if (!new java.io.File(tmp).renameTo(live))
              throw new java.io.IOException(
                s"could not publish compacted $path; previous data at $old")
            rm(old)
          }
          spark.read.parquet(path)
      }
      frames += node.name -> materialized
    }
    frames.toMap
  }
}
