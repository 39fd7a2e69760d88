package graft

import org.apache.spark.sql.SparkSession

/** The one session every `main` in this package runs on, so Bench,
  * Profile, AB, Verify and the rest measure and check the same engine
  * configuration.
  *
  * `SPARK_GRAFT_CPUS` sets the local core count; unset, it is every
  * processor the JVM sees.
  */
object Harness {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with the engine's extensions, AQE on, UTC, the UI
    * off. Shuffle partitions equal the context's default parallelism —
    * `cpus` when this call starts the context; an already-running
    * context (a test JVM) keeps its own core count. */
  def session(): SparkSession = {
    val n = cpus
    require(n > 0, s"SPARK_GRAFT_CPUS must be positive, got $n")
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads every table present under `sfDir` once, so the first timed
    * query is not charged for page-cache fill. Partial directories are
    * legal (the sf10 proof generates only the corpora its families
    * read); a query against a missing table still fails in its own
    * slot. */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names
      .filter(n => new java.io.File(s"$sfDir/$n.parquet").exists())
      .foreach(n => Tables.t(spark, sfDir, n).count())
}
