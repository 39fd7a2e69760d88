package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.Versioned

/** Rounds of one write and one read on a partitioned catalog table: the
  * write is a bare `spark.sql` MERGE of one CDC batch, the read a
  * Gold-style aggregate over a recent date range plus a lookup of a few
  * keys. The initial load (set-up) is the generator's Silver. */
final class LakeDml extends Workload {
  private val Table = "graft.lake.events"
  private var inputs: String = _
  private var root: String = _
  private var reqs: IndexedSeq[(Long, Seq[Long])] = _
  private var round = 0
  private val answers = ArrayBuffer.empty[Map[String, Any]]
  // traced: per MERGE, files added / removed and bytes added
  private val fileDeltas = ArrayBuffer.empty[(Int, Int, Long)]

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    inputs = ctx.arg("inputs")
    root = new File(ctx.arg("work"), "warehouse/lake/events").getPath
    reqs = scala.io.Source.fromFile(s"$inputs/reads.txt").getLines()
      .map(_.split(" ")).map(a => (a(0).toLong, a(1).split(",").toSeq.map(_.toLong)))
      .toIndexedSeq
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    spark.read.parquet(s"$inputs/initial.parquet").createOrReplaceTempView("lake_initial")
    spark.sql(s"""CREATE TABLE $Table PARTITIONED BY (event_date) AS
                 |SELECT event_id, user_id, event_type, event_ts, value, event_date
                 |FROM lake_initial""".stripMargin)
  }

  private def live: Seq[String] = Versioned.files(root, Versioned.latestVersion(root).get)

  private def step(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = round
    round += 1
    val before = if (ctx.traced && ctx.timing) live.toSet else Set.empty[String]
    ctx.op("write", s"merge:$r", 1) {
      ctx.tracer.span("sources.merge") {
        spark.read.parquet(f"$inputs/cdc/batch-$r%05d.parquet")
          .createOrReplaceTempView("lake_cdc")
        spark.sql(s"""MERGE INTO $Table t USING lake_cdc s
          |ON t.event_id = s.event_id AND t.event_date = s.event_date
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET user_id = s.user_id,
          |  event_type = s.event_type, event_ts = s.event_ts, value = s.value
          |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
          |  (event_id, user_id, event_type, event_ts, value, event_date)
          |  VALUES (s.event_id, s.user_id, s.event_type, s.event_ts, s.value,
          |    s.event_date)""".stripMargin)
      }
    }
    if (ctx.traced && ctx.timing) {
      val after = live.toSet
      val added = after -- before
      fileDeltas += ((added.size, (before -- after).size,
        added.toSeq.map(f => new File(root, f).length()).sum))
    }
    val (fromDay, keys) = reqs(r)
    ctx.op("read", s"read:$r", 1) {
      val (agg, look) = ctx.tracer.span("sources.read") {
        (spark.sql(s"""SELECT event_date, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM $Table WHERE event_date >= date_from_unix_date($fromDay)
             |GROUP BY event_date, event_type
             |ORDER BY event_date, event_type""".stripMargin).collect(),
         spark.sql(s"""SELECT event_id, user_id, event_type, event_ts, value,
             |  event_date FROM $Table WHERE event_id IN (${keys.mkString(",")})
             |ORDER BY event_id""".stripMargin).collect())
      }
      answers += Map("round" -> r,
        "agg" -> agg.map(_.toSeq.map(v => if (v == null) null else v)).toSeq,
        "lookup" -> look.map(_.toSeq).toSeq)
    }
  }

  def warm(ctx: Ctx): Unit = (1 to ctx.int("warmup")).foreach(_ => step(ctx))
  def run(ctx: Ctx): Unit = (1 to ctx.int("ops")).foreach(_ => step(ctx))

  def finish(ctx: Ctx): (Map[String, Any], Map[String, Double]) = {
    val spark = ctx.spark
    val dump = new File(ctx.arg("work"), "lake_final").getPath
    spark.table(Table).write.mode("overwrite").parquet(dump)
    val files = live
    val check = Map(
      "merges" -> round,
      "versions" -> Versioned.versions(root).size,
      "final_dump" -> dump,
      "stored_mb" -> Main.dirBytes(new File(root)) / 1e6,
      "reads" -> answers)
    if (!ctx.traced) return (check, Map.empty)
    val spans = ctx.tracer.spans.toSeq.filter(_.op >= 0)
    val c = ctx.collector.get
    val jobs = c.jobIntervals.map { case (s, e) => (s.toDouble, e.toDouble) }
    val merges = spans.filter(_.name == "sources.merge")
    val inJobs = merges.map(s => Main.covered(jobs, s.start, s.end))
    val readOps = ctx.ops.filter(_.kind == "read")
    val readTasks = c.tasks.asScala.toSeq.filter(t =>
      readOps.exists(o => t.launch >= o.start && t.launch <= o.end))
    val nm = merges.size.max(1).toDouble
    val nr = readOps.size.max(1).toDouble
    val m = mutable.LinkedHashMap[String, Double](
      "sources.merge_jobs_ms" -> Main.median(inJobs),
      "sources.merge_no_job_ms" -> Main.median(merges.zip(inJobs)
        .map { case (s, j) => s.end - s.start - j }),
      "sources.files_added_per_merge" -> fileDeltas.map(_._1).sum / nm,
      "sources.files_removed_per_merge" -> fileDeltas.map(_._2).sum / nm,
      "sources.written_mb_per_merge" -> fileDeltas.map(_._3).sum / 1e6 / nm,
      "sources.read_scan_mb" -> readTasks.map(_.inputBytes).sum / 1e6 / nr,
      "sources.read_rows_scanned" -> readTasks.map(_.inputRecords).sum / nr,
      "sources.live_files" -> files.size.toDouble,
      "sources.live_mb" -> files.map(f => new File(root, f).length()).sum / 1e6)
    (check, m.toMap)
  }
}
