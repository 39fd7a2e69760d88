package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality assertion library mirroring the reference's 91-test dbt
  * suite (SURVEY §5): each check returns the VIOLATING rows (dbt
  * convention — a passing check returns an empty frame), and
  * `summarize` rolls a suite into one (check_name, violations) table.
  *
  * Checks are plain filters/aggregations — Catalyst pushes them into the
  * scan, and `summarizeConditions` runs a suite of row predicates over
  * one table in a single pass.
  */
object DataQuality {

  final case class Check(name: String, violations: DataFrame)

  /** FK `relationships` test: child keys with no parent (anti-join). */
  def relationships(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(parent, col(childKey) === col(parentKey), "left_anti")

  /** Roll a suite into one summary frame, ordered by check name. */
  def summarize(checks: Seq[Check]): DataFrame = {
    val counted = checks.map { c =>
      c.violations.agg(count(lit(1)).cast("bigint").as("violations"))
        .select(lit(c.name).as("check_name"), col("violations"))
    }
    counted.reduce(_ unionAll _).orderBy("check_name")
  }

  /** Unpivot a one-row frame of per-check counts into the summarize
    * schema (check_name, violations) — one row per (name, count column). */
  def countsToSummary(counted: DataFrame,
      checks: Seq[(String, String)]): DataFrame =
    counted.select(explode(array(checks.map { case (name, c) =>
        struct(lit(name).as("check_name"),
          col(c).cast("bigint").as("violations"))
      }: _*)).as("kv"))
      .select(col("kv.check_name").as("check_name"),
        col("kv.violations").as("violations"))

  /** One-pass predicate suite: every check is a row predicate over the
    * SAME source, counted in a single conditional aggregate — one scan
    * instead of one per check. A `summarize` over per-check
    * filter+count frames reads the table once per check, which at
    * 100 TB is |checks|−1 redundant full passes; here the scan runs
    * once and each check rides along as `sum(when(cond, 1))`.
    * Output-identical to
    * `summarize(checks.map { case (n, c) => Check(n, df.filter(c)) })`
    * for checks over this source: a filter keeps exactly the rows the
    * predicate evaluates to true on (null ⇒ dropped ⇒ not counted). */
  def summarizeConditions(df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "summarizeConditions needs at least one check")
    val aggs = checks.zipWithIndex.map { case ((_, cond), i) =>
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(s"c$i")
    }
    countsToSummary(df.agg(aggs.head, aggs.tail: _*),
      checks.zipWithIndex.map { case ((name, _), i) => name -> s"c$i" })
  }
}
