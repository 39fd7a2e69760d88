package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DataQualitySpec extends SparkSpec {
  import spark.implicits._
  import DataQuality._

  // five rows: one null event_type, one negative value, one quantity
  // out of [1, 50], and two rows that pass every check
  private lazy val df = Seq(
    (Some("click"), 1.0, 10),
    (None, 2.0, 5),
    (Some("view"), -3.0, 20),
    (Some("view"), 4.0, 99),
    (Some("purchase"), 5.0, 1)
  ).toDF("event_type", "value", "qty")

  private val checks = Seq(
    "type_accepted" -> !col("event_type").isin("click", "view", "purchase"),
    "value_nonneg" -> (col("value") < 0),
    "qty_range" -> (col("qty") < 1 || col("qty") > 50),
    "type_notnull" -> col("event_type").isNull)

  private def rows(f: org.apache.spark.sql.DataFrame) =
    f.as[(String, Long)].collect().toMap

  test("summarizeConditions equals summarize of the per-check filters") {
    val fused = rows(summarizeConditions(df, checks))
    val perCheck = rows(summarize(checks.map { case (n, c) =>
      Check(n, df.filter(c)) }))
    assert(fused === perCheck)
    assert(fused === Map("type_accepted" -> 0L, "value_nonneg" -> 1L,
      "qty_range" -> 1L, "type_notnull" -> 1L))
  }

  test("a predicate that evaluates to null is not counted") {
    // `NOT (null IN (...))` is null on the null row, so type_accepted
    // counts nothing — exactly as a filter drops that row
    val got = rows(summarizeConditions(df, checks.take(1)))
    assert(got === Map("type_accepted" -> 0L))
    assert(df.filter(checks.head._2).count() === 0L)
  }

  test("an empty check list is rejected with a clear message") {
    val e = intercept[IllegalArgumentException](summarizeConditions(df, Nil))
    assert(e.getMessage.contains(
      "summarizeConditions needs at least one check"))
  }
}
