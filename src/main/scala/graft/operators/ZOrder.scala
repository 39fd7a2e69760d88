package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-column data skipping.
  *
  * A single-key sort ([[Versioned.zorder]] on one column) gives each
  * data file a tight [min, max] range on ONE column — the manifest's
  * per-file stats then prune files for filters on that column, and
  * nothing else. At 100 TB the second-most-common filter column matters
  * just as much: interleaving the bits of several columns' normalized
  * ranks into one sort key (the Morton/Z curve — the same trade Delta's
  * `OPTIMIZE ZORDER BY` makes) gives every clustered column a PARTIAL
  * range per file, so stats pruning works on ANY of them, at the cost
  * of none being perfectly tight. [[Versioned.zorder]] is the verb that
  * rewrites a table in this layout.
  *
  * All layout math is plain column expressions (scale to a bits-wide
  * integer rank against broadcast per-column [min, max], then a fixed
  * fan of shift/mask/or terms) — codegen'd, no UDF, no shuffle beyond
  * the one range-repartition any compaction pays. Z-order changes the
  * physical LAYOUT only, never query results (spec-asserted
  * content-identical), so there is no SQL oracle — the verification is
  * the measured skip ratio itself.
  */
object ZOrder {

  /** Morton interleave of pre-scaled ranks (each already in
    * [0, 2^bits)): output bit (b·n + c) = bit b of column c. */
  def interleave(scaled: Seq[Column], bits: Int): Column = {
    require(scaled.nonEmpty, "interleave needs at least one column")
    require(bits * scaled.size <= 63,
      s"bits=$bits × ${scaled.size} cols exceeds a signed 64-bit key")
    val n = scaled.size
    val terms = for {
      b <- 0 until bits
      (s, c) <- scaled.zipWithIndex
    } yield shiftleft(shiftright(s, b).bitwiseAND(lit(1L)), b * n + c)
    terms.reduce(_ bitwiseOR _)
  }

  /** Linear rank of a numeric column against broadcast [mn, mx] bounds,
    * scaled to [0, 2^bits): the per-file granularity of the curve.
    * Nulls and degenerate ranges (mn == mx) land at rank 0. */
  def rank(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val span = mx.cast("double") - mn.cast("double")
    val unit = (c.cast("double") - mn.cast("double")) / span
    val top = (1L << bits) - 1
    when(c.isNull || span <= 0, lit(0L))
      .otherwise(floor(least(greatest(unit, lit(0.0)), lit(1.0)) * top).cast("long"))
  }

  /** Reshape `df` into `nOut` Z-ordered output partitions on `cols`:
    * per-column [min, max] come from one bounded aggregate row (2·|cols|
    * scalars — never data-sized), the Morton key is a pure expression,
    * and the layout is range-repartition + in-partition sort on it so
    * every output file covers one contiguous Z-range. */
  def cluster(df: DataFrame, cols: Seq[String], nOut: Int,
      bits: Int = 16): DataFrame = {
    require(cols.nonEmpty, "cluster needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    // an all-null column (or empty df) has null bounds — degrade to the
    // degenerate rank-0 case instead of NPEing the whole OPTIMIZE job
    def bound(i: Int): Double =
      if (bounds.isNullAt(i)) 0.0 else bounds.getDouble(i)
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      rank(col(c), lit(bound(2 * i)), lit(bound(2 * i + 1)), bits)
    }
    df.withColumn("__z", interleave(scaled, bits))
      .repartitionByRange(nOut, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
