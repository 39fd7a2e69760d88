package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order clustering: the Morton math on fixtures. The property that
  * justifies its existence — measured multi-column file skipping against
  * a single-key sort baseline — is pinned on the table format itself
  * (VersionedZOrderSpec).
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave: hand-computed Morton codes") {
    // (x=0b11, y=0b01, 2 bits) → bit layout y1 x1 y0 x0 = 0b0111 = 7
    val got = Seq((3L, 1L)).toDF("x", "y")
      .select(ZOrder.interleave(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].head()
    assert(got === 7L)
    // single column degenerates to the identity
    val id = Seq((5L, 0L)).toDF("x", "y")
      .select(ZOrder.interleave(Seq(col("x")), 3).as("z")).as[Long].head()
    assert(id === 5L)
  }

  test("rank scales to [0, 2^bits) with null/degenerate guards") {
    val df = Seq[(java.lang.Long, Int)]((0L, 0), (50L, 1), (100L, 2), (null, 3))
      .toDF("v", "i")
    val got = df.select(col("i"),
        ZOrder.rank(col("v"), lit(0L), lit(100L), 8).as("r"))
      .as[(Int, Long)].collect().toMap
    assert(got(0) === 0L)
    assert(got(1) === 127L)          // floor(0.5 * 255)
    assert(got(2) === 255L)
    assert(got(3) === 0L)            // null → rank 0
    // degenerate range: everything at 0, no division by zero
    val deg = df.filter(col("v").isNotNull)
      .select(ZOrder.rank(col("v"), lit(7L), lit(7L), 8).as("r"))
      .as[Long].collect()
    assert(deg.forall(_ === 0L))
  }

  test("cluster tolerates an all-null column (degenerate rank, no crash)") {
    val df = spark.range(100).select(col("id").as("x"),
      lit(null).cast("long").as("y"))
    val out = ZOrder.cluster(df, Seq("x", "y"), nOut = 2)
    assert(out.count() === 100)
  }
}
