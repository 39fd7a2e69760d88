package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Harness.session()` builds the extended session every main runs on.
  * Like GraftExtensionsSpec it needs a FRESH session (extensions bind at
  * session build). When done it clears the active and default session
  * and hands back the ones that were set before, so SparkSpec's suites
  * stay extension-free and code that resolves `SparkSession.active`
  * (GraftCatalog) still finds their session. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var before: (Option[SparkSession], Option[SparkSession]) =
    (None, None)

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Harness.session()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    before = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    before._1.foreach(SparkSession.setActiveSession)
    before._2.foreach(SparkSession.setDefaultSession)
    super.afterAll()
  }

  test("the session runs in UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("shuffle partitions equal the default parallelism") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
  }

  test("the engine's SQL functions resolve") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) === 11.0)
  }
}
