package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — same config surface as
  * [[GraftSession]] but few threads (specs are tiny data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .appName("graft-test")
    .master("local[4]")
    .withExtensions(new GraftSparkExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Build one `Bench.memoBuilds` line the way Bench primes it. */
  def primeMemo(name: String, dir: String): Unit =
    Bench.memoBuilds.find(_._1 == name).get._3(spark, dir)

  override def afterAll(): Unit = {
    // shared across suites in one JVM; let the JVM exit clean it up
    super.afterAll()
  }
}
