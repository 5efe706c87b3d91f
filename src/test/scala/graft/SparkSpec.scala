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
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toLong)
    .config("spark.sql.codegen.useIdInClassName", "false")
    .getOrCreate()

  /** `body` given a fresh temp directory named `prefix…`, deleted
    * with everything in it when `body` ends. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** Build one `Bench.memoBuilds` line the way Bench primes it. */
  def primeMemo(name: String, dir: String): Unit =
    Bench.memoBuilds.find(_._1 == name).get._3(spark, dir)

  /** `body` run on each evaluation path: interpreted (no whole-stage
    * codegen, interpreted projections), then generated (CODEGEN_ONLY and
    * no codegen fallback, so a projection's or a whole-stage stage's
    * compile failure throws instead of falling back). `body` must build
    * its Dataset itself: a Dataset keeps the physical plan it first made,
    * so one planned on the interpreted path would run that plan again. */
  def onBothPaths[T](body: => T): (T, T) = {
    def under(conf: (String, String)*): T = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    (under("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      under("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"))
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; let the JVM exit clean it up
    super.afterAll()
  }
}
