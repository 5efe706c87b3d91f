package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The schema memo in [[Tables.apply]]: a warm open starts no Spark
  * job and reads what an inferring read reads, a table rewritten at
  * the same path is read with its new schema, and a degraded (0) stamp
  * never serves a memoized schema. */
class TablesSchemaMemoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread. Listener events arrive
    * asynchronously but in order, so once the start of a marker job run
    * after `body` has been seen, every job `body` started has been
    * counted. Jobs are told apart by a description set on this thread
    * only, so another thread's jobs are never counted. */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val tag = s"tables-memo-probe-${System.nanoTime()}"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      val r = try body finally sc.setJobDescription(null)
      sc.setJobDescription(s"$tag/marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var marker = false
      while (!marker) {
        val d = seen.poll(60, TimeUnit.SECONDS)
        assert(d != null, "the marker job's start was never delivered")
        if (d == s"$tag/marker") marker = true else n += 1
      }
      (r, n)
    } finally sc.removeSparkListener(listener)
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("coalesce(sum(cast(hash(*) as bigint)), 0)", "count(*)").head()
    (r.getLong(0), r.getLong(1))
  }

  test("a warm Tables.apply starts no Spark job, a cold one at least " +
    "one, and the warm read equals an inferring read for every table") {
    // a fresh session is a fresh memo key: every first open is cold
    val s = spark.newSession()
    for (name <- Tables.names) {
      val (_, cold) = jobsOf(s)(Tables(s, sf, name))
      assert(cold >= 1, s"$name: the cold open inferred its schema without a job")
      val (warm, warmJobs) = jobsOf(s)(Tables(s, sf, name))
      assert(warmJobs == 0, s"$name: a warm open started $warmJobs job(s)")
      val raw = s.read.parquet(s"$sf/$name.parquet")
      val inferred = if (name == "events") Tables.normalizeEventTs(raw) else raw
      assert(warm.schema == inferred.schema, s"$name: schema differs from an inferring read")
      assert(digest(warm) == digest(inferred), s"$name: rows differ from an inferring read")
    }
  }

  test("a table rewritten at the same path in the same session is read " +
    "with its new column and values") {
    import org.apache.spark.sql.functions.col
    withTempDir("tables-memo") { dir =>
      val path = s"$dir/documents.parquet"
      spark.range(5).write.parquet(path)
      assert(Tables(spark, dir, "documents").columns.toSeq == Seq("id"))
      assert(Tables(spark, dir, "documents").columns.toSeq == Seq("id")) // warm
      spark.range(5).withColumn("extra", col("id") * 10)
        .write.mode("overwrite").parquet(path)
      val after = Tables(spark, dir, "documents")
      assert(after.columns.toSeq == Seq("id", "extra"),
        "the rewritten table was read with the superseded schema")
      assert(after.selectExpr("sum(extra)").head().getLong(0) == 100L)
    }
  }

  test("a path whose version stamp is 0 is read uncached: no memoized " +
    "schema is served, and every open infers") {
    withTempDir("tables-memo") { base =>
      spark.range(3).write.parquet(s"$base/t1/documents.parquet")
      // a glob root reads fine but lists nothing as a literal path
      val dir = s"$base/t*"
      assert(Tables.versionStamp(dir, "documents") == 0L)
      val memo = Tables.schemas("documents")
      val bogus = StructType(Seq(StructField("bogus", LongType)))
      memo.getStamped(spark, dir, 0L)(bogus)
      for (_ <- 1 to 2) {
        val (df, jobs) = jobsOf(spark)(Tables(spark, dir, "documents"))
        assert(df.columns.toSeq == Seq("id"), "a 0 stamp served a memoized schema")
        assert(jobs >= 1, "a 0-stamped open skipped schema inference")
      }
      assert(memo.entries.keySet.filter(_._2 == dir) == Set((spark, dir, 0L)),
        "a 0-stamped open stored a schema")
      memo.entries.remove((spark, dir, 0L))
    }
  }
}

