package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and reads
  * its inputs through here, so the same code runs at any scale factor
  * (and, on a real cluster, against any parquet root). Reads are plain
  * `spark.read.parquet` relations: Catalyst handles column pruning and
  * filter pushdown into the scan, which is the scale-critical property
  * (at 100 TB the scan must only materialize referenced columns).
  */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType}

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize the driver-generated `events.ts` column to a session-TZ
    * TIMESTAMP regardless of how the driver wrote it. Observed layouts:
    *   - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong`
    *     Spark surfaces the physical int64 → truncate ns → µs (exactly
    *     DuckDB's conversion) so oracle hashes agree.
    *   - timestamp[us] without UTC adjustment: Spark reads
    *     TIMESTAMP_NTZ → cast to TIMESTAMP. The session time zone is
    *     pinned to UTC ([[GraftSession]]), so the cast is
    *     value-preserving and matches DuckDB's `epoch_us` semantics.
    *   - TIMESTAMP: already the canonical form, no-op.
    * Schema-gated, so the same helper serves the batch reader and the
    * streaming parity specs — the two paths cannot diverge.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame   = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Cheap dataset-version stamp for the per-session [[Memo]]s: a hash of the table's file set
    * (name, length, mtime). Keying a memo on it means a REWRITTEN
    * dataset at the same path gets a fresh build instead of a silently
    * stale checkpoint — the staleness hole a path-only key leaves
    * open. Listing goes through Hadoop's FileSystem (ADVICE r10), so
    * hdfs:// / s3a:// deployments get REAL stamps too — one metadata
    * round-trip, never data-sized. Only when the filesystem itself
    * errors does it fall back to 0 (path-only memoization, the
    * pre-stamp behavior) — and logs that degradation ONCE per path so
    * it can't silently re-open the staleness hole it exists to
    * close. */
  def versionStamp(dir: String, table: String): Long = {
    val pathStr = s"$dir/$table.parquet"
    try {
      val path = new org.apache.hadoop.fs.Path(pathStr)
      // getActiveSession is thread-local; a memo hit from a non-Spark
      // thread must still see spark.hadoop.* (s3a credentials etc.), so
      // fall through to the JVM-global default session before degrading
      // to a bare Configuration (ADVICE r11).
      val conf = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) 0L
      else {
        val st = fs.getFileStatus(path)
        val files =
          if (st.isDirectory) fs.listStatus(path).sortBy(_.getPath.getName)
          else Array(st)
        files.foldLeft(0L) { (h, x) =>
          31L * (31L * (31L * h + x.getPath.getName.hashCode.toLong)
            + x.getLen) + x.getModificationTime
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (stampWarned.add(pathStr)) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"versionStamp($pathStr) degraded to 0 (path-only memo " +
              s"key — in-session rewrites of this path will NOT " +
              s"invalidate memos): ${e.getClass.getName}: ${e.getMessage}")
        }
        0L
    }
  }

  /** Paths whose [[versionStamp]] already logged its fallback — the
    * warn-once guard (a memoized query path calls the stamp on every
    * invocation; one line per path is signal, N lines is noise). */
  private val stampWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Conditional ingest spread — the pipe5 rule, shared by every scan
    * kernel (pipe5/pipe6/x8/x13/voc*): kernel stages DECLARE their
    * parallelism when the parquet scan can't already feed it (the
    * sf-ladder files are a single split; hashing the work onto one
    * task would serialize the kernel), but a corpus-scale scan
    * carries ≥ defaultParallelism splits and must NEVER pay a
    * corpus-sized round-robin exchange of full document text. The
    * conditional's no-op arm returns `base` ITSELF (reference-equal,
    * plan untouched) — pinned by the unit law in PlanShapeSpec
    * (ADVICE r16: at spec scale the spread always fires, so the
    * plan-shape ratchets alone could not distinguish the conditional
    * from a regression back to an unconditional round-robin; the
    * unit law closes that by injecting a pre-partitioned input). */
  private[graft] def spreadIfNarrow(s: SparkSession, base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (base.rdd.getNumPartitions >= par) base else base.repartition(par)
  }

  /** Register every table as a temp view so the whole surface is also
    * reachable SQL-first (`spark.sql("SELECT ... FROM lineitem ...")`),
    * with the engine's registered functions (`dot_product`,
    * `format_phone`) callable inline. Views go through [[apply]], so
    * the events ns→µs normalization applies identically. */
  def registerViews(s: SparkSession, d: String): Unit =
    names.foreach(n => apply(s, d, n).createOrReplaceTempView(n))
}
