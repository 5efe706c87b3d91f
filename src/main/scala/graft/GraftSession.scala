package graft

import org.apache.spark.sql.SparkSession

/** Single place the engine's SparkSession is configured, so Bench,
  * Verify and tests all run the same way.
  *
  * Scale-relevant settings:
  *   - `spark.sql.shuffle.partitions` = cores in local mode (32 on the
  *     driver box); on a real cluster this is AQE-coalesced anyway.
  *   - AQE on (Spark 4 default) → runtime skew-join splitting and
  *     partition coalescing, the knobs that matter at 100 TB.
  *   - `parquet.nanosAsLong` + UTC session TZ: the driver's
  *     `events.parquet` layout has varied (TIMESTAMP(NANOS), then
  *     timestamp[us] without UTC adjustment); [[Tables.normalizeEventTs]]
  *     is schema-gated and canonicalizes any of them to a UTC TIMESTAMP
  *     that agrees with DuckDB's `epoch_us` semantics.
  *   - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]
  *     (Spark's default is 100) and whole-stage class names without
  *     the stage id: the engine reruns the same queries in one JVM,
  *     and a generated class the JVM-global cache has evicted is
  *     compiled again. The working set of one pass is about 100
  *     classes for the `osm` pass and about 2,440 for the 228-query
  *     registry at sf0.01 and at sf0.1 (2,810-2,820 while class names
  *     carried the stage id). At the default cap a warm sf0.01
  *     registry pass compiled about 3,300 classes and a warm `osm`
  *     pass 53; a cap of 1000 still compiled 1,922 per warm registry
  *     pass (NO-GO); at 8192 they compile 53-60 and 0. The cap cost
  *     18 MB of metaspace and 28 MB of heap after GC at the end of
  *     two sf0.01 registry passes.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Cap of Spark's JVM-global codegen cache. `CodeGenerator` reads it
    * once per JVM, from the first session that generates code, so it
    * is set on every builder (here and in the specs' session) and is
    * not an option. Spark builds the cache on Guava, which splits the
    * cap over 4 segments that evict on their own, so a working set
    * just under the cap still thrashes: the cap is the smallest power
    * of two at least twice the largest measured working set (2,819
    * classes, one registry pass at sf0.1 before class names dropped
    * the stage id). Not unbounded: the queries whose generated source
    * differs on every run (53-60 classes per warm registry pass) would
    * grow it forever. */
  val CodegenCacheEntries: Int = 8192

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // A whole-stage class is named after its stage id, and a query's
      // stage ids differ from run to run under adaptive execution:
      // s6_ann_recall compiled 48-78 classes on every warm run whose
      // source differed from a cached one only in that suffix. Without
      // it, equal pipelines share one class; the id still shows as
      // `*(N)` in the plan.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // bloom_filter_agg (and stat.bloomFilter, which delegates to it
      // in Spark 4) silently CLAMPS its sketch at these caps — the
      // defaults (4M items / 64M bits = 8 MB) saturate a
      // 120M-edge filter to fpp ≈ 1, i.e. ZERO pruning, measured by
      // the r14 ×100 probe as gr2's closing join eating all 4.1B
      // wedges. 512 MB of filter per 100M+-key prune is the right
      // trade on any box this engine targets; past even THIS cap a
      // bloom degrades gracefully (less pruning, never wrong answers
      // — the exact join always decides), which is the documented
      // 10¹²-edge posture in SCALE.md.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        (500L * 1000 * 1000).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (4L * 1024 * 1024 * 1024).toString)
      // 64 MB broadcast threshold (default 10 MB): the r14 ×100 probe
      // measured the default's PLAN CLIFF — the co-purchase degree
      // and label tables are ~3 MB at ×10 (broadcast; edge rows never
      // shuffle for the attachment) but ~32 MB at ×100, where the
      // join fell off the threshold into a sort-merge that shuffled
      // the 120M-row edge relation twice (gr4 1.0 → 19.4 s, ~1.9×
      // super-linear). A node-sized dimension that fits executor
      // memory with room to spare should broadcast at any scale this
      // engine targets; genuinely corpus-scale build sides (x10/x12's
      // vocabularies) stay above even this threshold by orders of
      // magnitude, so their SMJ plans are unchanged.
      .config("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec logs a "No Partition Defined ... may cause serious
    // performance degradation" WARN per unpartitioned window — every
    // such site in this engine runs over a relation bounded by
    // literals or aggregate grain, never corpus volume (documented
    // per site; VERDICT r15/r16 re-audited all nine), so the warning
    // is noise that buried the bench record's per-query tail under
    // hundreds of repeats (VERDICT r16 #5). Silence exactly this
    // logger; anything else at WARN still surfaces.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
