package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1 — the OSM XML source (SURVEY.md §2.1): the Spark-native
  * equivalent of the reference's streaming `ET.iterparse`
  * (clean_and_write.py:425). One `spark.read.format("xml")` per record
  * type — the `rowTag` selection is source-level pruning (non-target
  * elements never leave the scan) — then `unionByName` with a
  * `doc_type` discriminator, exactly the reference's three-shape
  * collection.
  *
  * Explicit schemas: ids/refs stay strings (the reference keeps OSM
  * ids as strings), lat/lon parse to double (F11), and schema
  * inference never runs (an inference pass would double-read 100 TB).
  */
object OsmXmlSource {

  private[graft] val tagArr = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))

  private def attrs(extra: StructField*): StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("_version", StringType),
    StructField("_changeset", StringType),
    StructField("_timestamp", StringType),
    StructField("_user", StringType),
    StructField("_uid", StringType)) ++ extra)

  val nodeSchema: StructType = attrs(
    StructField("_lat", DoubleType),
    StructField("_lon", DoubleType),
    StructField("tag", tagArr))

  val waySchema: StructType = attrs(
    StructField("nd", ArrayType(StructType(Seq(StructField("_ref", StringType))))),
    StructField("tag", tagArr))

  val relationSchema: StructType = attrs(
    StructField("member", ArrayType(StructType(Seq(
      StructField("_type", StringType),
      StructField("_ref", StringType),
      StructField("_role", StringType))))),
    StructField("tag", tagArr))

  private def read(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .schema(schema)
      .load(path)

  def nodes(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "node", nodeSchema)

  def ways(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "way", waySchema)

  def relations(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "relation", relationSchema)

  /** Single-file `.osm` inputs LARGER than this transparently
    * pre-chunk through [[OsmChunk.chunked]] before the scan (VERDICT
    * r13 #7: the chunker was a pre-pass every caller had to
    * remember). Below it, chunking overhead outweighs the parallelism
    * it buys on a local scan; directories (already N files = N parse
    * tasks) and non-local paths (`File.isFile` is false for
    * hdfs://…) pass through untouched. */
  private[osm] val ChunkThresholdBytes: Long = 16L << 20

  /** Resolve a [[collection]] read path to (path, parts): a
    * chunkable over-threshold single file becomes its fragment
    * directory with no post-scan exchange needed; a file that CANNOT
    * chunk (DOCTYPE prologue → one fragment; or an unwritable source
    * directory — the stamped sibling dir needs write access) keeps
    * the single-file scan but fans the raw rows out post-scan, so
    * the pipeline never serializes end-to-end.
    *
    * NON-local paths (ADVICE r14: `File.isFile` is false for
    * `hdfs://…`/`s3a://…`, which used to return (path, 0) — a large
    * remote single-file `.osm` got neither chunking nor the post-scan
    * fan-out, serializing the whole pipeline into the one XML parse
    * task) are probed through their own Hadoop FileSystem: a remote
    * SINGLE FILE over the threshold keeps the single-file scan (the
    * chunker is a local-FS pre-pass) but fans out post-scan; a remote
    * directory is already N files = N parse tasks and passes through;
    * an unprobeable path (globs, dead namenodes) keeps the fan-out —
    * on an already-parallel scan the redistribution costs one narrow
    * raw-row exchange, on a single file it is the ONLY parallelism. */
  private[osm] def resolveChunked(spark: SparkSession, path: String,
      threshold: Long): (String, Int) = {
    val f = new java.io.File(path)
    if (!f.isFile && !f.isDirectory) {
      val parts = spark.sparkContext.defaultParallelism
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(hp)
        if (st.isFile && st.getLen > threshold) (path, parts) else (path, 0)
      } catch {
        case scala.util.control.NonFatal(_) => (path, parts)
      }
    } else if (!f.isFile || f.length() <= threshold) (path, 0)
    else {
      val parts = spark.sparkContext.defaultParallelism
      try {
        val dir = OsmChunk.chunked(path, parts)
        val n = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .count(_.getName.startsWith("part-"))
        if (n > 1) (dir, 0) else (path, parts)
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"transparent chunking of $path failed (falling back to " +
              s"single-file scan + post-scan redistribution): " +
              s"${e.getClass.getName}: ${e.getMessage}")
          (path, parts)
      }
    }
  }

  /** All three record types shaped ([[OsmShape.shape]]) and unioned
    * into the single wide collection with `doc_type` discriminator.
    * A single `.osm` file over [[ChunkThresholdBytes]] is chunked
    * transparently (see [[resolveChunked]]) — callers no longer
    * pre-chunk by hand. */
  def collection(spark: SparkSession, path: String): DataFrame = {
    val (p, parts) = resolveChunked(spark, path, ChunkThresholdBytes)
    collection(spark, p, parts)
  }

  /** [[collection]] with the scan's rows REDISTRIBUTED before the
    * shape stage. Spark's built-in XML source does not split a single
    * file (a rowTag record may span any byte boundary, so each file
    * is one partition — verified empirically at any
    * `maxPartitionBytes`), which makes one planet-scale `.osm` a
    * single-task pipeline no matter the cluster: parse, shape,
    * Extended-JSON encode and write would ALL serialize. A
    * round-robin repartition right after the scan confines the
    * serial section to the parse alone — shape + encode + write fan
    * out to `parts` tasks at the cost of one exchange of the raw
    * rows. `parts <= 0` keeps the scan partitioning (the fixture/
    * spec path, where an exchange would be noise).
    *
    * PREFERRED at scale: pre-chunk the file with [[OsmChunk]] (one
    * streamed element-boundary split at ingest) and read the
    * fragment directory with `parts = 0` — then the PARSE itself
    * parallelizes too and no raw-row exchange is needed at all
    * (OsmEtlBench r13: 11.3 → 23.8 input MB/s at reference scale). */
  def collection(spark: SparkSession, path: String, parts: Int): DataFrame = {
    def spread(df: DataFrame): DataFrame =
      if (parts > 0) df.repartition(parts) else df
    val n = OsmShape.shape(spread(nodes(spark, path)), "node")
    val w = OsmShape.shape(spread(ways(spark, path)), "way")
    val r = OsmShape.shape(spread(relations(spark, path)), "relation")
    n.unionByName(w, allowMissingColumns = true)
      .unionByName(r, allowMissingColumns = true)
  }
}
