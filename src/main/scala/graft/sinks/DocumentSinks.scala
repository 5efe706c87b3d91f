package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The engine's sink surface (SURVEY.md §2.1 S2/S3/S5).
  *
  * One interface, three implementations:
  *   - [[JsonLinesSink]] — the reference's JSONL output
  *     (clean_and_write.py:413-420), minus its per-record file reopen
  *     anti-pattern (Spark writers keep one open file per task). JSON
  *     field order follows the DataFrame schema, which is stable —
  *     golden comparisons canonicalize keys anyway (SURVEY.md §7.4.4).
  *   - [[ParquetSink]] — the columnar table face used by the oracle
  *     harness and any downstream Spark consumer.
  *   - The MongoDB collection sink of the reference (`mongoimport`,
  *     main.ipynb cell 31) maps to the MongoDB Spark connector
  *     (`format("mongodb")`); that jar isn't shipped in this
  *     environment, so [[FormatSink]] carries the wiring and the
  *     connector name is a parameter — same write path, pluggable
  *     format.
  *
  * All sinks write partition-parallel; `overwrite` gives the
  * reference's drop-and-recreate semantics (S5). The json, parquet,
  * format and partitioned sinks keep Spark's `DataFrameWriter`. The
  * two text sinks ([[MongoImportSink]], [[PrettyJsonSink]]) write
  * through [[LineWriter]], which ships the Hadoop configuration once
  * per write as a broadcast and commits each partition's successful
  * attempt by a rename: Spark's text writer put two copies of that
  * configuration (113 KB, 5-7 ms to deserialize each) into every task,
  * and the OSM dump's write tasks spent a median 33 ms deserializing.
  */
trait DocumentSink {
  def write(df: DataFrame, path: String, overwrite: Boolean = true): Unit

  protected def mode(overwrite: Boolean): SaveMode =
    if (overwrite) SaveMode.Overwrite else SaveMode.Append
}

object JsonLinesSink extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit =
    df.write.mode(mode(overwrite)).json(path)
}

/** The reference's `pretty=True` branch (clean_and_write.py:413-417):
  * each document rendered as INDENTED multi-line JSON, records
  * separated by a newline — the human-inspection output. The
  * reference's own load path runs `pretty=False` (main.ipynb cell
  * 29), which is [[JsonLinesSink]]; this sink closes the last
  * unported §2 cell. Spark's json writer is strictly
  * one-line-per-record, so the pretty form renders per row through
  * `to_json(..., pretty)` (codegen'd Jackson, no UDF) and writes as
  * text ([[LineWriter]]), one concatenated pretty stream per
  * partition's part file, layout-equivalent to the reference's
  * appended `json.dumps(el, indent=2) + "\n"` records. Documented
  * WHITESPACE deviations (both invisible to any JSON consumer — the
  * round-trip spec parses both):
  *   - Jackson's pretty printer separates keys with " : " where
  *     Python's json.dumps uses ": ";
  *   - Jackson renders ARRAY values inline on one line (its
  *     FixedSpaceIndenter default) where Python indent=2 puts each
  *     array element on its own indented line — OSM documents carry
  *     array fields (node_refs, pos), so those lines differ beyond
  *     the separator (ADVICE r16: the earlier comment claimed byte
  *     layout with only the separator deviation, which was wrong).
  * Spark's `to_json(..., pretty)` owns the generator config, so the
  * array indenter is not reachable without re-implementing the
  * writer; parse-level equivalence is the contract this sink keeps. */
object PrettyJsonSink extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    LineWriter.write(df.select(to_json(struct(df.columns.toSeq.map(col): _*),
      Map("pretty" -> "true")).as("value")), path, overwrite)
  }
}

object ParquetSink extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit =
    df.write.mode(mode(overwrite)).parquet(path)
}

/** Generic format-keyed sink — e.g. `FormatSink("mongodb")` with the
  * connector on the classpath, options `connection.uri`/`database`/
  * `collection`. */
case class FormatSink(format: String, options: Map[String, String] = Map.empty)
  extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit = {
    val w = df.write.mode(mode(overwrite)).format(format).options(options)
    if (path.nonEmpty) w.save(path) else w.save()
  }
}

/** Hive-style partitioned parquet sink — the LAYOUT lever at 100 TB:
  * writing the corpus partitioned by a low-cardinality curation key
  * (source, language, train/val/test split) turns every downstream
  * filter on that key into directory pruning — zero I/O for the
  * excluded partitions, visible as `PartitionFilters` in the scan.
  * Keep partition keys low-cardinality (≤ thousands of directories);
  * high-cardinality layout belongs to bucketing (`BucketingSpec`). */
case class PartitionedParquetSink(partitionKeys: String*)
  extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit =
    df.write.mode(mode(overwrite))
      .partitionBy(partitionKeys: _*)
      .parquet(path)
}
