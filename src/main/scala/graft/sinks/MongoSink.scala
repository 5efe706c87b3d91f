package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernel

/** S3 — the reference's MongoDB load, shippable without a live mongod.
  *
  * The reference's actual load path is NOT a driver API: it dumps the
  * shaped documents to a JSON file and bulk-loads with `mongoimport`
  * (main.ipynb cell 31 — 385,777 docs at 14.2 MB/s). This module
  * reproduces that contract end-to-end:
  *
  *   - [[MongoImportSink]] writes newline-delimited MongoDB Extended
  *     JSON (v2, canonical mode) that `mongoimport --type json` ingests
  *     unmodified. Canonical mode matters: plain JSON numbers land in
  *     Mongo as doubles, silently widening every int64 id — the
  *     `{"$numberLong": "…"}` / `{"$date": …}` wrappers are how the
  *     integral types and timestamps survive the import. The lines go
  *     out through [[LineWriter]]: each task streams its partition to
  *     a part file under `_temporary/<job>/<attempt>/`, and the driver
  *     renames only each partition's successful attempt into the
  *     dump, then removes `_temporary/<job>` (a failed job too) and
  *     writes `_SUCCESS`; mongoimport fans out over the part files.
  *     Spark's `DataFrameWriter.text` lost here on per-task cost: its
  *     tasks each deserialized two copies of the Hadoop configuration
  *     (113 KB, 5-7 ms per copy), and the dump's write tasks spent a
  *     median 33 ms deserializing before they ran.
  *
  *   - [[MongoSinkConfig]] validates the live-connector path (the
  *     `format("mongodb")` wiring in [[FormatSink]]) at plan time:
  *     URI scheme, database/collection naming rules, and the
  *     field-name constraints Mongo enforces server-side ('$'-prefixed
  *     or dotted top-level keys are rejected at insert). A bad config
  *     fails in the driver with the offending name, not N executors
  *     deep into a 100 TB write.
  */
object MongoExtendedJson {

  /** Rewrite a column so `to_json` emits canonical Extended JSON:
    * integral types wrap as `$numberLong`/`$numberInt`, timestamps AND
    * dates as `{"$date": {"$numberLong": epochMillis}}` (the canonical
    * form; a date-only `$date` string is NOT valid Extended JSON v2 —
    * mongoimport's parser requires a full ISO date-time or the
    * canonical millis wrapper, so dates travel as midnight-UTC
    * millis = epochDays × 86400000), containers recurse.
    * Doubles/strings/booleans are valid Extended JSON as-is (relaxed
    * doubles are accepted by mongoimport and keep the payload
    * readable). Timestamp millis come from `unix_millis` — integer
    * floor division in the engine, exact for pre-1970 instants and
    * far-future dates alike (a double division would round-trip
    * through FP and truncate toward zero, off by 1 ms for negative
    * sub-ms instants).
    *
    * String MAP keys are guarded at runtime: a key with a '$' prefix
    * or a dot becomes a subdocument field name in the dump, which the
    * server rejects at insert (or worse, collides with an
    * Extended-JSON wrapper) — schema-level [[invalidFieldNames]]
    * can't see data-dependent keys, so the guard rides the encode
    * expression itself and fails the write job naming the key.
    *
    * The rule: no lambda on the OSM collection's types, so its encode
    * runs inside the whole-stage stage. A column whose type needs no
    * rewrite is returned as it is, and a string-keyed map with string,
    * double, boolean, string-array or integral values is one
    * [[guardKeys]]/[[numberLongs]]/[[numberInts]] kernel call. Types
    * the collection never holds keep a higher-order function, which
    * Spark evaluates outside generated code: arrays of integral,
    * timestamp, date or rewritten struct/map elements (`transform`),
    * and maps whose values are timestamps, dates or rewritten
    * containers, or whose keys are not strings (`transform_values`). */
  private[sinks] def extend(c: Column, dt: DataType): Column = dt match {
    case _ if !rewrites(dt) => c
    case LongType =>
      nullSafe(c, struct(c.cast(StringType).as("$numberLong")))
    case IntegerType | ShortType | ByteType =>
      nullSafe(c, struct(c.cast(StringType).as("$numberInt")))
    case TimestampType =>
      nullSafe(c, struct(
        struct(unix_millis(c).cast(StringType)
          .as("$numberLong")).as("$date")))
    case DateType =>
      nullSafe(c, struct(
        struct((unix_date(c).cast(LongType) * 86400000L).cast(StringType)
          .as("$numberLong")).as("$date")))
    case ArrayType(et, _) => transform(c, x => extend(x, et))
    case MapType(StringType, LongType, vn) => numbers("numberLongs", "$numberLong", LongType, vn, c)
    case MapType(StringType, IntegerType | ShortType | ByteType, vn) =>
      numbers("numberInts", "$numberInt", IntegerType, vn, c)
    case MapType(kt, vt, _) =>
      val guarded = if (kt == StringType) call("guardKeys", dt, dt, c) else c
      if (rewrites(vt)) transform_values(guarded, (_, v) => extend(v, vt)) else guarded
    case st: StructType =>
      nullSafe(c, struct(st.fields.toSeq.map(f =>
        extend(c.getField(f.name), f.dataType).as(f.name)): _*))
  }

  private def call(fn: String, in: DataType, out: DataType, c: Column): Column =
    ColumnBridge.column(Kernel(this, fn, out, Seq(in))(ColumnBridge.expression(c)))

  /** A string-keyed integral map, its values read as `vt`, through
    * the kernel `fn` that wraps each one in a `wrapper` struct. */
  private def numbers(fn: String, wrapper: String, vt: DataType, vn: Boolean,
      c: Column): Column = {
    val in = MapType(StringType, vt, vn)
    call(fn, in, MapType(StringType, StructType(Seq(StructField(wrapper, StringType)))),
      c.cast(in))
  }

  private val Dollar = UTF8String.fromString("$")
  private val Dot = UTF8String.fromString(".")

  /** The map, after failing the write on the first key MongoDB
    * rejects, with the message and error class of Spark's
    * `raise_error`. */
  def guardKeys(m: MapData): MapData = {
    val keys = m.keyArray()
    var i = 0
    while (i < keys.numElements()) {
      val k = keys.getUTF8String(i)
      if (k.startsWith(Dollar) || k.contains(Dot))
        throw ColumnBridge.userError(s"map key MongoDB rejects ('$$'-prefix or dot): $k")
      i += 1
    }
    m
  }

  /** A guarded map with each long value as `{"$numberLong": "<v>"}`. */
  def numberLongs(m: MapData): MapData = wrapped(guardKeys(m))(_.getLong(_).toString)

  /** A guarded map with each int value as `{"$numberInt": "<v>"}`. */
  def numberInts(m: MapData): MapData = wrapped(guardKeys(m))(_.getInt(_).toString)

  /** The map's values as one-string structs; a null stays null. */
  private def wrapped(m: MapData)(value: (ArrayData, Int) => String): MapData = {
    val vs = m.valueArray()
    val out = new Array[Any](vs.numElements())
    var i = 0
    while (i < out.length) {
      if (!vs.isNullAt(i)) out(i) = InternalRow(UTF8String.fromString(value(vs, i)))
      i += 1
    }
    new ArrayBasedMapData(m.keyArray(), new GenericArrayData(out))
  }

  /** Whether [[extend]] changes a value of this type: it holds an
    * integral, timestamp or date value, or a string-keyed map. */
  private def rewrites(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | TimestampType | DateType => true
    case ArrayType(et, _) => rewrites(et)
    case MapType(kt, vt, _) => kt == StringType || rewrites(vt)
    case st: StructType => st.fields.exists(f => rewrites(f.dataType))
    case _ => false
  }

  private def nullSafe(src: Column, wrapped: Column): Column =
    when(src.isNotNull, wrapped)

  /** The whole row as one Extended-JSON line. */
  def toExtendedJsonLine(df: DataFrame): Column =
    to_json(struct(df.schema.fields.toSeq.map(f =>
      extend(col(f.name), f.dataType).as(f.name)): _*))

  /** Mongo rejects '$'-prefixed and dotted field names at insert; a
    * Spark schema is the cheap place to catch them. Checks every
    * nesting level (struct fields travel as subdocuments). Runtime
    * MAP keys are data, not schema — [[extend]] guards those per-row
    * inside the encode expression. */
  def invalidFieldNames(schema: StructType, prefix: String = ""): Seq[String] = {
    schema.fields.toSeq.flatMap { f =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      val self =
        if (f.name.startsWith("$") || f.name.contains(".")) Seq(path) else Nil
      self ++ (f.dataType match {
        case st: StructType => invalidFieldNames(st, path)
        case ArrayType(st: StructType, _) => invalidFieldNames(st, path)
        case MapType(_, st: StructType, _) => invalidFieldNames(st, path)
        case _ => Nil
      })
    }
  }
}

/** Validated options for the live MongoDB Spark connector write
  * (`FormatSink("mongodb", cfg.toOptions)`). Naming rules are the
  * server's own: database names reject `/\. "$` and NUL, collection
  * names reject '$' and NUL and must not start with "system.", and
  * the namespace `db.coll` is capped at 255 bytes. */
final case class MongoSinkConfig(
    uri: String, database: String, collection: String) {
  import MongoSinkConfig._

  require(uri.startsWith("mongodb://") || uri.startsWith("mongodb+srv://"),
    s"MongoDB connection uri must use mongodb:// or mongodb+srv:// — got '$uri'")
  require(database.nonEmpty && !database.exists(BadDbChars),
    s"""invalid database name '$database' (must be non-empty, no / \\ . " $$ space or NUL)""")
  require(collection.nonEmpty && !collection.exists(BadCollChars) &&
    !collection.startsWith("system."),
    s"invalid collection name '$collection' (non-empty, no $$ or NUL, not system.*)")
  require(database.length + 1 + collection.length <= 255,
    s"namespace '$database.$collection' exceeds the 255-byte cap")

  /** Exactly the option keys the MongoDB Spark connector v10 reads. */
  def toOptions: Map[String, String] = Map(
    "connection.uri" -> uri,
    "database" -> database,
    "collection" -> collection)

  /** The connector-backed sink; requires the connector jar on the
    * cluster classpath (not shipped in this sandbox — see scaladoc). */
  def sink: DocumentSink = FormatSink("mongodb", toOptions)
}

object MongoSinkConfig {
  private val BadDbChars: Set[Char] = Set('/', '\\', '.', ' ', '"', '$', '\u0000')
  private val BadCollChars: Set[Char] = Set('$', '\u0000')
}

/** mongoimport-ready Extended-JSON dump — the faithful S3: what the
  * reference piped into `mongoimport`, written partition-parallel
  * ([[LineWriter]]). Fails fast on field names the server would
  * reject. */
object MongoImportSink extends DocumentSink {
  override def write(df: DataFrame, path: String, overwrite: Boolean): Unit = {
    val bad = MongoExtendedJson.invalidFieldNames(df.schema)
    require(bad.isEmpty,
      s"field names MongoDB rejects ('$$'-prefix or dots): ${bad.mkString(", ")}")
    LineWriter.write(df.select(MongoExtendedJson.toExtendedJsonLine(df).as("value")),
      path, overwrite)
  }
}
