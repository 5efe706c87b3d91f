package graft.osm

import java.text.{NumberFormat, ParseException}
import java.util.Locale
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S1 — the OSM XML source (SURVEY.md §2.1): the reference's streaming
  * `ET.iterparse` (clean_and_write.py:425) as one StAX pass per byte
  * range ([[OsmChunk.ranges]]). Each task streams its range once and
  * emits every top-level `node`, `way` and `relation` once, in document
  * order, as a row of [[rawSchema]]; [[collection]] shapes that one
  * relation with [[OsmShape]] in a single Project. A `node`, `way` or
  * `relation` nested inside another one is an unknown child, skipped.
  *
  * Values follow Spark's XML source, which this reader replaced (the
  * `OsmShapeGoldenSpec` constants were recorded on it): attribute
  * values are trimmed, ids and refs stay strings (the reference keeps
  * OSM ids as strings), and lat/lon parse leniently to double (F11). A
  * lat or lon that is no number at all ("" or "abc") reads as null, so
  * the node's `pos` is null and [[OsmAudit.violations]] flags it: one
  * bad attribute does not fail the whole read, where Spark's XML
  * source and the reference's `float()` raised. Unknown attributes,
  * unknown children and text content are ignored. Malformed XML fails
  * the read with the parser's message and the range.
  */
object OsmXmlSource {

  private val attrNames =
    Array("id", "version", "changeset", "timestamp", "user", "uid")
  private val TagAttrs = Array("k", "v")
  private val NdAttrs = Array("ref")
  private val MemberAttrs = Array("type", "ref", "role")

  private def fields(names: Array[String]): Seq[StructField] =
    names.toSeq.map(n => StructField(s"_$n", StringType))
  private def structs(names: Array[String], containsNull: Boolean = true) =
    ArrayType(StructType(fields(names)), containsNull)
  private[graft] val tagArr = structs(TagAttrs)

  /** One row per element: its type, its attributes, then every type's
    * own raw fields, each null where the element's type has no such
    * field. An `nd` or `member` array is null or holds only rows, so
    * [[OsmShape]] renames members by a cast to its non-null array. */
  val rawSchema: StructType = StructType(
    StructField("doc_type", StringType, nullable = false) +: fields(attrNames) ++: Seq(
      StructField("_lat", DoubleType),
      StructField("_lon", DoubleType),
      StructField("nd", structs(NdAttrs, containsNull = false)),
      StructField("member", structs(MemberAttrs, containsNull = false)),
      StructField("tag", tagArr)))

  private val DocTypes = Array("node", "way", "relation")
  private val Node = 0
  private val Way = 1
  private val Relation = 2
  private val docTypeUtf8 = DocTypes.map(UTF8String.fromString)
  private val Lat = rawSchema.fieldIndex("_lat")
  private val Lon = rawSchema.fieldIndex("_lon")
  private val Nd = rawSchema.fieldIndex("nd")
  private val Member = rawSchema.fieldIndex("member")
  private val Tag = rawSchema.fieldIndex("tag")

  /** The one StAX factory, set as Spark's XML source sets its own:
    * namespace-unaware, coalescing, and no DTDs or external entities,
    * because the input is untrusted. */
  private lazy val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** One task per range of `path` ([[OsmChunk.ranges]] for `parts`):
    * the range opened as one StAX stream and handed to `read`, which
    * reports failures against the range it is given. The Hadoop
    * configuration goes out once per scan as a broadcast, as Spark's
    * own file scans send it: captured in the task closure it was
    * deserialized by every task (`Configuration.readFields`, which
    * reloads `core-default.xml`). */
  private[osm] def scan[T: ClassTag](spark: SparkSession, path: String, parts: Int)(
      read: (XMLStreamReader, OsmChunk.Range) => Iterator[T]): RDD[T] = {
    val sc = spark.sparkContext
    val rs = OsmChunk.ranges(path, parts, sc.hadoopConfiguration)
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    sc.parallelize(rs, math.max(rs.length, 1)).mapPartitions(_.flatMap { r =>
      val in = OsmChunk.open(r, conf.value.value)
      val xml = factory.createXMLStreamReader(in)
      TaskContext.get().addTaskCompletionListener[Unit] { _ => xml.close(); in.close() }
      read(xml, r)
    })
  }

  /** Every element of `path` as a row of [[rawSchema]]. */
  private[osm] def raw(spark: SparkSession, path: String, parts: Int): DataFrame =
    ColumnBridge.internalCreateDataFrame(spark, scan(spark, path, parts)(elements), rawSchema)

  /** The top-level elements of one stream, in document order. */
  private def elements(xml: XMLStreamReader, range: OsmChunk.Range): Iterator[InternalRow] = {
    def next(): InternalRow =
      try {
        while (xml.hasNext) {
          if (xml.next() == XMLStreamConstants.START_ELEMENT) {
            val kind = DocTypes.indexOf(xml.getLocalName)
            if (kind >= 0) return element(xml, kind)
          }
        }
        null
      } catch {
        case NonFatal(e) =>
          throw new IllegalArgumentException(s"OSM XML $range: ${e.getMessage}", e)
      }
    Iterator.continually(next()).takeWhile(_ != null)
  }

  private def str(v: String): UTF8String = UTF8String.fromString(v.trim)

  /** A lat/lon value as Spark's XML source parsed it: trimmed, sign
    * split off, then `toDouble`, falling back to the locale's lenient
    * `NumberFormat` ("12abc" is 12.0, "1,234.5" is 1234.5); null for a
    * value holding no number, where that parse throws. */
  private def double(v: String): Any = {
    def parse(s: String): Double =
      try s.toDouble
      catch {
        case _: NumberFormatException =>
          NumberFormat.getInstance(Locale.getDefault).parse(s).doubleValue()
      }
    val t = v.trim
    try {
      if (t.startsWith("+")) parse(t.substring(1))
      else if (t.startsWith("-")) -parse(t.substring(1))
      else parse(t)
    } catch { case _: ParseException => null }
  }

  /** The element the stream is at, read through its end tag: its
    * attributes, and of its direct children the `tag`s, plus a way's
    * `nd`s and a relation's `member`s. */
  private def element(xml: XMLStreamReader, kind: Int): InternalRow = {
    val row = new Array[Any](rawSchema.length)
    row(0) = docTypeUtf8(kind)
    var i = 0
    while (i < xml.getAttributeCount) {
      val name = xml.getAttributeLocalName(i)
      val a = attrNames.indexOf(name)
      if (a >= 0) row(1 + a) = str(xml.getAttributeValue(i))
      else if (kind == Node && name == "lat") row(Lat) = double(xml.getAttributeValue(i))
      else if (kind == Node && name == "lon") row(Lon) = double(xml.getAttributeValue(i))
      i += 1
    }
    val tags = ArrayBuffer.empty[InternalRow]
    val refs = ArrayBuffer.empty[InternalRow] // nd or member
    var depth = 1
    while (depth > 0) xml.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        depth += 1
        if (depth == 2) xml.getLocalName match {
          case "tag" => tags += child(xml, TagAttrs)
          case "nd" if kind == Way => refs += child(xml, NdAttrs)
          case "member" if kind == Relation => refs += child(xml, MemberAttrs)
          case _ =>
        }
      case XMLStreamConstants.END_ELEMENT => depth -= 1
      case _ =>
    }
    def array(rows: ArrayBuffer[InternalRow]): GenericArrayData =
      if (rows.isEmpty) null else new GenericArrayData(rows.toArray[Any])
    row(Tag) = array(tags)
    if (kind == Way) row(Nd) = array(refs)
    if (kind == Relation) row(Member) = array(refs)
    new GenericInternalRow(row)
  }

  /** A child element's named attributes, in order, as a struct row. */
  private def child(xml: XMLStreamReader, names: Array[String]): InternalRow = {
    val values = new Array[Any](names.length)
    var i = 0
    while (i < xml.getAttributeCount) {
      val a = names.indexOf(xml.getAttributeLocalName(i))
      if (a >= 0) values(a) = str(xml.getAttributeValue(i))
      i += 1
    }
    new GenericInternalRow(values)
  }

  /** One type's rows of `path`, read one range per file, in the
    * columns of its per-type raw schema: the attributes, then its own. */
  private def ofType(spark: SparkSession, path: String, docType: String,
      own: String*): DataFrame =
    raw(spark, path, 0).where(col("doc_type") === docType)
      .select((attrNames.map(a => s"_$a").toSeq ++ own).map(col): _*)

  def nodes(spark: SparkSession, path: String): DataFrame =
    ofType(spark, path, "node", "_lat", "_lon", "tag")

  def ways(spark: SparkSession, path: String): DataFrame =
    ofType(spark, path, "way", "nd", "tag")

  def relations(spark: SparkSession, path: String): DataFrame =
    ofType(spark, path, "relation", "member", "tag")

  /** [[collection]] aiming at one range per core. */
  def collection(spark: SparkSession, path: String): DataFrame =
    collection(spark, path, spark.sparkContext.defaultParallelism)

  /** Every element of `path` shaped ([[OsmShape.shapeAll]]) into the
    * single wide collection with its `doc_type` discriminator, read in
    * about `parts` ranges across the whole input (never fewer than one
    * per file; `parts <= 0` is exactly one per file). */
  def collection(spark: SparkSession, path: String, parts: Int): DataFrame =
    OsmShape.shapeAll(raw(spark, path, parts))
}
