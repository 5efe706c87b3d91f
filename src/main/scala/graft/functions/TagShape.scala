package graft.functions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.osm.{CleanFns, OsmXmlSource}
import graft.osm.OsmConstants._

/** The tag half of the reference's `shape_element`
  * (clean_and_write.py:230-381) as one pass over an element's raw
  * `tag` array, bound to Catalyst as one [[Kernel]] call: raw `tag`
  * array → `struct<tags, list_tags, int_tags, float_tags, bool_tags,
  * addr, subdocs>`. Each tag is visited once:
  *
  *   1. a key with a problem char is dropped (P6);
  *   2. the key is fixed — `gnis:ST_alph` renamed, tiger/gnis/nist
  *      passthrough keys kept, every other key through F9 — and a
  *      `gnis:County_num` of "73" zero-padded;
  *   3. the tag is routed to one family in the reference's order:
  *      passthrough → subdivide (`addr` 2-part / other subdocument /
  *      3-part addr dropped) → list → is_in → int → float if it parses
  *      → scalar, unless a yes/no fuel/payment value. Subdivide and
  *      bool dispatch read the ORIGINAL key's prefix and depth,
  *      list/numeric dispatch the FIXED key;
  *   4. its cleaned value goes into the family's map. Any yes/no
  *      value under a fuel or payment prefix is also typed into `bool_tags`.
  *
  * Every map keeps its keys in first-occurrence order with the last
  * value winning (python dict update); list values concatenate
  * (list.extend), so list keys renamed by F9 (`name_1`→`name`,
  * `contact:phone`→`phone`) land in one list. `list_tags` holds the
  * list keys, then the canonical `is_in` lists. A map with no entry is
  * null.
  *
  * Why one kernel rather than built-in chains: expressed with
  * `filter`/`transform`/`map_from_entries` per family, the same
  * routing was ~6,700 expression nodes per document type (literal key
  * lists, per-key dedup lambdas and the cleaning forests, repeated
  * inline), and planning that tree cost the ETL more than its Spark
  * job; the higher-order functions were also CodegenFallback.
  */
object TagShape {

  /** The seven tag maps, in document column order. */
  val dataType: StructType = StructType(Seq(
    StructField("tags", MapType(StringType, StringType)),
    StructField("list_tags", MapType(StringType, ArrayType(StringType))),
    StructField("int_tags", MapType(StringType, LongType)),
    StructField("float_tags", MapType(StringType, DoubleType)),
    StructField("bool_tags", MapType(StringType, BooleanType)),
    StructField("addr", MapType(StringType, StringType)),
    StructField("subdocs", MapType(StringType, StringType))))

  private val passNs = PassthroughNamespaces.toSet
  private val boolNs = BoolTags.toSet
  private val subdivide = SubdivideKeys.toSet
  private val listKeys = ListKeys.toSet
  private val intKeys = ToIntKeys.toSet
  private val floatKeys = ToFloatKeys.toSet

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def strings(ss: Seq[String]): ArrayData =
    new GenericArrayData(ss.map[Any](utf8).toArray)

  /** Keys in first-occurrence order; `put` keeps a key's position. */
  private type Dict[V] = java.util.LinkedHashMap[String, V]
  private type ListDict = Dict[mutable.ArrayBuffer[String]]

  private def extend(d: ListDict, k: String, vs: Iterable[String]): Unit =
    d.computeIfAbsent(k, _ => mutable.ArrayBuffer.empty[String]) ++= vs

  private def mapData[V](keys: Seq[String], values: Seq[V])(
      value: V => Any): ArrayBasedMapData =
    if (keys.isEmpty) null
    else new ArrayBasedMapData(strings(keys), new GenericArrayData(values.map(value).toArray))

  private def mapData[V](d: Dict[V])(value: V => Any): ArrayBasedMapData =
    mapData(d.keySet.asScala.toSeq, d.values.asScala.toSeq)(value)

  def shape(tags: ArrayData): InternalRow = {
    val scalars = new Dict[String]
    val lists = new ListDict
    val isIns = new ListDict
    val ints = new Dict[java.lang.Long]
    val floats = new Dict[java.lang.Double]
    val bools = new Dict[java.lang.Boolean]
    val addr = new Dict[String]
    val subdocs = new Dict[String]

    var i = 0
    while (i < tags.numElements()) {
      val t = if (tags.isNullAt(i)) null else tags.getStruct(i, 2)
      if (t != null && !t.isNullAt(0)) {
        val k0 = t.getUTF8String(0).toString
        val v0 = if (t.isNullAt(1)) null else t.getUTF8String(1).toString
        if (!CleanFns.hasProblemChars(k0)) {
          val parts = k0.split(":", -1)
          val opfx = parts(0)
          val pass = passNs(opfx)
          val k =
            if (k0 == "gnis:ST_alph") "gnis:ST_alpha"
            else if (pass) k0
            else CleanFns.fixKey(k0)
          val v = if (k0 == "gnis:County_num" && v0 == "73") "073" else v0
          val isBoolNs = boolNs(opfx)
          val bool = if (isBoolNs) CleanFns.boolValue(v) else null
          if (bool != null) bools.put(k, bool)

          if (pass) scalars.put(k, v)
          else if (parts.length > 1 && subdivide(opfx)) {
            if (opfx != "addr")
              subdocs.put(k,
                if (!isBoolNs) v
                else if (bool != null) bool.toString
                else CleanFns.boolResidual(v))
            else if (parts.length == 2) {
              val sub = k.split(":", -1)(1)
              val (value, unit) = CleanFns.auditAddr(sub, v)
              if (unit != null) addr.put("unit", unit)
              addr.put(sub, value)
            }
            // a 3-part addr key is dropped (clean_and_write.py:322-327 has no else)
          }
          else if (listKeys(k)) {
            val vs = CleanFns.handleListKeys(v)
            extend(lists, k,
              if (k == "phone" || k == "fax") vs.map(CleanFns.formatPhone) else vs)
          }
          else if (IsInMap.contains(k)) extend(isIns, k, IsInMap(k))
          else if (intKeys(k)) ints.put(k, CleanFns.intValue(v))
          else {
            val f = if (floatKeys(k)) CleanFns.floatValue(k, v) else null
            if (f != null) floats.put(k, f)
            // a yes/no fuel/payment value is typed in bool_tags only
            else if (bool == null)
              scalars.put(k,
                if (isBoolNs) CleanFns.boolResidual(v) else CleanFns.miscValEditsStr(k, v))
          }
        }
      }
      i += 1
    }

    val listTags = mapData(lists.keySet.asScala.toSeq ++ isIns.keySet.asScala,
      lists.values.asScala.toSeq ++ isIns.values.asScala)(b => strings(b.toSeq))
    new GenericInternalRow(Array[Any](mapData(scalars)(utf8), listTags,
      mapData(ints)(identity), mapData(floats)(identity), mapData(bools)(identity),
      mapData(addr)(utf8), mapData(subdocs)(utf8)))
  }

  /** The seven tag maps of one element's `tag` array; a null array is
    * a null struct. */
  def expr(tags: Expression): Expression =
    Kernel(this, "shape", dataType, Seq(OsmXmlSource.tagArr))(tags)
}
