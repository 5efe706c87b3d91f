package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Kernel, TagShape}

/** The shaping stage (SURVEY.md §2, `shape_element`
  * clean_and_write.py:230-381): raw XML rows → the wide document
  * schema, per row — no explode, no shuffle. The fixed fields are
  * built-in expressions, `node_refs` is one kernel call
  * ([[sortedRefs]]) and `members` a cast; every tag goes through one
  * kernel call ([[graft.functions.TagShape]]) that routes it once and
  * builds the seven tag maps in one loop. No field is a higher-order
  * function, which Spark evaluates outside generated code, so the
  * write (this shape and [[graft.sinks.MongoImportSink]]'s
  * Extended-JSON encode) is one whole-stage generated stage over the
  * reader's scan (`OsmShapePlanSpec`).
  *
  * Spark mapping of the reference's dynamic document (SURVEY.md §1.5):
  * fixed fields are real columns (`created` struct, `pos`
  * array<double>, `node_refs` sorted-unique array, `members` struct
  * array); the open 1,032-key tag space lands in typed maps —
  * `tags: map<string,string>` (scalars, cleaned), `list_tags`
  * (the 41 `;`-list keys + canonical `is_in`), `int_tags`/`float_tags`
  * (rule-promoted numerics), `bool_tags` (fuel/payment booleans), and
  * the recursive subdocuments as path-keyed maps (`addr` by subkey,
  * `subdocs` by full colon path, depth preserved in the key). Nested
  * JSON can be reconstructed from the path keys; Catalyst prunes and
  * pushes map lookups either way.
  *
  * The reference quirks the kernel keeps faithfully (3-part addr keys
  * dropped, dispatch on the ORIGINAL key prefix while the stored key is
  * the FIXED one, F9-renamed list keys concatenating) are listed on
  * [[graft.functions.TagShape]].
  */
object OsmShape {

  private val pos =
    when(col("_lat").isNotNull && col("_lon").isNotNull,
      array(col("_lat"), col("_lon"))).as("pos")

  /** A way's refs: distinct, in `array_sort`'s order (byte order, a
    * missing ref last), null when there are none. */
  private val nodeRefs =
    ColumnBridge.column(Kernel(this, "sortedRefs", ArrayType(StringType),
      Seq(ArrayType(StringType)), returnNullable = true)(
      ColumnBridge.expression(col("nd").getField("_ref")))).as("node_refs")

  /** A relation's members, renamed by a cast: the reader never emits a
    * null member, so the raw array casts to the non-null one. */
  private val members = {
    val ms = col("member").cast(ArrayType(StructType(
      Seq("type", "ref", "role").map(StructField(_, StringType))), containsNull = false))
    when(size(ms) > 0, ms).as("members")
  }

  /** The [[nodeRefs]] kernel: `array_sort(array_distinct(refs))`
    * (byte order, one null last) and null for an empty array. */
  def sortedRefs(refs: ArrayData): ArrayData = {
    val all = (0 until refs.numElements()).map(i =>
      if (refs.isNullAt(i)) null else refs.getUTF8String(i))
    val present = all.filter(_ != null).distinct.sortWith(_.binaryCompare(_) < 0)
    val sorted = if (all.contains(null)) present :+ null else present
    if (sorted.isEmpty) null else new GenericArrayData(sorted.toArray[Any])
  }

  /** One element type's raw rows (an [[OsmXmlSource]] per-type read)
    * shaped: the common columns and the type's own one. */
  def shape(df: DataFrame, docType: String): DataFrame =
    project(df, lit(docType), docType match {
      case "node" => Seq(pos)
      case "way" => Seq(nodeRefs)
      case "relation" => Seq(members)
      case other => sys.error(s"unknown doc_type $other")
    })

  /** The reader's one raw relation ([[OsmXmlSource.rawSchema]]) shaped
    * in one Project, in the column order, types and nullability of the
    * three per-type shapes unioned by name: only nodes carry lat/lon,
    * only ways `nd` and only relations `member`, so each type's own
    * column is null on the other types' rows. */
  private[osm] def shapeAll(raw: DataFrame): DataFrame =
    project(raw, col("doc_type"), Seq(pos, nodeRefs, members))

  private def project(df: DataFrame, docType: Column, extra: Seq[Column]): DataFrame = {
    // The whole tag half of shape_element is one kernel call
    // (TagShape: one pass over the tags, classify once, build all seven
    // maps). Its struct is aliased once and read seven times:
    // CollapseProject never inlines a non-cheap alias referenced more
    // than once, so the kernel runs once per row.
    val shaped = col("__tags")
    val tagMaps = TagShape.dataType.fieldNames.toSeq.map(f => shaped.getField(f).as(f))

    val created = struct(
      col("_version").as("version"), col("_changeset").as("changeset"),
      col("_timestamp").as("timestamp"), col("_user").as("user"),
      col("_uid").as("uid"))

    val common = Seq(
      col("_id").as("_id"),
      docType.as("doc_type"),
      created.as("created")) ++ tagMaps

    df.withColumn("__tags",
        ColumnBridge.column(TagShape.expr(ColumnBridge.expression(col("tag")))))
      .select(common ++ extra: _*)
  }
}
