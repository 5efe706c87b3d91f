package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.TagShape

/** The shaping stage (SURVEY.md §2, `shape_element`
  * clean_and_write.py:230-381): raw XML rows → the wide document
  * schema, per row — no explode, no shuffle, one WholeStageCodegen
  * pass over the scan at any scale. The fixed fields are built-in
  * expressions; every tag goes through one kernel call
  * ([[graft.functions.TagShape]]) that routes it once and builds the
  * seven tag maps in one loop.
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

  private val nodeRefs = {
    val refs = array_sort(array_distinct(
      transform(coalesce(col("nd"), array().cast("array<struct<_ref:string>>")),
        n => n.getField("_ref"))))
    when(size(refs) > 0, refs).as("node_refs")
  }

  private val members = {
    val ms = transform(
      coalesce(col("member"),
        array().cast("array<struct<_type:string,_ref:string,_role:string>>")),
      m => struct(m.getField("_type").as("type"),
        m.getField("_ref").as("ref"), m.getField("_role").as("role")))
    when(size(ms) > 0, ms).as("members")
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
