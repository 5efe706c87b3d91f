package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import OsmConstants._
import CleanFns._

/** The shaping stage (SURVEY.md §2, `shape_element`
  * clean_and_write.py:230-381): raw XML rows → the wide document
  * schema, entirely with per-row array/map expressions — no explode, no
  * shuffle, one WholeStageCodegen pass over the scan at any scale.
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
  * Faithful reference quirks kept: addr keys with >1 subkey are dropped
  * (clean_and_write.py:322-327 has no else), subdivide/bool dispatch
  * inspects the ORIGINAL key prefix while the stored key is the FIXED
  * one, and list keys renamed by F9 (`name_1`→`name`,
  * `contact:phone`→`phone`) concatenate into the same list.
  */
object OsmShape {

  private val emptyTags = array().cast("array<struct<_k:string,_v:string>>")

  private def p(c: Column, f: String): Column = c.getField(f)

  /** Last-wins dedup of an entries array (struct<k,v>) into a map —
    * python-dict update semantics. */
  private def lastWinsMap(entries: Column): Column = {
    val keys = array_distinct(transform(entries, e => p(e, "k")))
    val m = map_from_entries(transform(keys, k =>
      struct(k.as("k"),
        p(element_at(filter(entries, e => p(e, "k") === k), -1), "v").as("v"))))
    when(size(keys) > 0, m)
  }

  /** Concatenating (extend) merge of list-valued entries into a map. */
  private def extendMap(pairs: Column, valueOf: Column => Column): Column = {
    val keys = array_distinct(transform(pairs, e => p(e, "k")))
    val m = map_from_entries(transform(keys, k =>
      struct(k.as("k"),
        flatten(transform(filter(pairs, e => p(e, "k") === k), valueOf)).as("v"))))
    when(size(keys) > 0, m)
  }

  private val isInLit: Column = {
    val entries = IsInMap.toSeq.map { case (k, vs) =>
      struct(lit(k).as("k"), typedlit(vs).as("v"))
    }
    map_from_entries(array(entries: _*))
  }

  // Tag families: every fixed tag belongs to exactly one, decided once
  // in the reference's shape_element order (clean_and_write.py:283-340).
  private val Dropped = 0; private val Pass = 1; private val Addr = 2
  private val Subdoc = 3; private val ListFam = 4; private val IsIn = 5
  private val IntFam = 6; private val FloatFam = 7; private val Scalar = 8

  def shape(df: DataFrame, docType: String): DataFrame = {
    val raw = coalesce(col("tag"), emptyTags)
    val kept = filter(raw, t => !hasProblemChars(p(t, "_k")))

    // F9 key-fix pipeline + the two gnis in-namespace fixes, with the
    // original prefix/depth retained for the dispatch decisions.
    val keyFixed = transform(kept, t => {
      val k = p(t, "_k"); val v = p(t, "_v")
      val opfx = split(k, ":").getItem(0)
      val isPass = opfx.isin(PassthroughNamespaces: _*)
      val k1 = when(k === "gnis:ST_alph", lit("gnis:ST_alpha"))
        .when(isPass, k)
        .otherwise(fixKey(k))
      val v1 = when(k === "gnis:County_num" && v === "73", lit("073")).otherwise(v)
      struct(k1.as("k"), v1.as("v"), isPass.as("pass"), opfx.as("opfx"),
        size(split(k, ":")).as("odepth"))
    })
    // The one classification: subdivide/bool dispatch reads the
    // ORIGINAL prefix and depth, list/numeric dispatch the FIXED key.
    // Yes/no fuel/payment values are typed in bool_tags only.
    val fixedExpr = transform(keyFixed, t => {
      val k = p(t, "k"); val v = p(t, "v")
      val opfx = p(t, "opfx"); val odepth = p(t, "odepth")
      val boolNs = opfx.isin(BoolTags: _*)
      val fam = when(p(t, "pass"), Pass)
        .when(odepth > 1 && opfx.isin(SubdivideKeys: _*),
          when(opfx =!= "addr", Subdoc).when(odepth === 2, Addr).otherwise(Dropped))
        .when(k.isin(ListKeys: _*), ListFam)
        .when(element_at(isInLit, k).isNotNull, IsIn)
        .when(k.isin(ToIntKeys: _*), IntFam)
        .when(k.isin(ToFloatKeys: _*) && floatValue(k, v).isNotNull, FloatFam)
        .when(boolNs && boolValue(v).isNotNull, Dropped)
        .otherwise(Scalar)
      struct(k.as("k"), v.as("v"), fam.as("fam"), boolNs.as("boolNs"))
    })
    // Materialize the key-fix pipeline and its classification ONCE per
    // row: every tag family below references `fixed`, and higher-order
    // functions are CodegenFallback — with the expression inlined, the whole
    // regex/split forest re-evaluated once PER FAMILY (~8x per row,
    // measured ~2x the shape stage's cost at reference scale).
    // CollapseProject keeps the two Projects separate because the
    // alias is non-cheap and multiply referenced.
    val fixed = col("__fixed")
    def family(f: Int): Column = filter(fixed, t => p(t, "fam") === f)

    // ---- list keys (F6) + canonical is_in, concatenating on repeats
    val listTags = extendMap(family(ListFam), t => {
      val split = handleListKeys(p(t, "v"))
      when(p(t, "k").isin("phone", "fax"), transform(split, formatPhone(_)))
        .otherwise(split)
    })
    val isInTags = extendMap(family(IsIn), t => element_at(isInLit, p(t, "k")))
    val allListTags = when(listTags.isNotNull || isInTags.isNotNull,
      map_concat(coalesce(listTags, map().cast("map<string,array<string>>")),
        coalesce(isInTags, map().cast("map<string,array<string>>"))))

    // ---- promoted numerics (F8 casts)
    val intTags = lastWinsMap(transform(family(IntFam), t =>
      struct(p(t, "k").as("k"), intValue(p(t, "v")).as("v"))))
    val floatTags = lastWinsMap(transform(family(FloatFam), t =>
      struct(p(t, "k").as("k"), floatValue(p(t, "k"), p(t, "v")).as("v"))))

    // ---- booleans (F7): any fuel*/payment* key, typed view
    val boolPairs = filter(fixed, t =>
      p(t, "boolNs") && boolValue(p(t, "v")).isNotNull)
    val boolTags = lastWinsMap(transform(boolPairs, t =>
      struct(p(t, "k").as("k"), boolValue(p(t, "v")).as("v"))))

    // ---- addr subdocument (F3): 2-part keys only, unit promotion
    val addrMap = lastWinsMap(flatten(transform(family(Addr), t => {
      val sub = split(p(t, "k"), ":").getItem(1)
      val cleaned = auditAddr(sub, p(t, "v"))
      val main = struct(sub.as("k"), p(cleaned, "value").as("v"))
      val unit = struct(lit("unit").as("k"), p(cleaned, "unit").as("v"))
      when(p(cleaned, "unit").isNotNull, array(unit, main)).otherwise(array(main))
    })))

    // ---- other subdocuments (F5): full colon path as the map key
    val subdocs = lastWinsMap(transform(family(Subdoc), t => {
      val v = p(t, "v")
      val stored = when(p(t, "boolNs"),
        when(boolValue(v).isNotNull, boolValue(v).cast("string"))
          .otherwise(boolResidual(v)))
        .otherwise(v)
      struct(p(t, "k").as("k"), stored.as("v"))
    }))

    // ---- residual scalars (F8 string edits; passthrough kept raw).
    // Depth-1 fuel/payment values that aren't yes/no keep their
    // lowercased residual here (the reference's handle_bools
    // passthrough).
    val scalarPairs = filter(fixed, t => p(t, "fam").isin(Pass, Scalar))
    val tagsMap = lastWinsMap(transform(scalarPairs, t =>
      struct(p(t, "k").as("k"),
        when(p(t, "fam") === Pass, p(t, "v"))
          .when(p(t, "boolNs"), boolResidual(p(t, "v")))
          .otherwise(miscValEditsStr(p(t, "k"), p(t, "v"))).as("v"))))

    val created = struct(
      col("_version").as("version"), col("_changeset").as("changeset"),
      col("_timestamp").as("timestamp"), col("_user").as("user"),
      col("_uid").as("uid"))

    val common = Seq(
      col("_id").as("_id"),
      lit(docType).as("doc_type"),
      created.as("created"),
      tagsMap.as("tags"),
      allListTags.as("list_tags"),
      intTags.as("int_tags"),
      floatTags.as("float_tags"),
      boolTags.as("bool_tags"),
      addrMap.as("addr"),
      subdocs.as("subdocs"))

    val extra = docType match {
      case "node" =>
        Seq(when(col("_lat").isNotNull && col("_lon").isNotNull,
          array(col("_lat"), col("_lon"))).as("pos"))
      case "way" =>
        val refs = array_sort(array_distinct(
          transform(coalesce(col("nd"), array().cast("array<struct<_ref:string>>")),
            n => n.getField("_ref"))))
        Seq(when(size(refs) > 0, refs).as("node_refs"))
      case "relation" =>
        val ms = transform(
          coalesce(col("member"),
            array().cast("array<struct<_type:string,_ref:string,_role:string>>")),
          m => struct(m.getField("_type").as("type"),
            m.getField("_ref").as("ref"), m.getField("_role").as("role")))
        Seq(when(size(ms) > 0, ms).as("members"))
      case other => sys.error(s"unknown doc_type $other")
    }
    df.withColumn("__fixed", fixedExpr).select(common ++ extra: _*)
  }
}
