package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's query surface (`mongo_audit.py` +
  * `osm_structure_audit.py`, SURVEY.md §2.2-2.8) as named
  * DataFrame→DataFrame functions over the shaped collection
  * ([[OsmXmlSource.collection]]).
  *
  * Join-shape notes for scale: `ref_docs` and the mismatch set are tiny
  * relative to the collection — Catalyst broadcasts them; the
  * explode-join pattern shuffles on the referenced id only (the 8-byte
  * key), never the document payload.
  */
object OsmAudit {

  /** Presence of a tag key anywhere in the typed views (MongoDB
    * `$exists` over the open key space). */
  def hasKey(key: String): Column =
    map_contains_key(coalesce(col("tags"), map().cast("map<string,string>")), key) ||
      map_contains_key(coalesce(col("list_tags"),
        map().cast("map<string,array<string>>")), key) ||
      map_contains_key(coalesce(col("int_tags"), map().cast("map<string,bigint>")), key) ||
      map_contains_key(coalesce(col("float_tags"), map().cast("map<string,double>")), key) ||
      map_contains_key(coalesce(col("bool_tags"), map().cast("map<string,boolean>")), key) ||
      exists(map_keys(coalesce(col("subdocs"), map().cast("map<string,string>"))),
        k => k === key || k.startsWith(key + ":"))

  /** A1 — unique contributors (mongo_audit.py:7-12; 921 on the
    * reference extract). */
  def uniqueUsers(docs: DataFrame): DataFrame =
    docs.agg(countDistinct(col("created.uid")).as("n_users"))

  /** A2 — per-doc_type counts of docs carrying a key
    * (count_docs_by/check_doc_counts_by mongo_audit.py:46-81 — the
    * reference's python loop over doc types collapses to one groupBy). */
  def countDocsBy(docs: DataFrame, key: String): DataFrame =
    docs.filter(hasKey(key)).groupBy(col("doc_type")).count()

  /** P4 — bike services disjunction (mongo_audit.py:84-93). */
  def bikeServices(docs: DataFrame): DataFrame =
    docs.filter(
      exists(map_keys(coalesce(col("subdocs"), map().cast("map<string,string>"))),
        k => k.startsWith("service:bicycle")) ||
        array_contains(coalesce(col("list_tags")("shop"),
          array().cast("array<string>")), "bicycle") ||
        array_contains(coalesce(col("list_tags")("amenity"),
          array().cast("array<string>")), "bicycle_repair_station"))
      .select(col("_id"), col("doc_type"), col("list_tags")("name").as("name"),
        col("addr"), col("pos"))

  /** J1+A3 — referential audit for ways (audit_ref_types
    * mongo_audit.py:97-145): what doc types do node_refs point at, and
    * which ways have dangling refs. */
  def auditRefTypes(docs: DataFrame): DataFrame = {
    val ways = docs.filter(col("doc_type") === "way")
      .select(col("_id").as("way_id"), explode(col("node_refs")).as("ref"))
    val targets = docs.select(col("_id").as("t_id"), col("doc_type").as("t_type"))
    ways.join(targets, col("ref") === col("t_id"), "left")
      .groupBy(col("t_type"))
      .agg(count(lit(1)).as("ref_count"),
        countDistinct(col("way_id")).as("n_ways"))
  }

  /** J4/F10 — relation members whose declared type mismatches the
    * referenced doc's actual type (get_doctype_mismatches
    * mongo_audit.py:148-232; finds relations 2317217 & 2859142 on the
    * reference extract). */
  def docTypeMismatches(docs: DataFrame): DataFrame = {
    val rels = docs.filter(col("doc_type") === "relation")
      .select(col("_id").as("rel_id"), explode(col("members")).as("m"))
    val targets = docs.select(col("_id").as("t_id"), col("doc_type").as("t_type"))
    rels.join(targets, col("m.ref") === col("t_id"), "inner")
      .filter(col("m.type") =!= col("t_type"))
      .select(col("rel_id"), col("m.ref").as("ref"),
        col("m.type").as("declared_type"), col("t_type").as("actual_type"))
  }

  /** A4/M3 — the inverted reference index (write_ref_docs
    * mongo_audit.py:271-329): referenced id → sorted ids of referrers,
    * via node_refs UNION ALL members.ref (U3), null-stripped. */
  def refDocs(docs: DataFrame): DataFrame = {
    val fromWays = docs.select(col("_id"),
      explode_outer(col("node_refs")).as("ref"))
    val fromRels = docs.select(col("_id"),
      explode_outer(col("members.ref")).as("ref"))
    fromWays.unionAll(fromRels)
      .filter(col("ref").isNotNull)
      .groupBy(col("ref"))
      .agg(sort_array(collect_set(col("_id"))).as("refers"))
      .withColumnRenamed("ref", "_id")
  }

  /** T1 — most-referenced docs carrying a key (get_most_refd
    * mongo_audit.py:341-381): semi over the key, join ref_docs,
    * top-k by refer count, then back-join for the contributor. */
  def mostRefd(docs: DataFrame, key: String, k: Int): DataFrame = {
    val withKey = docs.filter(hasKey(key)).select(col("_id"))
    val refs = refDocs(docs)
    withKey
      .join(refs, Seq("_id"))
      .select(col("_id"), size(col("refers")).as("refer_count"), col("refers"))
      .orderBy(col("refer_count").desc, col("_id"))
      .limit(k)
      .join(docs.select(col("_id"), col("created.user").as("contributor")), Seq("_id"))
      .select(col("_id"), col("refer_count"), col("contributor"))
  }

  /** M1 — update_states (mongo_audit.py:22-43): docs with a postcode
    * get addr.state = "WA"; returns the updated collection. Matched /
    * modified counts are derivable as filtered counts pre/post
    * (the reference's result matrix), kept server-side. */
  def updateStates(docs: DataFrame): DataFrame = {
    val hasPostcode = col("addr").isNotNull && map_contains_key(col("addr"), "postcode")
    // $set semantics = overwrite: drop any existing state entry before
    // concat (map_concat throws on duplicate keys under the default
    // EXCEPTION dedup policy)
    docs.withColumn("addr",
      when(hasPostcode,
        map_concat(
          map_filter(col("addr"), (k, _) => k =!= "state"),
          map(lit("state"), lit("WA"))))
        .otherwise(col("addr")))
  }

  /** M1 result matrix — the reference's pre/post accounting
    * (main.ipynb cell 39: matched 1103, modified 546, state 689→1234). */
  def updateStatesReport(docs: DataFrame): DataFrame = {
    val hasPostcode = col("addr").isNotNull && map_contains_key(col("addr"), "postcode")
    val hasState = col("addr").isNotNull && map_contains_key(col("addr"), "state")
    // modified = matched docs whose state actually changes (absent or
    // not already "WA") — MongoDB's matched/modified distinction
    val alreadyWa = hasState && element_at(col("addr"), "state") === "WA"
    docs.agg(
      sum(when(hasPostcode, 1).otherwise(0)).as("matched"),
      sum(when(hasPostcode && !alreadyWa, 1).otherwise(0)).as("modified"),
      sum(when(hasState, 1).otherwise(0)).as("state_pre"),
      sum(when(hasPostcode || hasState, 1).otherwise(0)).as("state_post"))
  }

  /** M2 — fix_mismatched_refs (mongo_audit.py:235-268): positional
    * array-element update — rewrite the declared type of each
    * mismatched member to the referenced doc's actual type. The
    * reference's per-doc find_one_and_update loop becomes one
    * broadcast join against the mismatch set + a `transform` rewrite.
    */
  def fixMismatchedRefs(docs: DataFrame): DataFrame = {
    val mm = docTypeMismatches(docs)
      .groupBy(col("rel_id"))
      .agg(map_from_entries(collect_list(
        struct(col("ref"), col("actual_type")))).as("fixes"))
    docs.join(broadcast(mm), col("_id") === col("rel_id"), "left")
      .withColumn("members",
        when(col("fixes").isNotNull,
          transform(col("members"), m => struct(
            coalesce(element_at(col("fixes"), m.getField("ref")),
              m.getField("type")).as("type"),
            m.getField("ref").as("ref"),
            m.getField("role").as("role"))))
          .otherwise(col("members")))
      .drop("rel_id", "fixes")
  }

  /** A7 — the structural profiling aggregation
    * (osm_structure_audit.py:31-83): per tag key — use count, distinct
    * values, distinct count, use/distinct ratio. The explode is the
    * only wide op; the groupBy is partial+final. */
  def tagKeyProfile(docs: DataFrame): DataFrame =
    docs
      .select(explode(map_entries(coalesce(col("tags"),
        map().cast("map<string,string>")))).as("e"))
      .select(col("e.key").as("tag_key"), col("e.value").as("v"))
      .groupBy(col("tag_key"))
      .agg(count(lit(1)).as("tag_use_count"),
        countDistinct(col("v")).as("uniq_count"),
        // ANSI division throws on zero; an all-null value column gives
        // uniq_count 0 -> null ratio instead of aborting the profile
        round(when(countDistinct(col("v")) > 0,
          count(lit(1)).cast("double") / countDistinct(col("v"))), 4)
          .as("usage_per_uniq"))

  /** A7 (structural half) — the per-element-type profile of the RAW
    * XML (osm_structure_audit.py:49-63, `el_df`): instance count, the
    * distinct descendant-element tag set, and the distinct
    * attribute-name set, per element type. The parse is the
    * reference's `ET.iterparse` re-expressed for Spark: one streaming
    * StAX scan per FILE through the reader's opener
    * ([[OsmXmlSource.scan]] with one range per file, so the root
    * element counts once per file; a 100 TB corpus is many extract
    * files, so parallelism = file count and no file is ever
    * materialized), each task pre-aggregating its file into one row
    * per element type — the map-side combine — so the final
    * declarative agg merges #files×#types rows, never per-element
    * rows.
    *
    * Semantics note: the reference walks `el.iter()` at the START
    * event, so its descendant sets depend on parser read-ahead (its
    * own comment: iteration stopped at 105 subelements, and the
    * notebook hand-patches way/relation into the osm row — main.ipynb
    * cell 3). This computes the COMPLETE descendant set — the value
    * the notebook was patching toward. */
  def elementProfile(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    OsmXmlSource.scan(spark, path, 0)((xml, _) => profileOneFile(xml))
      .toDF("element_type", "n", "attributes", "sub_els")
      .groupBy(col("element_type"))
      .agg(sum(col("n")).as("count"),
        sort_array(array_distinct(flatten(collect_list(col("sub_els")))))
          .as("sub_els"),
        sort_array(array_distinct(flatten(collect_list(col("attributes")))))
          .as("attributes"))
  }

  /** One file's streaming profile: (element_type, count, attribute
    * names, descendant tags) — constant memory in the file size
    * (a tag-name stack plus per-TYPE sets, never the document). */
  private def profileOneFile(r: javax.xml.stream.XMLStreamReader)
      : Iterator[(String, Long, Seq[String], Seq[String])] = {
    import javax.xml.stream.XMLStreamConstants
    import scala.collection.mutable
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val attrs = mutable.Map.empty[String, mutable.SortedSet[String]]
    val subs = mutable.Map.empty[String, mutable.SortedSet[String]]
    val stack = mutable.ArrayBuffer.empty[String]
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        val t = r.getLocalName
        counts.update(t, counts.getOrElse(t, 0L) + 1L)
        val as = attrs.getOrElseUpdate(t, mutable.SortedSet.empty[String])
        (0 until r.getAttributeCount).foreach(i =>
          as += r.getAttributeLocalName(i))
        subs.getOrElseUpdate(t, mutable.SortedSet.empty[String])
        // this element is a descendant of everything on the stack
        // (el.iter() semantics: same-tag ancestors excluded)
        stack.foreach(a => if (a != t) subs(a) += t)
        stack += t
      case XMLStreamConstants.END_ELEMENT =>
        stack.remove(stack.length - 1)
      case _ =>
    }
    counts.map { case (t, n) =>
      (t, n, attrs(t).toSeq, subs(t).toSeq)
    }.toList.iterator
  }

  /** A7 (stats half) — `tag_df.describe(percentiles=.1...9)` of
    * main.ipynb cell 8: count/mean/stddev/min/deciles/max for each
    * numeric column of [[tagKeyProfile]]'s output. `summary` computes
    * percentiles with the approx sketch — exact at audit scale, and
    * at 100 TB the exact form would be three global sorts for a
    * human-facing table where the sketch error is invisible. */
  def tagProfileSummary(profile: DataFrame): DataFrame =
    profile.select("tag_use_count", "uniq_count", "usage_per_uniq")
      .summary("count", "mean", "stddev", "min",
        "10%", "20%", "30%", "40%", "50%", "60%", "70%", "80%", "90%", "max")

  /** F12 — the shape-invariant validation (clean_and_write.py:358-379)
    * as a violations side-output: empty on a clean extract. */
  def violations(docs: DataFrame): DataFrame =
    docs.filter(violationCond).select(col("_id"), col("doc_type"))

  private def violationCond: Column = {
    def has(c: String): Column = col(c).isNotNull
    (col("doc_type") === "node" &&
      (has("node_refs") || has("members") || !has("pos"))) ||
      (col("doc_type") === "way" &&
        (has("pos") || has("members") || !has("node_refs"))) ||
      (col("doc_type") === "relation" &&
        (has("pos") || has("node_refs") || !has("members")))
  }

  /** Pipeline-attached quality metrics via `observe` — the engine's
    * face of the reference's dbstats + shape checks (SURVEY §2.1 S7 /
    * §2.7 F12) that costs NO second scan: the counters accumulate as a
    * side effect of whatever action consumes `docs`, and are read from
    * the returned observation after that action. At 100 TB this is how
    * ingest jobs publish doc counts / violation counts without
    * re-reading the corpus. */
  def withShapeMetrics(docs: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    // auto-generated unique name: a fixed name throws
    // DUPLICATED_METRICS_NAME when two observed branches meet in one
    // action (e.g. union of two ingests)
    val obs = org.apache.spark.sql.Observation()
    // count(when(...)), not sum(when/otherwise): sum over zero rows is
    // NULL, and an empty batch must publish 0, not null
    val observed = docs.observe(obs,
      count(lit(1)).as("n_docs"),
      count(when(violationCond, lit(1))).as("n_violations"),
      count(when(col("doc_type") === "node", lit(1))).as("n_nodes"))
    (observed, obs)
  }
}
