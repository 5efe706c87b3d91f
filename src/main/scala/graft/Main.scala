package graft

import graft.osm.{OsmAudit, OsmXmlSource}
import graft.sinks.{JsonLinesSink, ParquetSink}

/** CLI entry (SURVEY §7.1 item 7): the reference's whole flow —
  * ingest XML → shape → write JSONL + parquet → run the audit
  * queries — as one `spark-submit`-able main.
  *
  * Usage:
  *   graft.Main <osm-xml-path> <out-dir>       — dump + audit flow
  *   graft.Main mongo-load <osm-xml-path>      — live connector load
  *
  * `mongo-load` (VERDICT r12 #6, the opt-in live-Mongo runbook —
  * see README "Live MongoDB load") writes the shaped collection
  * through the REAL MongoDB Spark connector. It requires:
  *   SPARK_GRAFT_MONGO_URI         mongodb://… (validated)
  *   SPARK_GRAFT_MONGO_DB          database   (default `osm`)
  *   SPARK_GRAFT_MONGO_COLLECTION  collection (default `documents`)
  * and the connector jar (`mongo-spark-connector_2.13:10.x`) on the
  * classpath — neither ships in this sandbox, which is why the path
  * is env-gated rather than default: config validation, Extended-JSON
  * parity and the mongoimport-format dump are covered by always-on
  * specs; the live insert runs wherever a mongod exists.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("mongo-load")) return mongoLoad(args.drop(1))
    require(args.length == 2,
      "usage: graft.Main <osm-xml-path> <out-dir> | graft.Main mongo-load <osm-xml-path>")
    val Array(xmlPath, outDir) = args
    val spark = GraftSession.local("graft-osm")

    val docs = OsmXmlSource.collection(spark, xmlPath).cache()

    JsonLinesSink.write(docs, s"$outDir/docs_jsonl")
    ParquetSink.write(docs, s"$outDir/docs_parquet")
    OsmAudit.refDocs(docs).write.mode("overwrite").parquet(s"$outDir/ref_docs")

    val counts = docs.groupBy("doc_type").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    val users = OsmAudit.uniqueUsers(docs).collect().head.getLong(0)
    val violations = OsmAudit.violations(docs).count()
    val mismatches = OsmAudit.docTypeMismatches(docs).count()

    // the reference's cell-36/37 reconciliation, as the run summary
    println(s"[graft] docs: $counts")
    println(s"[graft] unique contributors: $users")
    println(s"[graft] shape violations: $violations")
    println(s"[graft] member-type mismatches: $mismatches")

    spark.stop()
  }

  /** The live-connector load path. Separated so a misconfigured env
    * fails BEFORE a SparkSession spins up (MongoSinkConfig's
    * requires), and the actual write is exactly the library's
    * FormatSink — nothing bench-only about it. */
  private def mongoLoad(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Main mongo-load <osm-xml-path>")
    val uri = sys.env.getOrElse("SPARK_GRAFT_MONGO_URI",
      sys.error("mongo-load requires SPARK_GRAFT_MONGO_URI " +
        "(see README \"Live MongoDB load\")"))
    val cfg = graft.sinks.MongoSinkConfig(uri,
      sys.env.getOrElse("SPARK_GRAFT_MONGO_DB", "osm"),
      sys.env.getOrElse("SPARK_GRAFT_MONGO_COLLECTION", "documents"))
    val spark = GraftSession.local("graft-mongo-load")
    try {
      val docs = OsmXmlSource.collection(spark, args(0))
      val bad = graft.sinks.MongoExtendedJson.invalidFieldNames(docs.schema)
      require(bad.isEmpty,
        s"schema has Mongo-invalid field names: ${bad.mkString(", ")}")
      // Observation rides the WRITE job itself — no second parse
      // pass just to report a count (the OsmAudit.withShapeMetrics
      // pattern)
      val obs = org.apache.spark.sql.Observation()
      val observed = docs.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      cfg.sink.write(observed, path = "", overwrite = true)
      println(s"[graft] mongo-load: ${obs.get("n_docs")} docs -> " +
        s"${cfg.database}.${cfg.collection}")
    } finally spark.stop()
  }
}
