package graft.osm

import graft.SparkSpec
import graft.sinks.MongoImportSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.metrics.source.CodegenMetrics

/** The engine reruns the same queries in one JVM, so each generated
  * class it needs should be compiled once. Spark's codegen cache is
  * JVM-global with a default cap of 100 entries, and the `osm` pass
  * alone needs about 100 classes: at that cap a warm round recompiled
  * about half of them. A whole-stage class named after its stage id
  * missed the cache at any cap, since a query's stage ids differ from
  * run to run. The specs' session carries the engine's settings
  * ([[graft.GraftSession]]), and a warm round must hit the cache for
  * every class. */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles in this JVM so far: Spark times each one. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The notebook's audit surface, keyed on its own key, "service". */
  private val audit: Seq[DataFrame => DataFrame] = Seq(
    OsmAudit.uniqueUsers,
    OsmAudit.countDocsBy(_, "service"),
    OsmAudit.bikeServices,
    OsmAudit.auditRefTypes,
    OsmAudit.docTypeMismatches,
    OsmAudit.refDocs,
    OsmAudit.mostRefd(_, "service", 3),
    OsmAudit.updateStates,
    OsmAudit.updateStatesReport,
    OsmAudit.fixMismatchedRefs,
    OsmAudit.tagKeyProfile,
    OsmAudit.violations)

  test("a second ETL write + 12-query audit round over the same extract " +
    "compiles no generated class") {
    withTempDir("graft-codegen") { dir =>
      val xml = s"$dir/extract.osm"
      OsmEtlBench.generate(xml, 0.01)
      OsmXmlSource.collection(spark, xml).write.parquet(s"$dir/docs.parquet")
      val docs = spark.read.parquet(s"$dir/docs.parquet")
      def round(): Long = {
        val c0 = compiles
        MongoImportSink.write(OsmXmlSource.collection(spark, xml), s"$dir/dump",
          overwrite = true)
        audit.foreach(q => q(docs).queryExecution.toRdd.count())
        compiles - c0
      }
      val first = round()
      val second = round()
      assert(second == 0,
        s"the second round compiled $second classes (the first $first): " +
          "the codegen cache evicted part of the working set")
    }
  }

  test("a warm s6_ann_recall run compiles no generated class: a " +
    "whole-stage class's source carries no per-run stage id") {
    val s6 = graft.SparkEntry.queries("s6_ann_recall")
    def run(): Long = {
      val c0 = compiles
      s6(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      compiles - c0
    }
    val first = run()
    val second = run()
    assert(second == 0, s"the warm run compiled $second classes (the first $first)")
  }
}
