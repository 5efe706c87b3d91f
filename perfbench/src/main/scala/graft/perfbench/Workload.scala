package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.osm.{OsmAudit, OsmChunk, OsmShape, OsmXmlSource}
import graft.sinks.MongoImportSink

/** A workload: its set-up and one pass over its operations. */
abstract class Workload(val run: Run) {
  /** input MB per second, from each operation's median seconds and
    * their sum, `pass_s` */
  def throughput(opS: Map[String, Double], passS: Double): Double
  /** input and program set-up; returns each step's seconds */
  def setup(): Seq[(String, Double)]
  def pass(traced: Boolean): Pass
  /** `--seconds` divided by this is the measured pass count */
  def nominalPassS: Double
  /** untimed passes between the set-up and the measured ones */
  def warmPasses: Int = 1
  /** per-layer values measured once, during set-up */
  def setupLayers: Map[String, Double] = Map.empty

  protected def spark = run.spark
  protected def sc = run.spark.sparkContext
  protected def work = run.o.work
  protected def span[T](name: String)(body: => T): T = run.tracer.span(name)(body)

  /** median time of `n` repetitions of a set-up step */
  protected def medianOf(n: Int)(body: => Unit): Double =
    Stats.median(Seq.fill(n)(run.time(body)._2))
}

object Workload {
  /** set-up steps repeated per run; setup_s takes their median */
  val SetupReps = 3
  /** OSM extract size as a share of the reference's element counts */
  val OsmScale = 0.05
  /** analytics table scale factor (lineitem rows = 6,000,000 × sf) */
  val TableSf = 0.01

  def apply(name: String, run: Run): Workload = name match {
    case "osm" => new Osm(run)
    case "query_mix" => new QueryMix(run)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** what the recorded output values depend on besides the seed */
  def config(name: String): String = name match {
    case "query_mix" => s"sf=$TableSf queries=${QueryMix.names.mkString(",")}"
    case _ => s"osm_scale=$OsmScale"
  }
}

/** The paper's own pipeline. Set-up writes the shaped collection to
  * parquet with the engine's ETL and runs the audit once; each pass then
  * runs the write path
  * (chunk the extract, shape it, dump it as mongoimport-ready Extended
  * JSON) and the read path (the twelve audit queries over the parquet
  * collection). */
final class Osm(run: Run) extends Workload(run) {
  private val xml = s"$work/input/extract.osm"
  private val fragments = s"$work/input/fragments"
  private val parquet = s"$work/input/docs.parquet"
  private val dump = s"$work/output/dump"
  private var extract: OsmGen.Extract = _
  private var docs: DataFrame = _

  /** A warm pass takes about 10 s on four cores; a 10 s run measures two,
    * and each operation's latency is the mean of its two. */
  def nominalPassS: Double = 5.0

  def throughput(opS: Map[String, Double], passS: Double): Double =
    extract.bytes / 1e6 / opS("osm_etl")

  def setup(): Seq[(String, Double)] = {
    val genS = medianOf(Workload.SetupReps) {
      span("input") { extract = OsmGen.write(xml, run.o.seed, Workload.OsmScale) }
    }
    val (_, parquetS) = run.time(span("setup.parquet") {
      OsmChunk.chunk(xml, fragments, run.cores)
      OsmXmlSource.collection(spark, fragments, 0).write.mode("overwrite").parquet(parquet)
      docs = spark.read.parquet(parquet)
    })
    // the parquet write has run the write path once; one audit round
    // here gives the read path as much warm-up before the warm-up pass
    val (_, auditS) = run.time(span("setup.audit") { audit(traced = false) })
    Seq("input_s" -> genS, "parquet_s" -> parquetS, "audit_s" -> auditS)
  }

  def pass(traced: Boolean): Pass = {
    val (etlS, etlLayers) = etl(traced)
    val (auditS, auditOps, auditLayers) = audit(traced)
    Pass(etlS + auditS, ("osm_etl" -> etlS) +: auditOps, etlLayers ++ auditLayers)
  }

  private def etl(traced: Boolean): (Double, Map[String, Double]) = {
    val before = if (traced) Some(run.counters.snapshot(sc)) else None
    val (_, chunkS) = run.time(span("etl.chunk") {
      run.attempt("osm_etl.chunk") { OsmChunk.chunk(xml, fragments, run.cores) }
    })
    val (_, writeS) = run.time(span("etl.write") {
      run.attempt("osm_etl.write") {
        MongoImportSink.write(OsmXmlSource.collection(spark, fragments, 0), dump,
          overwrite = true)
      }
    })
    val wall = chunkS + writeS
    val c = before.map(b => run.counters.snapshot(sc) - b)
    span("check") { checkDump() }
    val layers = c.map { c =>
      // layer split: the three reads alone, then read + shape, into noop
      def noop(df: DataFrame): Double =
        run.time(df.write.format("noop").mode("overwrite").save())._2
      val readers = Seq(
        "node" -> (() => OsmXmlSource.nodes(spark, fragments)),
        "way" -> (() => OsmXmlSource.ways(spark, fragments)),
        "relation" -> (() => OsmXmlSource.relations(spark, fragments)))
      val parseS = span("osm.parse") { readers.map { case (_, r) => noop(r()) }.sum }
      val shapedS = span("osm.shape") {
        readers.map { case (t, r) => noop(OsmShape.shape(r(), t)) }.sum
      }
      Map("OsmChunk.s" -> chunkS, "OsmXmlSource.parse_s" -> parseS,
        "OsmShape.s" -> (shapedS - parseS), "MongoImportSink.s" -> (writeS - shapedS),
        "MongoImportSink.bytes" -> dumpFiles.map(_.length()).sum.toDouble,
        "etl.jobs" -> c.jobs.toDouble, "etl.tasks" -> c.tasks.toDouble,
        "etl.executor_run_s" -> c.executorRunS, "etl.gc_s" -> c.gcS,
        "etl.core_util" -> c.executorRunS / (wall * run.cores))
    }
    (wall, layers.getOrElse(Map.empty))
  }

  private def dumpFiles: Seq[File] =
    Option(new File(dump).listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))

  /** per-type document counts must equal the generated element counts;
    * the order-insensitive checksum of the dump must match */
  private def checkDump(): Unit = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var hash = 0L
    dumpFiles.foreach { f =>
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.io.FileInputStream(f), "UTF-8"), 1 << 16)
      try {
        var line = r.readLine()
        while (line != null) {
          val at = line.indexOf("\"doc_type\":\"")
          val t = if (at < 0) "?" else line.substring(at + 12, line.indexOf('"', at + 12))
          counts(t) += 1
          hash += Digest.mixLong(line.hashCode.toLong)
          line = r.readLine()
        }
      } finally r.close()
    }
    val want = Map("node" -> extract.nodes, "way" -> extract.ways,
      "relation" -> extract.relations)
    if (counts.toMap != want)
      run.fail("osm_etl.counts", s"documents by type ${counts.toMap}, generated $want")
    run.check("osm_etl.dump", f"${counts.values.sum}/$hash%x")
  }

  private def audit(traced: Boolean): (Double, Seq[(String, Double)], Map[String, Double]) = {
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val before = if (traced) Some(run.counters.snapshot(sc)) else None
    val t0 = System.nanoTime()
    val ops = Osm.auditQueries.map { case (name, q) =>
      val op = s"OsmAudit.$name"
      val (_, s) = run.time {
        run.attempt(op) {
          val (df, buildS) = run.time(span("audit.build") { q(docs) })
          val (_, planS) = run.time(span("audit.plan") { df.queryExecution.executedPlan })
          val (d, execS) = run.time(span("audit.exec") { Digest.of(df) })
          layers("OsmAudit.plan_s") += buildS + planS
          layers("OsmAudit.exec_s") += execS
          span("check") { run.check(op, d.toString) }
        }
      }
      spark.catalog.clearCache()
      layers(s"$op.s") = s
      op -> s
    }
    val wall = (System.nanoTime() - t0) / 1e9
    before.foreach { b =>
      val c = run.counters.snapshot(sc) - b
      layers("OsmAudit.jobs") = c.jobs.toDouble
      layers("OsmAudit.shuffle_bytes") = c.shuffleBytes.toDouble
    }
    (wall, ops, if (traced) layers.toMap else Map.empty)
  }
}

object Osm {
  /** The reference notebook's audit surface; the key for the keyed
    * queries is the notebook's own, "service". */
  val auditQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "uniqueUsers" -> OsmAudit.uniqueUsers,
    "countDocsBy" -> (d => OsmAudit.countDocsBy(d, "service")),
    "bikeServices" -> OsmAudit.bikeServices,
    "auditRefTypes" -> OsmAudit.auditRefTypes,
    "docTypeMismatches" -> OsmAudit.docTypeMismatches,
    "refDocs" -> OsmAudit.refDocs,
    "mostRefd" -> (d => OsmAudit.mostRefd(d, "service", 3)),
    "updateStates" -> OsmAudit.updateStates,
    "updateStatesReport" -> OsmAudit.updateStatesReport,
    "fixMismatchedRefs" -> OsmAudit.fixMismatchedRefs,
    "tagKeyProfile" -> OsmAudit.tagKeyProfile,
    "violations" -> OsmAudit.violations)
}

/** The analytics registry: the quick tier's queries in a seeded order
  * per pass, after set-up primes the four memos of `Bench.memoBuilds`. */
final class QueryMix(run: Run) extends Workload(run) {
  private val dir = s"$work/input/tables"
  private val registry = graft.SparkEntry.queries
  private val memoS = mutable.LinkedHashMap.empty[String, Double]
  private var passNo = 0

  /** A warm pass takes about 2.5 s on four cores. The JIT is still busy
    * for the first five or six passes after the memo primes and each pass
    * is faster than the one before, so four are warm-up, and each query's
    * latency is its median over five measured passes. */
  def nominalPassS: Double = 2.0
  override def warmPasses: Int = 4

  def throughput(opS: Map[String, Double], passS: Double): Double = {
    val bytes = Option(new File(dir).listFiles()).toSeq.flatten.map(_.length()).sum
    bytes / 1e6 / passS
  }

  def setup(): Seq[(String, Double)] = {
    val genS = medianOf(Workload.SetupReps) {
      span("input") { TableGen.write(spark, dir, run.o.seed, Workload.TableSf) }
    }
    graft.Bench.memoBuilds.foreach { case (name, _, prime) =>
      val (_, s) = run.time(span("memo.prime") {
        run.attempt(name) { prime(spark, dir) }
      })
      memoS(name) = s
    }
    ("input_s" -> genS) +: memoS.toSeq
  }

  override def setupLayers: Map[String, Double] =
    memoS.map { case (k, v) => s"memo.${k.stripPrefix("memo_")}.s" -> v }.toMap

  def pass(traced: Boolean): Pass = {
    passNo += 1
    val order = new scala.util.Random(run.o.seed * 7919 + passNo).shuffle(QueryMix.names)
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val passBefore = if (traced) Some(run.counters.snapshot(sc)) else None
    val t0 = System.nanoTime()
    val ops = order.map { name =>
      val key = graft.Bench.shortKey(name)
      val before = passBefore.map(_ => run.counters.snapshot(sc))
      val (_, s) = run.time {
        run.attempt(name) {
          val (df, buildS) = run.time(span("query.build") { registry(name)(spark, dir) })
          val (_, planS) = run.time(span("query.plan") { df.queryExecution.executedPlan })
          val (d, execS) = run.time(span("query.exec") { Digest.of(df) })
          if (traced) {
            val phases = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { ph =>
              layers(s"query.${ph}_s") += phases.get(ph).map(_.durationMs / 1e3).getOrElse(0.0)
            }
          }
          layers("query.build_s") += buildS
          layers("query.plan_s") += planS
          layers("query.exec_s") += execS
          span("check") { run.check(name, d.toString) }
        }
      }
      // the per-query scratch some operators persist (Bench's discipline)
      spark.catalog.clearCache()
      before.foreach(b => layers(s"q.$key.jobs") = (run.counters.snapshot(sc) - b).jobs.toDouble)
      layers(s"q.$key.s") = s
      name -> s
    }
    val wall = (System.nanoTime() - t0) / 1e9
    passBefore.foreach { b =>
      val c = run.counters.snapshot(sc) - b
      layers("query.jobs") = c.jobs.toDouble
      layers("query.stages") = c.stages.toDouble
      layers("query.tasks") = c.tasks.toDouble
      layers("query.shuffle_bytes") = c.shuffleBytes.toDouble
      layers("query.spill_bytes") = c.spillBytes.toDouble
      layers("query.scan_bytes") = c.scanBytes.toDouble
      layers("query.executor_run_s") = c.executorRunS
      layers("Tables.schema_jobs") = c.tablesJobs.toDouble
      layers("Tables.schema_job_s") = c.tablesJobS
    }
    Pass(wall, ops, if (traced) layers.toMap else Map.empty)
  }
}

object QueryMix {
  /** Eleven of `Bench.quickTier`'s 34, chosen so a warm pass takes
    * about 2.5 s on four cores: the consumers of three memos
    * (pipe6, d2, al1) and the aggregate, join, window, as-of, upsert and
    * cleaning families that show the per-query floor. gr7_kcore, the
    * fourth memo's consumer, alone took 40% of a pass; without it a run
    * has time for four warm-up passes and five measured ones. The whole
    * tier takes 35 s a pass (s6 alone 9 s), which does not fit the
    * benchmark's budget. */
  val names: Seq[String] = Seq("a2_group_count", "al1_uncertain_topk",
    "d2_minhash_lsh", "f1_phone_clean", "g1_rollup",
    "j2_inner_join", "m4_upsert_latest", "pipe6_decontam_split",
    "r1_asof_join", "t1_topk", "w2_rank_per_group")
}

/** The fixed per-layer metric list every traced run reports, in
  * BENCHMARK.json order; a layer a workload does not touch reads 0. */
object Layers {
  private val s = "s"
  private val n = "count"
  private val b = "bytes"

  def all: Seq[(String, String)] =
    Seq("OsmChunk.s" -> s, "OsmXmlSource.parse_s" -> s, "OsmShape.s" -> s,
      "MongoImportSink.s" -> s, "MongoImportSink.bytes" -> b, "etl.jobs" -> n,
      "etl.tasks" -> n, "etl.executor_run_s" -> s, "etl.gc_s" -> s,
      "etl.core_util" -> "ratio") ++
    Osm.auditQueries.map { case (q, _) => s"OsmAudit.$q.s" -> s } ++
    Seq("OsmAudit.plan_s" -> s, "OsmAudit.exec_s" -> s, "OsmAudit.jobs" -> n,
      "OsmAudit.shuffle_bytes" -> b,
      "Tables.schema_jobs" -> n, "Tables.schema_job_s" -> s,
      "query.build_s" -> s, "query.plan_s" -> s, "query.analysis_s" -> s,
      "query.optimization_s" -> s, "query.planning_s" -> s, "query.exec_s" -> s,
      "query.jobs" -> n, "query.stages" -> n, "query.tasks" -> n,
      "query.shuffle_bytes" -> b, "query.spill_bytes" -> b, "query.scan_bytes" -> b,
      "query.executor_run_s" -> s) ++
    QueryMix.names.map(graft.Bench.shortKey).flatMap(k => Seq(s"q.$k.s" -> s, s"q.$k.jobs" -> n)) ++
    graft.Bench.memoBuilds.map { case (m, _, _) => s"memo.${m.stripPrefix("memo_")}.s" -> s } ++
    selfSpans.map(sp => s"self.$sp.s" -> s) ++
    Seq("op_p50_s" -> s, "op_p90_s" -> s, "trace_overhead" -> "ratio",
      "fail_share" -> "ratio", "cached_mb" -> "MB", "heap_mb" -> "MB")

  /** pass-level spans whose self time is reported per traced pass */
  val selfSpans: Seq[String] = Seq("pass", "etl.chunk", "etl.write", "osm.parse",
    "osm.shape", "audit.build", "audit.plan", "audit.exec", "query.build",
    "query.plan", "query.exec", "check")
}
