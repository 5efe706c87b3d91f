package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: set up a workload, measure passes over
  * it for a fixed time, check every output, and write one result file.
  *
  * {{{
  * Main --workload osm|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE --launched-ms EPOCH_MS
  *      [--expected FILE]
  * }}}
  * Every file the run writes goes under `--work`. `run.py` is the
  * launcher; it builds the classpath and prints the final result line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, launchedMs: Long,
      expected: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("out"), req("launched-ms").toLong,
      m.get("expected"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = GraftSession.local("perfbench")
    val jvmS = (System.currentTimeMillis() - o.launchedMs) / 1e3
    val json =
      try new Run(spark, o).execute(jvmS)
      finally spark.stop()
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** Shared run state: outcome bookkeeping, output checks and metrics. */
final class Run(val spark: SparkSession, val o: Main.Opts) {
  val runId = f"${o.workload}-s${o.seed}-${System.currentTimeMillis()}%x"
  val tracer = new Tracer(runId, o.trace)
  val counters = new SparkCounters
  val cores: Int = spark.sparkContext.defaultParallelism
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  private val recorded: Option[Map[String, String]] = loadExpected()
  /** the first digest of each operation in this run */
  val observed = mutable.LinkedHashMap.empty[String, String]

  /** Outputs recorded in `expected.json` for this workload and seed;
    * None when the seed has none recorded. */
  private def loadExpected(): Option[Map[String, String]] = o.expected match {
    case Some(p) if new java.io.File(p).isFile =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(p))
      val node = root.path(o.workload)
      val cfg = node.path("config").asText("")
      if (!node.isMissingNode && cfg != Workload.config(o.workload))
        sys.error(s"expected values were recorded for '$cfg', this run is " +
          s"'${Workload.config(o.workload)}': re-record them")
      val outputs = node.path("seeds").path(o.seed.toString)
      if (outputs.isMissingNode) None
      else {
        val it = outputs.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        Some(b.result())
      }
    case _ => None
  }

  def fail(op: String, why: String): Unit = {
    failed += 1
    if (errors.size < 50) errors += s"$op: $why"
  }

  /** One attempted operation; a throw is a failure with its cause. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(op, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Compare an output digest with the value recorded for this seed.
    * A seed with no recorded values is checked only against this run's
    * first digest of the same operation, and the result says so. */
  def check(op: String, digest: String): Unit = {
    val ref = recorded.map(_.getOrElse(op, s"(none recorded for $op)"))
      .orElse(observed.get(op))
    if (!observed.contains(op)) observed(op) = digest
    ref.filter(_ != digest).foreach(r => fail(op, s"output $digest, expected $r"))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def execute(jvmS: Double): String = {
    val (wl, initS) = time(Workload(o.workload, this))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // set-up: input, program set-up steps, one warm-up
    val steps = tracer.span("setup") { wl.setup() }
    val prepS = steps.map(_._2).sum
    tracer.on = false
    val warmS = (1 to wl.warmPasses).map(_ => wl.pass(traced = false).wall).sum
    // measured passes: --seconds over the workload's nominal pass time,
    // so the count does not depend on the machine's speed. A traced run
    // alternates untraced and traced passes, starting and ending with an
    // untraced one, so the untraced passes bracket the warm-up that still
    // goes on between them: n untraced ones, or 2 when n is 1
    val n = math.max(1, math.round(o.seconds / wl.nominalPassS).toInt)
    val plain = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    for (i <- 0 until (if (o.trace) math.max(3, 2 * n - 1) else n)) {
      val trace = o.trace && i % 2 == 1
      tracer.on = trace
      if (trace) spark.sparkContext.addSparkListener(counters)
      val cpu0 = Memory.threadCpuNs
      val jit0 = Memory.jitS
      val p = tracer.span("pass") { wl.pass(trace) }
        .copy(cpu = Memory.cpuSinceS(cpu0), jit = Memory.jitS - jit0)
      if (trace) {
        spark.sparkContext.removeSparkListener(counters)
        traced += p
      } else plain += p
    }
    val setupS = jvmS + initS + prepS + warmS
    // one latency per operation: its median over the passes. A pass made
    // of these medians is steadier than the median pass: a slow moment
    // of the machine inflates one operation of one pass, not the whole
    val opMedians = plain.flatMap(_.ops).groupMap(_._1)(_._2).view
      .mapValues(v => Stats.median(v.toSeq)).toSeq.sortBy(_._1)
    val ops = opMedians.map(_._2)
    val passS = ops.sum
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (passS, "s")
      metrics("pass_cpu_s") = (Stats.median(plain.map(_.cpu).toSeq), "s")
      metrics("input_mb_per_s") = (wl.throughput(opMedians.toMap, passS), "MB/s")
    } else {
      val byPass = traced.map(_.layers).toSeq
      Layers.all.foreach { case (name, unit) =>
        metrics(name) = (Stats.median(byPass.map(_.getOrElse(name, 0.0))), unit)
      }
      wl.setupLayers.foreach { case (k, v) => metrics(k) = (v, "s") }
      val self = tracer.selfSeconds
      Layers.selfSpans.foreach { sp =>
        metrics(s"self.$sp.s") = (self.getOrElse(sp, 0.0) / traced.size, "s")
      }
      metrics("op_p50_s") = (Stats.quantile(ops, 0.5), "s")
      metrics("op_p90_s") = (Stats.quantile(ops, 0.9), "s")
      metrics("trace_overhead") =
        (Stats.median(traced.map(_.wall).toSeq) / Stats.median(plain.map(_.wall).toSeq), "ratio")
      metrics("fail_share") = (failed.toDouble / attempted, "ratio")
      metrics("cached_mb") = (Memory.cachedMb(spark), "MB")
      metrics("heap_mb") = (Memory.heapAfterGcMb, "MB")
      tracer.writeJsonLines(s"${o.work}/spans.jsonl")
    }
    val correct = failed == 0 && attempted > 0
    val rt = Runtime.getRuntime
    Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> Json.bool(o.trace),
      "passes" -> plain.size.toString,
      "pass_walls" -> Json.arr(plain.map(p => Json.num(p.wall)).toSeq),
      "pass_cpus" -> Json.arr(plain.map(p => Json.num(p.cpu)).toSeq),
      "pass_jits" -> Json.arr(plain.map(p => Json.num(p.jit)).toSeq),
      "pass_ops" -> Json.arr(plain.map(p => Json.obj(p.ops.map { case (k, v) =>
        k -> Json.num(v) }: _*)).toSeq),
      "op_s" -> Json.obj(opMedians.map { case (k, v) => k -> Json.num(v) }: _*),
      "setup_parts" -> Json.obj((Seq("jvm_s" -> jvmS, "init_s" -> initS) ++ steps :+ ("warm_s" -> warmS))
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "env" -> Json.obj("cores" -> cores.toString,
        "max_heap_mb" -> Json.num(rt.maxMemory() / 1e6),
        "machine_mem_mb" -> Json.num(Memory.machineMb),
        "java" -> Json.str(System.getProperty("java.version"))),
      "config" -> Json.str(Workload.config(o.workload)),
      "recorded_seed" -> Json.bool(recorded.isDefined),
      "outputs" -> Json.obj(observed.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "errors" -> Json.arr(errors.map(Json.str).toSeq))
  }
}

/** One pass: wall time, per-operation times, (traced) layer values, and
  * the JVM's CPU time and JIT compile time over the pass. */
final case class Pass(wall: Double, ops: Seq[(String, Double)],
    layers: Map[String, Double] = Map.empty, cpu: Double = 0.0,
    jit: Double = 0.0)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear interpolation between closest ranks */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Memory {
  /** JVM heap in use after a full collection: what the run still holds */
  def heapAfterGcMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Spark block storage, memory plus disk, still held by the run. */
  def cachedMb(spark: SparkSession): Double = {
    System.gc() // let the context cleaner drop blocks of collected RDDs
    Thread.sleep(200)
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
  }

  /** CPU time of each live Java thread: the driver, Spark's task and
    * service threads. The JIT compiler and GC threads are not Java threads,
    * so warm-up compilation is left out; and unlike wall time, CPU time
    * does not grow while a shared machine runs someone else on the cores. */
  def threadCpuNs: Map[Long, Long] = {
    val b = java.lang.management.ManagementFactory.getThreadMXBean
    b.getAllThreadIds.map(id => id -> b.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads used since `before` (a thread that ended
    * in between is missed; Spark's pooled threads outlive a pass) */
  def cpuSinceS(before: Map[Long, Long]): Double =
    threadCpuNs.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** seconds the JIT compilers have spent so far */
  def jitS: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def machineMb: Double =
    try {
      val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      bean.getTotalMemorySize / 1e6
    } catch { case NonFatal(_) => 0.0 }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
