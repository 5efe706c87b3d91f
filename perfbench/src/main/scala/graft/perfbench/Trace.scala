package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counters, summed over every job since the listener was
  * added. A [[Counts]] snapshot before and after an operation gives the
  * operation's own share. */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, runMs, gcMs, shuffleBytes, spillBytes,
    scanBytes, tablesJobs, tablesJobNs = new AtomicLong
  // job id -> (submission ms, whether its call site is graft.Tables)
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Boolean)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    open.put(e.jobId, (e.time, e.stageInfos.exists(_.name.contains("Tables.scala"))))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (t0, isTables) =>
      if (isTables) {
        tablesJobs.incrementAndGet()
        tablesJobNs.addAndGet((e.time - t0) * 1000000L)
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Totals so far, after every queued listener event is delivered. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.ListenerBusDrain.drain(sc)
    Counts(jobs.get, stages.get, tasks.get, runMs.get / 1e3, gcMs.get / 1e3,
      shuffleBytes.get, spillBytes.get, scanBytes.get, tablesJobs.get,
      tablesJobNs.get / 1e9)
  }
}

final case class Counts(jobs: Long, stages: Long, tasks: Long,
    executorRunS: Double, gcS: Double, shuffleBytes: Long, spillBytes: Long,
    scanBytes: Long, tablesJobs: Long, tablesJobS: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, executorRunS - o.executorRunS, gcS - o.gcS,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    scanBytes - o.scanBytes, tablesJobs - o.tablesJobs, tablesJobS - o.tablesJobS)
}

/** Spans at layer boundaries: name, start, end and parent, tagged with
  * the run id. Kept in memory while the run measures and written out
  * once at the end. A disabled tracer only runs the body. */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  /** spans are recorded only while this is set */
  var on: Boolean = true

  def span[T](name: String)(body: => T): T =
    if (!enabled || !on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime() - t0, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime() - t0)
      }
    }

  /** Per span name: total time minus the time of its child spans. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupMapReduce(_.name)(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
