package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}
import org.apache.spark.sql.SparkSession

/** A per-session memo of one corpus-version artifact (the co-purchase
  * edge bundle, the MinHash signatures, the d2 pair table, the NB
  * doc-score relation, ...): a pipeline materializes such state once
  * per corpus version and every later query reads it. Entries are keyed
  * by (session, dir, [[Tables.versionStamp]] of `table`), so a dataset
  * REWRITTEN at the same path within a session gets a fresh build
  * instead of a stale checkpoint. Values are narrow, eagerly
  * checkpointed relations; entries live for the session, and
  * [[Memo.clearAll]] drops every memo for cold-run specs.
  *
  * Superseded stamps are evicted BOTH before and after the build: a
  * concurrent caller still building under a superseded stamp can
  * re-insert its stale entry between our pre-sweep and insert; the
  * post-sweep catches that re-insertion. Lookups are always correct
  * regardless (the stamp is in the key) — the race only concerns
  * reclaiming the dead entry's blocks.
  *
  * The stamp is BY-NAME and re-read at each sweep: stamps are hashes,
  * not ordered, so "differs from MY stamp" cannot tell a superseded
  * entry from a SUCCESSOR's — a laggard whose stamp predates a
  * concurrent rewrite would evict the fresh entry a successor just
  * built. Each sweep instead protects both the live on-disk stamp and
  * the caller's own, so a laggard's mislabeled entry is reclaimed by
  * the next current-stamped caller, never the other way round. */
final class Memo[V] private (table: String) {

  private[graft] val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Long), V]

  def get(s: SparkSession, d: String)(build: => V): V =
    getStamped(s, d, Tables.versionStamp(d, table))(build)

  def contains(s: SparkSession, d: String): Boolean =
    entries.contains((s, d, Tables.versionStamp(d, table)))

  def clear(): Unit = entries.clear()

  private[graft] def getStamped(s: SparkSession, d: String, stamp: => Long)(
      build: => V): V = {
    val mine = stamp
    def sweep(): Unit = {
      val live = stamp // versionStamp never throws (degrades to 0)
      // a 0 stamp is the filesystem-error fallback, not a rewrite: it
      // proves nothing is superseded, so the current entry's blocks stay
      if (live != 0L && mine != 0L)
        entries.keysIterator
          .filter(k => k._1 == s && k._2 == d && k._3 != live && k._3 != mine)
          .foreach(k => entries.remove(k).foreach(Memo.release))
    }
    sweep()
    val v = entries.getOrElseUpdate((s, d, mine), build)
    sweep()
    v
  }
}

object Memo {

  private val all = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()

  /** Declare a memo stamped by `table`'s file set. */
  def apply[V](table: String): Memo[V] = {
    val m = new Memo[V](table)
    all.add(m)
    m
  }

  /** Drop every memo's entries (cold-run specs). */
  def clearAll(): Unit = all.forEach(_.clear())

  /** An evicted DataFrame entry's eager localCheckpoint holds
    * executor-pinned blocks that only ContextCleaner GC would otherwise
    * reclaim, so a session that rewrites the corpus would accumulate one
    * dead artifact per rewrite: unpersist its checkpointed leaf RDDs. A
    * laggard still holding the evicted frame then fails to recompute
    * rather than read stale data — the correct failure for a reader of
    * a superseded corpus version. Other values (GraphOps' artifact
    * bundle) rely on GC; their blocks are edge-sized. */
  private def release(v: Any): Unit = v match {
    case ds: org.apache.spark.sql.Dataset[_] =>
      ds.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(false))
    case _ => ()
  }

  /** The one step timer: a memo line's internal split rides stderr as
    * `[graft]   <line>/<step> <s> s`, never the stdout JSON contract. */
  def timed[A](line: String, step: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(
      f"[graft]   $line/$step%-16s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** One named build step of a bench memo line. A `concurrent` step
    * overlaps the inline ones (independent jobs back-filling each
    * other's idle cores). */
  final case class Step(name: String, concurrent: Boolean = false)(
      val build: (SparkSession, String) => Any)

  /** The memo-line runner: starts the concurrent steps, runs the inline
    * steps in order up to the first failure, then awaits EVERY started
    * step before returning, so no build keeps running detached. The
    * first failure (inline before concurrent) is rethrown with the
    * others attached as suppressed. */
  def run(line: String, steps: Step*): (SparkSession, String) => Unit =
    (s, d) => {
      def go(st: Step): Try[Unit] = Try { timed(line, st.name)(st.build(s, d)); () }
      val (bg, fg) = steps.partition(_.concurrent)
      val started = bg.map(st => Future(go(st))(ExecutionContext.global))
      val inline = fg.foldLeft(Vector.empty[Try[Unit]]) { (done, st) =>
        if (done.exists(_.isFailure)) done else done :+ go(st)
      }
      val failures = (inline ++ started.map(Await.result(_, Duration.Inf)))
        .collect { case Failure(e) => e }
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    }
}
