package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The memo registry's fail-safe laws: a degraded version stamp never
  * destroys the current entry, and the memo-line runner never leaves a
  * concurrent build running detached. */
class MemoSpec extends SparkSpec {

  test("a degraded (0) version stamp evicts nothing: the current " +
    "entry's checkpoint blocks stay persisted and it is still served") {
    withTempDir("memo") { dir =>
      spark.range(5).write.parquet(s"$dir/documents.parquet")
      val memo = Memo[DataFrame]("documents")
      val first = memo.get(spark, dir)(spark.range(3).toDF().localCheckpoint(true))
      val ids = first.queryExecution.optimizedPlan.collect {
        case r: LogicalRDD => r.rdd.id
      }
      assert(ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains))
      // a vanished path takes the same 0 fallback as a filesystem error
      val table = new java.io.File(s"$dir/documents.parquet")
      val moved = new java.io.File(s"$dir/moved")
      assert(table.renameTo(moved))
      memo.get(spark, dir)(spark.range(1).toDF().localCheckpoint(true))
      assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
        "a degraded stamp unpersisted the current entry's blocks")
      assert(moved.renameTo(table)) // file set unchanged: the real stamp again
      assert(memo.get(spark, dir)(fail("current entry was evicted")) eq first)
      Memo.clearAll()
      assert(memo.entries.isEmpty, "clearAll missed a declared memo")
    }
  }

  test("the memo-line runner awaits every concurrent step when an " +
    "inline step throws, and rethrows the first failure with the " +
    "others suppressed") {
    val finished = new AtomicBoolean(false)
    val prime = Memo.run("memo_test",
      Memo.Step("slow", concurrent = true) { (_, _) =>
        Thread.sleep(300); finished.set(true)
      },
      Memo.Step("also_fails", concurrent = true) { (_, _) =>
        throw new IllegalStateException("second")
      },
      Memo.Step("fails")((_, _) => throw new IllegalArgumentException("first")))
    val e = intercept[IllegalArgumentException](prime(null, "/unused"))
    assert(e.getMessage == "first")
    assert(finished.get, "returned before the concurrent step finished")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("concurrent memo steps run on named daemon graft-memo threads") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Thread]()
    Memo.run("memo_test",
      Memo.Step("where", concurrent = true)((_, _) => seen.set(Thread.currentThread())))(
      null, "/unused")
    val t = seen.get
    assert(t != null && t != Thread.currentThread(), "the concurrent step ran inline")
    assert(t.getName.startsWith("graft-memo-"), s"step thread named ${t.getName}")
    assert(t.isDaemon, "a step thread would hold the JVM open")
  }
}
