package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming semantics checked against the batch equivalents: the same
  * rows pushed through a MemoryStream must produce exactly what the
  * batch expressions produce on the bounded table (w1/w3 parity), plus
  * custom keyed state accumulates across micro-batches.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._
  import EventStreams._

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private val rows = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(10), 1, "click", 2.0),
    Event(3, ts(65), 1, "view", 3.0),   // >30min gap -> new session, new hour
    Event(4, ts(70), 2, "click", 4.0),
    Event(5, ts(130), 2, "click", 5.0)) // >30min gap for user 2

  test("tumbling window counts match the batch expression") {
    val mem = MemoryStream[Event]
    val q = tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // watermark hasn't passed; push a late-horizon event to close windows
    mem.addData(Event(99, ts(600), 9, "noise", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling")
      .select(col("hour_start"), col("event_type"), col("cnt"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = tumblingCounts(rows.toDF()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.subsetOf(streamed))
    assert(streamed.contains((ts(0), "click", 2L, 3.0)))
  }

  test("sliding window counts match the batch expression, 2 windows " +
    "per event") {
    val mem = MemoryStream[Event]
    val q = slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()
    mem.addData(rows: _*)
    mem.addData(Event(99, ts(600), 9, "noise", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sliding")
      .select(col("win_start"), col("event_type"), col("cnt"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = slidingCounts(rows.toDF()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.subsetOf(streamed))
    // each of the 5 events appears in exactly 2 windows
    assert(batch.toSeq.map(_._3).sum == 2 * rows.length)
  }

  test("session windows: 30-minute gap splits sessions") {
    val mem = MemoryStream[Event]
    val q = sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    mem.addData(rows: _*)
    mem.addData(Event(99, ts(600), 9, "noise", 0.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions")
      .filter(col("user_id") === 1)
      .select(col("session_start"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(sessions == Set((ts(0), 2L), (ts(65), 1L)))
  }

  test("file-source stream with Trigger.AvailableNow matches the batch " +
    "aggregation on the bounded events table (SURVEY S1's incremental flavor)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val batchDf = graft.Tables.events(spark, dir)
    // file streams read directories; stage the table file into one
    withTempDir("graft-stream") { stagedDir =>
      val staged = java.nio.file.Paths.get(stagedDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged.toString)
      // same schema-gated ts normalization as the batch reader, so the
      // streaming and batch paths cannot diverge on the driver's layout
      val normalized = graft.Tables.normalizeEventTs(stream)
      val q = tumblingCounts(normalized)
        .writeStream.format("memory").queryName("file_stream")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // append mode only emits watermark-closed windows; every emitted
      // row must match the batch result exactly
      val streamed = spark.table("file_stream").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = tumblingCounts(batchDf).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.subsetOf(batch))
    }
  }

  test("flatMapGroupsWithState sessionizer matches session_window (w3 " +
    "parity), including an out-of-order late arrival in a later batch") {
    val mem = MemoryStream[Event]
    val q = sessionizeCustom(mem.toDS())
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // in-watermark late event (ts 00:20, watermark is 130min-2h): merges
    // BACKWARDS into user 1's first session — the case eager emission
    // would get wrong
    val late = Event(6, ts(20), 1, "click", 1.5)
    mem.addData(late, Event(99, ts(600), 9, "noise", 0.0))
    q.processAllAvailable()
    // advance the watermark far past every session so timeouts fire
    mem.addData(Event(100, ts(1200), 9, "noise2", 0.0))
    q.processAllAvailable()
    q.stop()
    val custom = spark.table("custom_sessions")
      .filter(col("user_id") =!= 9)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val declarative = sessionCounts((rows :+ late).toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(custom == declarative)
    // the late event really did extend the first session backwards-merge
    assert(custom.exists { case (u, st, _, n, sum) =>
      u == 1L && st == ts(0) && n == 3L && sum == 4.5 })
  }

  private def tsUs(min: Int, micros: Int): Timestamp = {
    val t = ts(min); t.setNanos(micros * 1000); t
  }

  test("sessionizer keeps sub-millisecond precision: µs-level gap " +
    "decisions and emitted bounds match session_window (w3 parity)") {
    // ms-truncation would see both pairs as exactly 30:00.000 apart and
    // split/merge them identically; at full µs they differ
    val subRows = Seq(
      Event(1, tsUs(0, 500), 1, "click", 1.0),
      Event(2, tsUs(30, 400), 1, "click", 2.0), // gap - 100µs -> same session
      Event(3, tsUs(0, 500), 2, "click", 3.0),
      Event(4, tsUs(30, 600), 2, "click", 4.0)) // gap + 100µs -> new session
    val mem = MemoryStream[Event]
    val q = sessionizeCustom(mem.toDS())
      .writeStream.format("memory").queryName("subms_sessions")
      .outputMode("append").start()
    mem.addData(subRows: _*)
    mem.addData(Event(99, ts(600), 9, "noise", 0.0))
    q.processAllAvailable()
    mem.addData(Event(100, ts(1200), 9, "noise2", 0.0))
    q.processAllAvailable()
    q.stop()
    val custom = spark.table("subms_sessions")
      .filter(col("user_id") =!= 9)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val declarative = sessionCounts(subRows.toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(custom == declarative)
    // user 1 merged into one 2-event session; user 2 split into two
    assert(custom.count(_._1 == 1L) == 1 && custom.count(_._1 == 2L) == 2)
    // emitted bounds carry the microseconds (end = last ts + gap, at µs)
    assert(custom.exists { case (u, st, en, _, _) =>
      u == 1L && st == tsUs(0, 500) && en == tsUs(60, 400) })
  }

  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  test("streaming dedup keeps first arrival, drops re-deliveries across " +
    "micro-batches (state-bounded dropDuplicatesWithinWatermark)") {
    val mem = MemoryStream[Doc]
    val q = dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    mem.addData(
      Doc(1, ts(0), "alpha beta"),
      Doc(2, ts(1), "gamma delta"),
      Doc(3, ts(2), "ALPHA BETA  ")) // normalizes to doc 1's fingerprint
    q.processAllAvailable()
    // re-delivery in a LATER micro-batch must still be dropped
    mem.addData(Doc(4, ts(5), "alpha beta"), Doc(5, ts(6), "epsilon"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L))
  }

  test("chunk manifest is streamable UNCHANGED — the same stateless " +
    "transform over micro-batches equals the batch manifest (ck1 " +
    "parity); no state, no watermark, append mode") {
    val docs = Seq(
      Doc(1, ts(0), (1 to 130).map(i => s"t$i").mkString(" ")), // 3 chunks
      Doc(2, ts(1), "short doc"),                               // 1 chunk
      Doc(3, ts(2), (1 to 64).map(i => s"u$i").mkString(" ")))  // exact fit
    val mem = MemoryStream[Doc]
    val q = graft.operators.PipelineOps.chunkManifest(mem.toDF())
      .writeStream.format("memory").queryName("ck_stream")
      .outputMode("append").start()
    mem.addData(docs(0), docs(1))
    q.processAllAvailable()
    mem.addData(docs(2)) // a later micro-batch chunks independently
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ck_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = graft.operators.PipelineOps
      .chunkManifest(docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch)
    assert(streamed.count(_._1 == 1L) == 3) // 130 tokens / stride 48
  }

  test("BPE tokenization is streamable UNCHANGED — tok1's per-row " +
    "merge chain over micro-batches equals the batch economics " +
    "(tok1 parity); stateless, append mode") {
    val docs = Seq(
      Doc(1, ts(0), "the window order"),
      Doc(2, ts(1), "fast stream merge in"),
      Doc(3, ts(2), "x"))
    val mem = MemoryStream[Doc]
    val q = graft.operators.RetrievalOps.tok1Transform(mem.toDF())
      .writeStream.format("memory").queryName("tok_stream")
      .outputMode("append").start()
    mem.addData(docs(0), docs(1))
    q.processAllAvailable()
    mem.addData(docs(2)) // later micro-batch tokenizes independently
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val streamed = spark.table("tok_stream").collect().map(key).toSet
    val batch = graft.operators.RetrievalOps
      .tok1Transform(docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      .collect().map(key).toSet
    assert(streamed == batch)
    // spot-check the merge chain through the streaming path:
    // "the window order" → 3 + 4 + 3 = 10 BPE tokens over 14 chars
    assert(streamed.exists { case (id, ws, ch, bpe, _) =>
      id == 1L && ws == 3L && ch == 14L && bpe == 10L })
  }

  test("the unpivot melt is streamable UNCHANGED — u10's stack + cent " +
    "quantization over micro-batches equals the batch melt; only the " +
    "per-measure agg is stateful") {
    val rows = Seq(Li(3.0, 1234.56, 0.05, 0.02), Li(7.0, 99.99, 0.0, 0.08))
    val mem = MemoryStream[Li]
    val q = graft.operators.RelationalOps.meltCents(mem.toDF())
      .writeStream.format("memory").queryName("melt_stream")
      .outputMode("append").start()
    mem.addData(rows(0))
    q.processAllAvailable()
    mem.addData(rows(1)) // later micro-batch melts independently
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("melt_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val batch = graft.operators.RelationalOps
      .meltCents(rows.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.contains(("l_extendedprice", 123456L)))
  }

  test("the weekday profile is streamable UNCHANGED — w12's integer " +
    "dow counts over micro-batches equal the batch aggregation " +
    "(complete mode; the share window is a batch-side consumer of " +
    "this tiny relation)") {
    val evs = Seq(
      Event(1, ts(0), 1, "view", 1.0),      // 2024-01-01 = Monday (dow 1)
      Event(2, ts(10), 1, "view", 2.0),
      Event(3, ts(65), 2, "purchase", 3.0),
      Event(4, ts(24 * 60 + 5), 2, "view", 4.0)) // Tuesday (dow 2)
    val mem = MemoryStream[Event]
    val q = graft.operators.WindowOps.dowCounts(mem.toDF())
      .writeStream.format("memory").queryName("dow_stream")
      .outputMode("complete").start()
    mem.addData(evs(0), evs(1), evs(2))
    q.processAllAvailable()
    mem.addData(evs(3)) // later micro-batch updates the running counts
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2))
    val streamed = spark.table("dow_stream").collect().map(key).toSet
    val batch = graft.operators.WindowOps.dowCounts(evs.toDF())
      .collect().map(key).toSet
    assert(streamed == batch)
    // epoch day 0 was a Thursday, so ((day + 4) % 7) puts Sunday at
    // 0 — 2024-01-01 (a Monday) lands on dow 1, the next day on 2
    assert(streamed == Set(("view", 1L, 2L), ("purchase", 1L, 1L),
      ("view", 2L, 1L)))
  }

  test("stream-static enrichment joins each micro-batch against the " +
    "broadcast dimension — batch parity, and facts without a " +
    "dimension row drop (the dq1 FK contract, streaming-side)") {
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("user_id", "segment")
    val evs = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(5), 2, "click", 2.0),
      Event(3, ts(9), 9, "view", 3.0)) // user 9: no dim row -> dropped
    val mem = MemoryStream[Event]
    val q = EventStreams.enrichWithDim(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    mem.addData(evs(0), evs(1))
    q.processAllAvailable()
    mem.addData(evs(2)) // later micro-batch enriches independently
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
    val streamed = spark.table("enrich_stream").collect().map(key).toSet
    val batch = EventStreams.enrichWithDim(evs.toDF(), dim)
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 1L, "view", "BUILDING"),
      (2L, 2L, "click", "MACHINERY")))
  }

  test("watermarked stream-stream join pairs events within the hour bound") {
    val l = MemoryStream[Event]
    val r = MemoryStream[Event]
    val q = joinWithinHour(l.toDF(), r.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    l.addData(Event(10, ts(0), 1, "click", 1.0))
    r.addData(
      Event(20, ts(30), 1, "view", 0.0),   // within the hour -> joins
      Event(21, ts(90), 1, "view", 0.0),   // past the bound -> no join
      Event(22, ts(10), 2, "view", 0.0))   // other user -> no join
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssjoin")
      .select(col("left_id"), col("right_id"))
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(pairs == Set((10L, 20L)))
  }

  test("mapGroupsWithState accumulates across micro-batches") {
    val mem = MemoryStream[Event]
    val q = runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    // last update per user wins
    val finals = spark.table("running").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_._1) }
    assert(finals(1L) == (3L, 6.0))
    assert(finals(2L) == (2L, 9.0))
  }

  test("foreachBatch streams micro-batches through the mongoimport " +
    "sink — streaming and batch faces of S3 produce the same dump") {
    val mem = MemoryStream[Event]
    withTempDir("graft-stream-sink") { tmpDir =>
      val tmp = java.nio.file.Paths.get(tmpDir)
      val out = tmp.resolve("dump").toString
      mem.addData(rows: _*) // available-now: data staged before start
      val q = sinkTo(mem.toDF(), graft.sinks.MongoImportSink, out,
        tmp.resolve("ckpt").toString)
      q.awaitTermination(120000)
      val back = spark.read.json(out)
      assert(back.count() == rows.length)
      // the canonical wrappers survive the streaming path: int64 ids
      // never travel as bare JSON numbers
      assert(back.select(col("event_id.$numberLong")).collect()
        .map(_.getString(0)).sorted.toSeq == Seq("1", "2", "3", "4", "5"))
      assert(spark.read.text(out)
        .filter(col("value").contains(""""event_id":1""")).count() == 0)
    }
  }

  test("micro-batch replay is idempotent — re-delivering the same " +
    "batch id overwrites its batch-scoped subpath instead of " +
    "appending duplicates (at-least-once foreachBatch contract)") {
    import spark.implicits._
    withTempDir("graft-replay") { tmp =>
      val out = s"$tmp/dump"
      val batch = rows.toDF()
      EventStreams.writeBatch(graft.sinks.MongoImportSink, batch, out, 0L)
      // the failure/restart replay: same batch id, delivered again
      EventStreams.writeBatch(graft.sinks.MongoImportSink, batch, out, 0L)
      EventStreams.writeBatch(graft.sinks.MongoImportSink, batch, out, 1L)
      assert(spark.read.json(out).count() == rows.length * 2)
      assert(spark.read.json(s"$out/batch=0").count() == rows.length)
    }
  }
}

/** Top-level so Spark can encode it without an outer-scope capture. */
case class Li(l_quantity: Double, l_extendedprice: Double,
  l_discount: Double, l_tax: Double)
