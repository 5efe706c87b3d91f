package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the daily event time-series family (ts2–ts6,
  * w13–w16): plain-Scala replays over the dense daily calendar plus
  * the laws the DuckDB oracle can't state directly, and the empty
  * `events` answers each query must share with the oracle. The
  * full-data replays of ts4 (Round10bOpsSpec) and of ts5, ts6 and w16
  * (Round10cOpsSpec) stay in those specs.
  *
  * The replays build their calendar here, from the raw event
  * timestamps, and never through the engine's calendar builder, so a
  * fault in that builder shows as a mismatch rather than agreeing
  * with itself.
  */
class TimeSeriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private val dayUs = 86400000000L

  /** Event (type, integer µs-day) pairs. */
  private lazy val typedDays: Array[(String, Long)] =
    Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1) / dayUs))

  /** Dense-calendar daily counts, first to last active day, gap days
    * as real zeros. */
  private lazy val dailyDense: IndexedSeq[(Long, Long)] = {
    val byDay = typedDays.groupBy(_._2)
      .map { case (d, xs) => d -> xs.length.toLong }
    (byDay.keys.min to byDay.keys.max)
      .map(d => d -> byDay.getOrElse(d, 0L))
  }

  // ---- ts2 --------------------------------------------------------

  test("ts2: the lead/lag correlation table replays exactly from " +
    "dense daily series, and lag 0 pairs every calendar day") {
    val evs = typedDays.filter(e => e._1 == "view" || e._1 == "purchase")
    val d0 = evs.map(_._2).min
    val d1 = evs.map(_._2).max
    val x = (d0 to d1).map(day =>
      day -> evs.count(e => e._1 == "view" && e._2 == day).toLong).toMap
    val y = (d0 to d1).map(day =>
      day -> evs.count(e => e._1 == "purchase" && e._2 == day).toLong).toMap
    val expected = (-operators.WindowOps.TS2_MAX_LAG to
      operators.WindowOps.TS2_MAX_LAG).map { lag =>
      val pairs = (d0 to d1).flatMap { day =>
        val dy = day + lag
        if (dy >= d0 && dy <= d1) Some((x(day), y(dy))) else None
      }
      val n = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val v1 = n * sxx - sx * sx; val v2 = n * syy - sy * sy
      val r = if (v1 <= 0 || v2 <= 0) None
      else Some(math.floor((n * sxy - sx * sy).toDouble /
        (math.sqrt(v1.toDouble) * math.sqrt(v2.toDouble))
        * 1e6 + 0.5) / 1e6)
      lag -> ((n, r))
    }.toMap
    val got = q("ts2_xcorr").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got === expected)
    assert(got(0L)._1 == d1 - d0 + 1)
    got.values.flatMap(_._2).foreach(r => assert(math.abs(r) <= 1.0))
  }

  // ---- ts3 --------------------------------------------------------

  test("ts3: the integer EWMA recurrence replays exactly over the " +
    "dense calendar, starts at x1, and stays within the running " +
    "[min, max] envelope of the series so far") {
    var ema = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    val expected = dailyDense.zipWithIndex.map { case ((day, x), i) =>
      ema = if (i == 0) x else (3L * ema + x) / 4L
      lo = math.min(lo, x); hi = math.max(hi, x)
      // floor-div undershoot: the EWMA can sit at most 1 below the
      // exact convex combination, never above the running max
      assert(ema >= math.max(0L, lo - 1) && ema <= hi,
        s"day $day ewma $ema outside [$lo-1, $hi]")
      (day, x, ema)
    }
    val got = q("ts3_ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === expected)
    assert(got.head._3 == got.head._2) // s1 = x1
  }

  // ---- w13 --------------------------------------------------------

  test("w13: the CUSUM trajectory replays exactly (dense calendar, " +
    "floor-div mean, data-derived slack), and resets to zero under " +
    "sub-mean days") {
    val (d0, d1) = (dailyDense.head._1, dailyDense.last._1)
    val mu = dailyDense.map(_._2).sum / dailyDense.length
    val k = math.max(1L, mu / 20L)
    var acc = 0L
    val expected = dailyDense.map { case (day, x) =>
      acc = math.max(0L, acc + x - mu - k)
      day -> ((x, acc, acc > 5 * k))
    }.toMap
    val got = q("w13_cusum").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === expected)
    assert(got.size == (d1 - d0 + 1).toInt)
    // the statistic is non-negative by construction
    got.values.foreach { case (_, s0, _) => assert(s0 >= 0L) }
  }

  // ---- w14 --------------------------------------------------------

  test("w14: weekday-adjusted anomaly flags replay exactly from the " +
    "multiplied-out 2-sigma rule over dense-calendar dow populations") {
    val withDow = dailyDense.map { case (day, n) => (day, n, (day + 4) % 7) }
    val moms = withDow.groupBy(_._3).map { case (dow, xs) =>
      dow -> ((xs.size.toLong, xs.map(_._2).sum,
        xs.map(x => x._2 * x._2).sum))
    }
    val expected = withDow.map { case (day, n, dow) =>
      val (cnt, sx, sxx) = moms(dow)
      val dev = n.toDouble * cnt.toDouble - sx.toDouble
      val v = cnt.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      (day, n, dow, dev * dev > 4.0 * v)
    }.toSet
    val got = q("w14_dow_anomaly").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got === expected)
    assert(got.size == dailyDense.size) // one row per calendar day
    // a 2-sigma rule over any population flags a strict minority
    assert(got.count(_._4) * 4 < got.size)
  }

  // ---- w15 --------------------------------------------------------

  test("w15: the Holt level+trend recurrence replays exactly " +
    "(truncating integer divisions), forecast = level + trend, and " +
    "day 1 is (x1, 0)") {
    var l = 0L
    var b = 0L
    val expected = dailyDense.zipWithIndex.map { case ((day, x), i) =>
      if (i == 0) { l = x; b = 0L }
      else {
        val lNew = (x + 3L * (l + b)) / 4L
        b = ((lNew - l) + 3L * b) / 4L
        l = lNew
      }
      (day, x, l, b, l + b)
    }
    val got = q("w15_holt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got === expected)
    assert(got.head._3 == got.head._2 && got.head._4 == 0L)
    got.foreach { case (_, _, lv, tr, fc) => assert(fc == lv + tr) }
  }

  test("ts4 on a 10-day calendar gives DuckDB's answer: only holdout " +
    "days whose 7-day lag is a calendar day are scored, and the empty " +
    "train-naive sum is NULL") {
    val first10 = dailyDense.take(10)
    assert(first10.map(_._2) == Seq(33L, 39L, 35L, 23L, 35L, 45L, 38L, 26L, 34L, 36L))
    withTempDir("graft-ts4-short") { dir =>
      spark.read.parquet(s"$sf/events.parquet")
        .filter(col("ts").cast("timestamp") <
          timestamp_micros(lit((first10.last._1 + 1) * dayUs)))
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("ts4_mase_backtest")(spark, dir).collect()
        .map(_.toSeq.toList).toSet
      // train prefix = 3 days, Holt state (34, 0); days 8-10 (h = 5-7)
      // are the holdout days with a lag: holt |26-34|+|34-34|+|36-34|,
      // naive |26-33|+|34-39|+|36-35|
      assert(got === Set(List[Any]("holt", 3L, 10L, null, 0L, null),
        List[Any]("naive", 3L, 13L, null, 0L, null)))
    }
  }

  test("events with a NULL ts have no day: the calendar queries answer " +
    "as if those rows were absent, as the oracle's grid join does") {
    withTempDir("graft-ts-nullts") { dir =>
      val src = spark.read.parquet(s"$sf/events.parquet")
      val odd = col("event_id") % 2 === 1
      src.withColumn("ts", when(odd, col("ts"))).write.parquet(s"$dir/nulls/events.parquet")
      src.filter(odd).write.parquet(s"$dir/dropped/events.parquet")
      for (name <- Seq("ts3_ewma", "ts4_mase_backtest", "w16_streaks")) {
        def run(d: String) = SparkEntry.queries(name)(spark, d).collect()
          .map(_.toSeq.toList).toSet
        val dropped = run(s"$dir/dropped")
        assert(dropped.nonEmpty && run(s"$dir/nulls") === dropped, name)
      }
    }
  }

  // ---- empty events -----------------------------------------------

  test("empty events: all nine time-series queries give DuckDB's " +
    "answer — no rows, except ts6's four NULL components and ts4's " +
    "two zero-holdout rows with NULL sums") {
    withTempDir("graft-ts-empty") { dir =>
      val src = spark.read.parquet(s"$sf/events.parquet")
      src.limit(0).write.parquet(s"$dir/events.parquet")
      val empty = spark.read.parquet(s"$dir/events.parquet")
      assert(empty.schema === src.schema && empty.count() == 0L)
      def run(name: String) = SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq.toList).toSet
      for (name <- Seq("ts2_xcorr", "ts3_ewma", "ts5_acf", "w13_cusum",
          "w14_dow_anomaly", "w15_holt", "w16_streaks"))
        assert(run(name).isEmpty, name)
      assert(run("ts6_decompose") ===
        Seq("trend", "seasonal", "remainder", "total")
          .map(c => List[Any](c, null, null)).toSet)
      assert(run("ts4_mase_backtest") ===
        Seq("holt", "naive").map(m => List[Any](m, 0L, null, null, 0L, null)).toSet)
    }
  }
}
