package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns.roundFp

/** Event-time and analytic window operators over the `events` stream
  * table — the batch faces of the engine's streaming surface (the same
  * tumbling/session windows run under Structured Streaming in
  * `graft.streaming`; here they're expressed on the bounded table so
  * the oracle can check them).
  *
  * Scale notes: tumbling/session windows shuffle once on
  * (key, window); analytic windows shuffle once on the partition key.
  * Both are the minimal-exchange plans for their semantics.
  */
object WindowOps {

  /** w1 — tumbling event-time window: per (hour, event_type) count and
    * sum. Epoch-aligned 1-hour windows == date_trunc in the oracle. */
  private def w1(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), roundFp(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** w2 — ranking window: top-3 orders per customer by price (dense
    * per-group top-k; shuffle on the partition key only). */
  private def w2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank"))

  /** w3 — session window: per-user sessions with a 30-minute
    * inactivity gap. Spark's `session_window` semantics: a new session
    * starts when the gap is >= 30 min; session end = last event + gap.
    * The oracle replicates with lag + cumulative-sum
    * (gaps-and-islands). */
  private def w3(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), roundFp(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** w4 — lag/delta analytic: microseconds since the user's previous
    * event (NULL for the first). One shuffle on user_id. */
  private def w4(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("delta_us"))
  }

  /** w5 — sliding event-time window: 10-minute windows every 5 minutes
    * (each event lands in exactly width/slide = 2 windows). Spark
    * expands the slide inline (no self-join); the shuffle key is
    * (window, event_type) — the same single-exchange shape as w1 with
    * a 2× row expansion, which is how sliding windows should scale. */
  private def w5(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), roundFp(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** w6 — running cumulative aggregate (rows unbounded preceding →
    * current row): the explicit frame-spec window the w-family lacked.
    * The accumulation ORDER is pinned by (ts, event_id), so the
    * left-to-right FP sum is reproducible run-to-run; one shuffle on
    * user_id and a per-partition sort, same exchange shape as w4. */
  private def w6(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("running_n"),
        roundFp(sum(col("value")).over(w), 2).as("running_value"))
  }

  /** w7 — quantile binning via ntile: each customer's orders split
    * into spend quartiles (per-key relative binning — "is this one of
    * the customer's top-quartile orders"). PARTITIONED ntile scales:
    * the shuffle key is o_custkey (high cardinality), each partition
    * sorts only its own rows. The GLOBAL form (ntile over an
    * unpartitioned window) would serialize 100 TB through one task —
    * global binning is instead the [[w8]] operator: quantile
    * cut-points joined back as a broadcast band dimension (r2's
    * shape). */
  private def w7(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc))
          .as("spend_quartile"))

  /** w8 — GLOBAL quantile binning: every order labeled with its
    * global spend quartile. This is w7's documented scale path made a
    * first-class operator: a global ntile would serialize the whole
    * table through one task's sort, so instead
    *   (1) ONE aggregation computes the exact quartile cut-points
    *       (partial+final agg — rows never converge to one task, only
    *       per-partition agg states do; at extreme scale swap in
    *       approx_percentile, same plan shape);
    *   (2) the 3 cut-points become a 4-row [lo, hi) band dimension —
    *       broadcast, exactly r2's range-join shape;
    *   (3) the fact table equi-ish-joins the broadcast bands — a
    *       scan-speed map-side pass, NO global sort, NO extra
    *       shuffle of the facts (asserted in PlanShapeSpec).
    * Cut-points are rounded (portable floor form) before binning in
    * BOTH engines so a sub-ulp interpolation difference can't flip a
    * boundary row's bin. */
  private def w8(s: SparkSession, d: String): DataFrame = {
    val cuts = Tables.orders(s, d)
      .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("c"))
      .select(transform(col("c"), x => roundFp(x, 6)).as("c"))
      .select(
        concat(array(lit(Double.NegativeInfinity)), col("c")).as("los"),
        concat(col("c"), array(lit(Double.PositiveInfinity))).as("his"))
    val bands = cuts
      .select(col("his"), posexplode(col("los")).as(Seq("bin", "lo")))
      .select(col("bin"), col("lo"), element_at(col("his"), col("bin") + 1).as("hi"))
    Tables.orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .select(col("o_orderkey"), col("bin").as("spend_quartile"))
  }

  /** fn1's per-step conversion deadline: 24 hours in microseconds
    * (sized so the funnel completes at every test sf — event spacing
    * stretches as sf shrinks; production picks its own deadline). */
  // private[graft] so the replay spec references THIS constant — a
  // deadline change retests the same contract, not a stale literal
  private[graft] val FN1_WINDOW_US = 86400000000L

  /** fn1 — conversion-funnel analysis (view → click → purchase), the
    * sequential-pattern op the plain window family doesn't cover:
    * a user converts step k when the step-k event occurs strictly
    * AFTER their step-(k−1) anchor and within [[FN1_WINDOW_US]] of
    * it; the anchor is the EARLIEST qualifying event (the standard
    * earliest-completion funnel, deterministic with no tie-breaks
    * needed because anchors are min() aggregates). Output: users
    * reaching each step plus the exact summed step-to-step lag.
    *
    * Scale shape: each step is a type-filtered scan of THREE narrow
    * pruned columns reduced per user, then an equi-join on user_id
    * against the previous step's (user, anchor) table — per-step
    * state is one (user, long) row, the same "state never wider than
    * a key + a long" discipline as gr1's rank vector; the funnel
    * depth multiplies scans of a pruned projection, not exchanges of
    * anything corpus-wide. Each step's state table is persisted —
    * it has TWO consumers (the next step's join and the report
    * union), and without the cache each consumer re-plans the whole
    * upstream funnel (the x12 ReuseExchange-defeat class: the scan
    * ratchet measured 6 events scans instead of 3); the state is
    * user-count-sized (user, long) rows, so this is a model-sized
    * cache, never a corpus checkpoint. All event-time arithmetic is
    * integer microseconds (unix_micros/epoch_us — the w4/r2
    * convention). */
  private def fn1(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
    def step(prev: DataFrame, evType: String, anchor: String,
        next: String): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev, Seq("user_id"))
        .filter(col("tu") > col(anchor) &&
          col("tu") <= col(anchor) + FN1_WINDOW_US)
        .groupBy(col("user_id"))
        .agg(min(col("tu")).as(next), min(col(anchor)).as(anchor))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s2 = step(s1, "click", "t1", "t2")
    val s3 = step(s2, "purchase", "t2", "t3")
    def report(df: DataFrame, name: String, lag: Column): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
        coalesce(sum(lag), lit(0L)).as("sum_lag_us"))
        .select(lit(name).as("step"), col("n_users"), col("sum_lag_us"))
    report(s1, "1_view", lit(0L))
      .union(report(s2, "2_click", col("t2") - col("t1")))
      .union(report(s3, "3_purchase", col("t3") - col("t2")))
  }

  /** w9's decay half-life: 3 days in microseconds (the events table
    * spans ~30 days, so scores decay through ~10 halvings). */
  private val W9_HALF_LIFE_US = 259200000000L

  /** w9 — recency-decayed engagement scoring: each user's score is
    * Σ value·2^(−age/halflife), the freshness weighting every
    * recommendation/curation recency signal uses. Exactness: the
    * decay is EXACT INTEGER HALVING — value quantizes to cents, age
    * quantizes to whole half-lives k = age div halflife, and the
    * contribution is `cents div 2^k` (powers of two are exact in
    * IEEE, the cast-to-long power is exact to 2^62, and k caps
    * there) — so the sum is order-independent long arithmetic, no
    * float exp/log anywhere (the cls2/gr1 portability family).
    *
    * Scale shape: the "now" anchor (global max ts) is one 1-row agg
    * broadcast back as a cross join; scoring is a narrow in-row
    * projection at scan speed; the per-user total is one
    * partial+final agg on user_id. */
  private def w9(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val now = ev.agg(max(col("tu")).as("t_now"))
    ev.crossJoin(broadcast(now))
      .select(col("user_id"),
        expr(s"least((t_now - tu) div $W9_HALF_LIFE_US, 62L)").as("k"),
        col("cents"))
      .select(col("user_id"),
        expr("cents div CAST(pow(2, k) AS BIGINT)").as("contrib"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("contrib")).as("decayed_cents"))
  }

  /** Day length in integer µs — w10's cohort grain. */
  private val W10_DAY_US = 86400000000L

  /** w10 — cohort retention (fn1's sibling in the product-analytics
    * pair): users cohorted by first-active day; for each (cohort day,
    * day offset) the number of distinct users active at that offset
    * and the retention ratio vs the cohort's day-0 size. All event
    * time arithmetic in integer µs-days (the w4/r2/w9 convention), so
    * the matrix is exact in any engine; the one double is the final
    * ratio (single division, portable floor rounding).
    *
    * Scale shape: first-activity rides a user-partitioned WINDOW min
    * over the one events exchange. An agg-then-self-join form pays
    * the user shuffle twice plus a join and measured 8.95× at ×10
    * data, over even the volume-linear ceiling; the window form is
    * the same answer off exactly ONE exchange of events (4.9×). The
    * distinct collapses to (cohort, offset, user) BEFORE counting, so
    * the count shuffle carries at most users·active-days narrow rows;
    * cohort day-0 sizes are a calendar-bounded dimension (≤ days in
    * the retention window) — broadcast back, r2's band-join shape. */
  private def w10(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $W10_DAY_US").as("day"))
    val active = ev
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
      .select(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      // calendar²-bounded matrix, 2 consumers (sizes + final join)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = active.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    active.join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        graft.functions.Fns.roundFp(
          col("n_users").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }

  /** att1 — last-touch conversion attribution: each purchase is
    * credited to the user's most recent preceding non-purchase event
    * type (the "channel"), then conversions and revenue roll up per
    * channel — the marketing-attribution report every event pipeline
    * serves, and the analytic-window sibling of r1's as-of join (here
    * the "as-of" runs INSIDE one pass over the stream instead of
    * joining two relations). A user's first-ever purchase has no
    * preceding touch and lands in the 'none' channel.
    *
    * Exactness: the window order is (event-time µs, event_id) so ties
    * are pinned; revenue quantizes to exact cents before the sum (the
    * w9 convention) — order-independent long arithmetic.
    *
    * Scale shape: ONE user-keyed analytic window (running last-touch
    * state, rows-unbounded-preceding — Spark evaluates it streaming
    * per partition, no buffering beyond the frame row), then a
    * channel-keyed partial+final agg on ≤|event-types| keys. No other
    * exchange; never a global window. */
  private def att1(s: SparkSession, d: String): DataFrame = {
    val touch = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(touch))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"), sum(col("cents")).as("rev_cents"))
  }

  /** ts1's calendar grain: one day in integer µs (the w10 constant,
    * kept separate so the two operators can diverge). */
  private val TS1_DAY_US = 86400000000L

  /** ts1 — calendar resample + gap-fill (LOCF): each user's event
    * stream becomes a DENSE daily series from their first to last
    * active day; days with activity carry the day's closing value
    * (last event by (ts, event_id)), silent days carry the last
    * observed value forward and are flagged `filled` — the
    * regularization every downstream time-series model (forecasting,
    * feature windows, retention curves) needs before it can assume
    * one row per (key, day).
    *
    * Exactness: days are integer µs-day numbers (the w4/w9/w10
    * convention); the day's close is picked by a pinned
    * (ts desc, event_id desc) row_number, and the carried value is
    * rounded once at the close — LOCF then only MOVES values, never
    * recomputes them, so the filled series is exact in any engine.
    *
    * Scale shape: the close pick and the span agg are user-keyed
    * (one exchange, shared under AQE); the dense grid is a map-side
    * `sequence` explode of the per-user span — output-bound,
    * |users|·|calendar| rows, no corpus-sized anything; the LOCF is
    * ONE user-keyed analytic window Spark streams per partition.
    * Never a global sort, never a driver loop over the calendar. */
  private def ts1(s: SparkSession, d: String): DataFrame = {
    val byDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, d)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $TS1_DAY_US").as("day"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), roundFp(col("value"), 2).as("close_val"))
      // user-day-sized (never event-sized): 2 consumers (span + grid join)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val locf = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("close_val"), ignoreNulls = true).over(locf).as("value"),
        col("close_val").isNull.as("filled"))
  }

  /** att2 — linear multi-touch attribution (att1's sibling: last-touch
    * gives the final click everything; linear splits the conversion
    * across EVERY touch in the purchase's window). A purchase's
    * touches are the user's non-purchase events since their previous
    * purchase; each touch's channel receives credit 1/n of the
    * conversion and cents·count/n of the revenue; a purchase with no
    * preceding touches credits the 'none' channel whole.
    *
    * Exactness: credit is integer ppm ((1000000·n_ch) div n_tot — the
    * rrf1 reciprocal convention) and revenue splits as exact floor
    * cents ((cents·n_ch) div n_tot), so every sum is order-independent
    * long arithmetic; floor remainders stay unassigned by design
    * (documented, deterministic) rather than re-spread by a float.
    *
    * Scale shape: purchase numbering is ONE user-keyed analytic
    * window (running purchase count — the att1 window reused with a
    * sum frame); touches attach to their target purchase by
    * (user, seq) equi-join on narrow rows; everything after is
    * |purchases|- or |channels|-sized partial+final aggs. */
  private def att2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // persisted ONCE (spillable, lineage kept — the x10/r6 persist
    // discipline): the numbered stream has four downstream consumers
    // (purch ×2, byChannel ×2 via its own cache) and the running-
    // count window must not recompute per consumer
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tu"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("np",
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("np").as("seq"), col("cents"))
    val byChannel = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), (col("np") + 1L).as("seq"),
        col("event_type").as("channel"))
      .groupBy(col("user_id"), col("seq"), col("channel"))
      .agg(count(lit(1)).as("n_ch"))
      .withColumn("n_tot",
        sum(col("n_ch")).over(Window.partitionBy(col("user_id"), col("seq"))))
      // touch-group-sized (never event-sized): credited join + anti
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val credited = purch.join(byChannel, Seq("user_id", "seq"))
      .select(col("channel"),
        expr("(1000000 * n_ch) div n_tot").as("ppm"),
        expr("(cents * n_ch) div n_tot").as("cents_share"))
    val untouched = purch.join(
        byChannel.select(col("user_id"), col("seq")).distinct(),
        Seq("user_id", "seq"), "left_anti")
      .select(lit("none").as("channel"), lit(1000000L).as("ppm"),
        col("cents").as("cents_share"))
    credited.union(untouched)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("ppm")).as("credit_ppm"),
        sum(col("cents_share")).as("cents_credit"))
  }

  /** w11's rolling frame (50 trailing events), minimum history to
    * score, and robust z cut — spec'd constants so the replay test
    * pins the same contract. */
  private[graft] val W11_FRAME = 50
  private[graft] val W11_MIN_N = 20
  private[graft] val W11_CUT = 2.5

  /** w11 — rolling z-score anomaly flags: each event scored against
    * the mean/std of the PRECEDING [[W11_FRAME]] events of its type
    * (trailing frame only — no look-ahead leakage), flagged when
    * |z| ≥ cut with at least [[W11_MIN_N]] history rows. od1 is the
    * global batch gate; this is its streaming-shaped sibling — the
    * form a live telemetry monitor runs, expressed as an analytic
    * window so the oracle can check it.
    *
    * Exactness: the frame aggregates are INTEGER sums of exact cents
    * (and cents², bounded: 10^12·50 ≪ 2^63), so mean/var derive from
    * identical longs by identical double arithmetic in both engines —
    * deterministic IEEE, no accumulation-order term anywhere. Var
    * clamps at 0 (greatest) so a sub-ulp negative can't NaN the sqrt,
    * and a zero-std frame never flags.
    *
    * Scale shape: ONE type-keyed analytic window with a bounded rows
    * frame — Spark evaluates it as a sliding per-partition pass,
    * state = 50 rows; the output filter keeps only flagged rows.
    * |event-types| partitions would skew at extreme scale; the
    * documented evolution is sub-keying by (type, hour) exactly like
    * g6's salt, unchanged semantics per frame. */
  private def w11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(-W11_FRAME, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"), col("value"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .select(col("event_id"), col("event_type"), col("value"), col("cents"),
        count(lit(1)).over(w).as("n"),
        sum(col("cents")).over(w).as("sc"),
        sum(col("cents") * col("cents")).over(w).as("sq"))
      .filter(col("n") >= W11_MIN_N)
      .withColumn("mean", col("sc").cast("double") / col("n"))
      .withColumn("std", sqrt(greatest(
        col("sq").cast("double") / col("n") - col("mean") * col("mean"),
        lit(0.0))))
      .filter(col("std") > 0.0 &&
        abs(col("cents") - col("mean")) >= lit(W11_CUT) * col("std"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("n"), roundFp((col("cents") - col("mean")) / col("std"), 4).as("z"))
  }

  /** fn2 — time-to-convert distribution (fn1's report companion): for
    * every user whose first purchase follows their first view, the
    * whole-day lag between the two, histogrammed — the "how long does
    * conversion take" curve next to fn1's "how many convert". Both
    * anchors are min() aggregates and the lag is integer µs-days
    * (the fn1/w10 convention) — no ordering ambiguity anywhere.
    *
    * Scale shape: two type-filtered scans of a 3-column pruned
    * projection, each reduced to (user, long) immediately (the fn1
    * adjudication: pruned re-reads beat caching the corpus), one
    * user-keyed equi-join, and a ≤|calendar|-row final histogram
    * agg. */
  private def fn2(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tu")).as("tv"))
    ev.filter(col("event_type") === "purchase")
      .join(views, Seq("user_id"))
      .filter(col("tu") > col("tv"))
      .groupBy(col("user_id"))
      .agg(min(col("tu")).as("tp"), min(col("tv")).as("tv"))
      .select(expr(s"(tp - tv) div $W10_DAY_US").as("lag_days"))
      .groupBy(col("lag_days"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** w12 — day-of-week seasonality profile per event type: event
    * count and the share of the type's traffic landing on each
    * weekday, in ppm. The profile is the capacity-planning /
    * anomaly-baseline table every event pipeline keeps (od1 flags
    * outliers against a global spread; this is the periodic baseline
    * they should really be judged against — a Monday spike is only a
    * spike relative to Mondays).
    *
    * The weekday is PURE integer arithmetic on the µs timestamp —
    * ((tu div day) + 4) mod 7, epoch day 0 being a Thursday — so no
    * engine’s calendar/timezone layer is ever consulted; 0 = Sunday.
    *
    * Plan at 100 TB: one pruned scan, one partial+final agg on the
    * (type, dow) key — ≤ 7·|types| groups; the per-type total is a
    * window over that ≤7-row partition of the AGGREGATED relation
    * (never a second pass, never a join). */
  /** The streamable core of w12 — (event_type, weekday, count) from
    * pure integer µs arithmetic. Split out so the SAME transform
    * serves the batch profile and the streaming face (a standard
    * streaming aggregation in complete/update mode; see
    * EventStreamsSpec's parity test). The share window rides the
    * tiny aggregated relation batch-side only. */
  private[graft] def dowCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr(s"((unix_micros(ts) div $W10_DAY_US) + 4) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"))

  private def w12(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dowCounts(Tables.events(s, d))
      .withColumn("tot",
        sum(col("n_events")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("dow"), col("n_events"),
        expr("(1000000 * n_events) div tot").as("share_ppm"))
  }

  /** ts2's maximum lead/lag in days. */
  private[graft] val TS2_MAX_LAG = 3L

  /** ts2 — lead/lag cross-correlation of the daily view and purchase
    * series: Pearson r of (views on day t, purchases on day t+lag)
    * for every lag in ±[[TS2_MAX_LAG]] days — the "does browsing
    * predict buying N days out" table, and the standard first probe
    * before any causal/attribution modeling (att1/att2 assume a
    * click→purchase ordering; this MEASURES the lead time).
    *
    * Both series are densified onto the shared [min-day, max-day]
    * calendar (a sparse join would silently pair across gaps); daily
    * counts are exact integers, so the five moments per lag are exact
    * longs — but the PRODUCTS n·sxx, sx² overflow BIGINT once sx
    * reaches ~3e9 (100-TB territory), and Spark wraps where DuckDB
    * raises. So the moments convert to DOUBLE before any product (the
    * x18/x19/gr4 discipline); at test scale every moment is < 2^26,
    * the double products are exact, and the expression (one division,
    * two sqrts — IEEE-correctly-rounded in both engines) is pinned
    * before the 6-dp round. Zero-variance series degenerate to NULL
    * identically on both sides.
    *
    * Scale shape: the two-series [[dailyCalendar]] as a local relation
    * (bounded by elapsed days, see there); the lag pairing self-joins
    * it against a broadcast 7-row lag dimension — ts5's shape. */
  private def ts2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val series = dailyCalendar(s, d, Seq("view", "purchase"))
      .map { case (day, n) => (day, n(0), n(1)) }.toDF("day", "x", "y")
    series.select(col("day"), col("x"))
      .crossJoin(broadcast((-TS2_MAX_LAG to TS2_MAX_LAG).toList.toDF("lag")))
      .join(series.select(col("day").as("dy"), col("y")),
        col("dy") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      // moments to DOUBLE BEFORE forming n·sxx − sx² (the x18/x19/gr4
      // overflow discipline): at 100 TB sx ~ total events makes sx*sx
      // overflow BIGINT — Spark wraps silently where DuckDB raises,
      // so the engines would diverge and the guard could misfire. At
      // test scale all moments < 2^26, so the double products are
      // exact and the hash is unchanged.
      .select(col("lag"), col("n_days"),
        col("n_days").cast("double").as("nd"),
        col("sx").cast("double").as("sxd"),
        col("sy").cast("double").as("syd"),
        col("sxx").cast("double").as("sxxd"),
        col("syy").cast("double").as("syyd"),
        col("sxy").cast("double").as("sxyd"))
      .select(col("lag"), col("n_days"),
        expr("""CASE WHEN nd * sxxd - sxd * sxd <= 0
                       OR nd * syyd - syd * syd <= 0 THEN NULL
                ELSE floor((nd * sxyd - sxd * syd)
                       / (sqrt(nd * sxxd - sxd * sxd)
                          * sqrt(nd * syyd - syd * syd))
                       * 1000000 + 0.5) / 1000000 END""").as("r"))
  }

  /** The dense daily calendar of `events`: (day, event count) for
    * every integer µs-day from the first active day to the last,
    * ascending, with gap days as real zero observations — the oracle's
    * `generate_series(d0, d1)` grid LEFT JOINed to the daily counts.
    * An empty table gives an empty calendar, as the oracle's
    * (NULL, NULL) span gives an empty grid; an event with a NULL `ts`
    * has no day and drops out, as it drops out of the oracle's join.
    *
    * Bound: ONE pruned scan reduces to (day, count) on the executors,
    * and what comes back is bounded by ELAPSED DAYS, never by data
    * volume — ~365 rows a year, ~3.7k a decade at any corpus size. So
    * it is collected and densified on the driver, and its nine
    * consumers either fold it there (ts3, ts4, ts6, w13, w15) or run
    * their set-oriented part on it as a local relation (ts2, ts5, w14,
    * w16). */
  private def dailyCalendar(s: SparkSession, d: String): IndexedSeq[(Long, Long)] =
    dailyCalendar(s, d, Nil).map { case (day, n) => day -> n(0) }

  /** [[dailyCalendar]] with one count per event type in `types`, in
    * that order, over the span of those types' rows only (ts2's view
    * and purchase series); an empty `types` counts every event into
    * one series. */
  private def dailyCalendar(s: SparkSession, d: String,
      types: Seq[String]): IndexedSeq[(Long, IndexedSeq[Long])] = {
    val events = Tables.events(s, d)
    val (rows, counts) =
      if (types.isEmpty) (events, Seq(count(lit(1))))
      else (events.filter(col("event_type").isin(types: _*)),
        types.map(t => count(when(col("event_type") === t, lit(1)))))
    val byDay = rows
      .groupBy(expr(s"unix_micros(ts) div $W10_DAY_US").as("day"))
      .agg(counts.head, counts.tail: _*)
      .collect().filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> counts.indices.map(i => r.getLong(i + 1))).toMap
    if (byDay.isEmpty) IndexedSeq.empty
    else {
      val none = IndexedSeq.fill(counts.size)(0L)
      (byDay.keys.min to byDay.keys.max)
        .map(day => day -> byDay.getOrElse(day, none))
    }
  }

  /** Integer EWMA at α = 1/4 (ts3's smoother, ts6's trend):
    * s₁ = x₁, s_d = (3·s_{d-1} + x_d) div 4. Counts are non-negative,
    * so the state is too, floor- and truncate-division agree, and the
    * oracle's recursive CTE replays it bit-for-bit. */
  private def ewma(xs: IndexedSeq[Long]): IndexedSeq[Long] =
    if (xs.isEmpty) xs
    else xs.tail.scanLeft(xs.head)((e, x) => (3L * e + x) / 4L)

  /** Integer Holt (level, trend) at α = β = 1/4 (w15's state, ts4's
    * model): l₁ = x₁, b₁ = 0, then l_d = (x_d + 3·(l+b)) div 4 and
    * b_d = ((l_d − l) + 3·b) div 4. The trend goes negative, and both
    * divisions must truncate toward zero: Scala's Long `/` and
    * DuckDB's `//` both give -7 // 4 = -1 (measured). A floor-division
    * fold diverges on ts4's train prefix (l, b = 25, −2 against the
    * truncating 31, 0 at the sf0.001 cutoff), so this is the one
    * convention the oracle replays, not a free choice. */
  private def holt(xs: IndexedSeq[Long]): IndexedSeq[(Long, Long)] =
    if (xs.isEmpty) IndexedSeq.empty
    else xs.tail.scanLeft((xs.head, 0L)) { case ((l, b), x) =>
      val lNew = (x + 3L * (l + b)) / 4L
      (lNew, ((lNew - l) + 3L * b) / 4L)
    }

  /** ts5's lag range: 1..7 days — one calendar week, so the lag-7
    * row IS the weekly-seasonality strength the w12/w14 operators
    * assume exists. */
  private[graft] val TS5_MAX_LAG = 7L

  /** ts5 — autocorrelation function of the daily event volume at
    * lags 1..[[TS5_MAX_LAG]]: ts2 asks "does series X lead series Y";
    * this asks the prior question of ONE series — "does the volume
    * remember itself, and at what period" — the diagnostic that
    * justifies w12's weekday profile (lag-7 peak), w14's
    * dow-adjustment (remove it), and ts3/w15's smoothing constants
    * (how fast memory decays). Same dense-calendar discipline as
    * ts1/ts2 (gap days are real zero observations, not missing), same
    * exact integer moments, same single pinned float expression per
    * lag with the DOUBLE-before-product overflow rule.
    *
    * Scale shape: the [[dailyCalendar]] as a local relation (bounded
    * by elapsed days, see there); the lag pairing self-joins it
    * against a broadcast 7-row lag dimension, and each lag's moments
    * aggregate to one row. */
  private def ts5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val series = dailyCalendar(s, d).toDF("day", "x")
    series
      .crossJoin(broadcast((1L to TS5_MAX_LAG).toList.toDF("lag")))
      .join(series.select(col("day").as("dy"), col("x").as("y")),
        col("dy") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      // the ts2 overflow discipline: moments to DOUBLE BEFORE any
      // n·sxx − sx² product forms
      .select(col("lag"), col("n_days"),
        col("n_days").cast("double").as("nd"),
        col("sx").cast("double").as("sxd"),
        col("sy").cast("double").as("syd"),
        col("sxx").cast("double").as("sxxd"),
        col("syy").cast("double").as("syyd"),
        col("sxy").cast("double").as("sxyd"))
      .select(col("lag"), col("n_days"),
        expr("""CASE WHEN nd * sxxd - sxd * sxd <= 0
                       OR nd * syyd - syd * syd <= 0 THEN NULL
                ELSE floor((nd * sxyd - sxd * syd)
                       / (sqrt(nd * sxxd - sxd * sxd)
                          * sqrt(nd * syyd - syd * syd))
                       * 1000000 + 0.5) / 1000000 END""").as("r"))
  }

  /** ts6 — variance decomposition of the daily volume into trend /
    * weekly-seasonal / remainder: trend = ts3's integer [[ewma]],
    * seasonal = per-weekday truncate-div mean of the DETRENDED series
    * (w12's (day+4) mod 7 weekday), remainder = what's left; each
    * component reported as its integer sum of squares about the
    * calendar mean (trend), about zero (seasonal / remainder), with
    * shares of the total variation. This is the
    * "where does the variance live" answer that picks which machinery
    * matters: a trend-dominant series needs w15/ts4, a
    * seasonal-dominant one needs w12/w14, a remainder-dominant one is
    * noise no forecaster will beat (shares are diagnostic ratios —
    * the components are not orthogonal, so they need not sum to 10⁶).
    *
    * Exactness: all integer — counts, the EWMA, truncate-div means
    * (a negative detrended sum divides toward zero in both engines:
    * Scala's Long `/` and DuckDB's `//` agree, measured), squares, and
    * floor-div shares. Domain: each square stays in BIGINT while
    * |daily deviation| < 3·10⁹ events/day (the pipe7 domain-note
    * convention). On an empty calendar every sum of squares is SQL's
    * empty SUM, NULL, so the four rows carry NULL ss and share.
    *
    * Scale shape: folds the [[dailyCalendar]] driver-side (bounded by
    * elapsed days, see there) and returns a 4-row literal relation. */
  private def ts6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cal = dailyCalendar(s, d)
    val x = cal.map(_._2)
    val t = ewma(x)
    val r = x.indices.map(i => x(i) - t(i))
    val dow = cal.map { case (day, _) => ((day + 4) % 7).toInt }
    val sDow = r.indices.groupBy(dow(_)).map { case (w, idx) =>
      w -> idx.map(r).sum / idx.length
    }
    val mu = if (x.isEmpty) 0L else x.sum / x.length
    def sq(v: Long) = v * v
    def ss(vs: IndexedSeq[Long]): Option[Long] =
      if (vs.isEmpty) None else Some(vs.map(sq).sum)
    val ssTot = ss(x.map(_ - mu))
    Seq(
      ("trend", ss(t.map(_ - mu)), ssTot),
      ("seasonal", ss(dow.map(sDow)), ssTot),
      ("remainder", ss(x.indices.map(i => r(i) - sDow(dow(i)))), ssTot),
      ("total", ssTot, ssTot))
      .toDF("component", "ss", "ss_total")
      .select(col("component"), col("ss"),
        expr("CASE WHEN ss_total = 0 THEN NULL " +
          "ELSE (1000000 * ss) div ss_total END").as("share_ppm"))
  }

  /** w17 — inter-arrival time histogram: per-user consecutive-event
    * gaps in µs (the w4 lag shape, (ts, event_id)-ordered), bucketed
    * by integer log2 (the `length(bin())−1` trick — gr6's for time),
    * with population shares. This is the ARRIVAL-process diagnostic
    * the calendar views aggregate away: a human-driven stream shows
    * the heavy multi-hour tail; a bot or replayed feed collapses
    * into a few low buckets — the signal retention/session knobs
    * (w3's 30-min gap, streaming watermark horizons) should be read
    * from, not guessed. Zero-gap ties (same-µs events) land in
    * bucket 0 by the bin("0") convention, documented here.
    *
    * Scale shape: one pruned scan → ONE user-keyed lag window (the
    * w4 adjudication) → ≤64-key agg; shares ride a window over the
    * bucket-sized relation (sm6's one-relation discipline). */
  private def w17(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tu").asc, col("event_id").asc)
    val all = Window.partitionBy()
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("gap", col("tu") - lag(col("tu"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .select(expr("CAST(length(bin(gap)) - 1 AS BIGINT)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_gaps"))
      .withColumn("tot", sum(col("n_gaps")).over(all))
      .select(col("bucket"), col("n_gaps"),
        expr("(1000000 * n_gaps) div tot").as("share_ppm"))
  }

  /** w16 — above/below-mean volume streaks (gaps-and-islands): the
    * dense daily series flagged against its integer calendar mean,
    * consecutive same-side days grouped into runs by the classic
    * day − row_number island key, reported per side as run count,
    * longest run, and total days. This is the run-length view of
    * drift that w13's CUSUM accumulates and ts5's ACF averages: a
    * ramping source shows up here as ONE long terminal above-mean
    * streak (the "how long has it been elevated" question an alert
    * ticket actually asks). The island trick is also the missing
    * operator-class exemplar: every sessionization-without-
    * timestamps problem (consecutive error runs, streak features)
    * reduces to it.
    *
    * Exactness: all integer — counts, the floor-div mean, day
    * arithmetic; runs are a bijection of the (side, day − rank) key.
    *
    * Scale shape: the [[dailyCalendar]] as a local relation (bounded
    * by elapsed days, see there); the island window partitions it in
    * two and the two aggs collapse to 2 rows. */
  private def w16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bySide = Window.partitionBy(col("above")).orderBy(col("day"))
    dailyCalendar(s, d).toDF("day", "x")
      .withColumn("mu", expr("sum(x) over () div count(1) over ()"))
      .select(col("day"), (col("x") > col("mu")).as("above"))
      .withColumn("isl", col("day") - row_number().over(bySide))
      .groupBy(col("above"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("above"))
      .agg(count(lit(1)).as("n_runs"), max(col("len")).as("longest_run"),
        sum(col("len")).as("n_days"))
  }

  /** w13 — CUSUM drift detection over the daily event volume
    * (Page '54): s_d = max(0, s_{d-1} + x_d − μ − k), alarm when the
    * accumulated positive drift clears h = 5k. The sequential
    * change-point detector od1/w11 can't express — those flag
    * pointwise outliers; CUSUM catches a SUSTAINED small shift long
    * before any single day looks anomalous (the data-pipeline use:
    * a crawler source silently ramping or decaying).
    *
    * Exactness: everything is integer — daily counts, the floor-div
    * mean μ, the slack k = max(1, μ div 20) and threshold 5k derived
    * from the data, and the recurrence itself — so the oracle
    * replays it as a recursive CTE bit-for-bit.
    *
    * Scale shape: the recurrence is inherently sequential, so it
    * folds the [[dailyCalendar]] driver-side (bounded by elapsed days,
    * see there) and returns as a literal relation. */
  private def w13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cal = dailyCalendar(s, d)
    val mu = if (cal.isEmpty) 0L else cal.map(_._2).sum / cal.length
    val k = math.max(1L, mu / 20L)
    val h = 5L * k
    var sAcc = 0L
    val rows = cal.map { case (day, x) =>
      sAcc = math.max(0L, sAcc + x - mu - k)
      (day, x, sAcc, sAcc > h)
    }
    rows.toDF("day", "x", "cusum", "alarm")
  }

  /** seq1 — first-order Markov transition matrix of the event stream:
    * for every consecutive pair in a user's (ts, event_id)-ordered
    * event sequence, the (src → dst) transition count and the source
    * type's outgoing share in ppm — the behavioral-model table a
    * sequence-aware sampler or sessionizer reads (which next-action
    * distributions are flat vs peaked), and the sequence-level
    * complement to w12's marginal profile.
    *
    * Ties are pinned by event_id (the w4 convention), so the sequence
    * — and therefore every count — is total-order deterministic.
    *
    * Scale shape: ONE user-keyed analytic window (the w4 lag shape —
    * events shuffle once on user_id) feeding a |types|²-key
    * partial+final agg; the share window runs on the ≤|types|² agg
    * output. Nothing wider than the w4 exchange at any corpus size. */
  private def seq1(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("tot",
        sum(col("n_trans")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("n_trans"),
        expr("(1000000 * n_trans) div tot").as("share_ppm"))
  }

  /** ts3 — integer EWMA smoothing of the daily event volume at
    * α = 1/4: s₁ = x₁, s_d = (3·s_{d-1} + x_d) div 4 — the trend
    * baseline w13's CUSUM and w14's seasonal z both assume exists,
    * exposed as its own artifact. The recurrence is ALL-NON-NEGATIVE
    * integers by construction (counts ≥ 0 ⇒ s ≥ 0), so floor-div and
    * truncate-div agree and the oracle's recursive CTE replays it
    * bit-for-bit — no float, no div-convention hazard.
    *
    * Scale shape: the [[ewma]] fold runs driver-side over the
    * [[dailyCalendar]] (bounded by elapsed days, see there) and
    * returns as a literal relation. */
  private def ts3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cal = dailyCalendar(s, d)
    cal.zip(ewma(cal.map(_._2)))
      .map { case ((day, x), e) => (day, x, e) }
      .toDF("day", "x", "ewma")
  }

  /** w14 — day-of-week-adjusted volume anomaly: each dense-calendar
    * day's event count flagged against ITS OWN WEEKDAY's population
    * mean/variance at 2σ — w12 profiles the weekly seasonality, this
    * removes it before judging a day (a quiet Sunday is normal; a
    * Sunday with Tuesday volume is the anomaly w11/od1's unsegmented
    * scores would miss). Gap days count as real zero-volume days in
    * both the statistics and the flags.
    *
    * Flag arithmetic: z² > 4 restated multiplied-out as
    * (n·cnt − sx)² > 4·(cnt·sxx − sx²), with every moment cast to
    * DOUBLE BEFORE any product (the ts2/x18 overflow discipline; at
    * test scale all moments < 2^26 so the doubles are exact and the
    * comparison is bit-deterministic). Zero-variance weekdays flag
    * any deviation and pass equality — no guard needed.
    *
    * Scale shape: the [[dailyCalendar]] as a local relation (bounded
    * by elapsed days, see there), its ≤7-row moment table broadcast
    * back. */
  private def w14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = dailyCalendar(s, d).toDF("day", "n")
      .withColumn("dow", expr("(day + 4) % 7"))
    val moments = grid.groupBy(col("dow"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("sx"),
        sum(col("n") * col("n")).as("sxx"))
    grid.join(broadcast(moments), Seq("dow"))
      .select(col("day"), col("n"), col("dow"),
        expr("""(CAST(n AS DOUBLE) * CAST(cnt AS DOUBLE)
                  - CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(cnt AS DOUBLE)
                  - CAST(sx AS DOUBLE))
                > 4.0d * (CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""")
          .as("flagged"))
  }

  /** w15 — Holt double-exponential (level + trend) smoothing of the
    * daily event volume at α = β = 1/4, all-integer:
    * l₁ = x₁, b₁ = 0, then l_d = (x_d + 3·(l+b)) div 4 and
    * b_d = ((l_d − l) + 3·b) div 4 — ts3's EWMA tracks a LEVEL and
    * lags any sustained ramp by construction; Holt's trend term is
    * what closes that gap (the capacity-forecast primitive:
    * forecast_next = l + b). The trend can go NEGATIVE; [[holt]]
    * says why its truncating divisions replay bit-for-bit.
    *
    * Scale shape: the [[holt]] fold runs driver-side over the
    * [[dailyCalendar]] (bounded by elapsed days, see there) and
    * returns as a literal relation; the oracle replays it as a
    * recursive CTE. */
  private def w15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cal = dailyCalendar(s, d)
    cal.zip(holt(cal.map(_._2)))
      .map { case ((day, x), (l, b)) => (day, x, l, b, l + b) }
      .toDF("day", "x", "level", "trend", "forecast_next")
  }

  /** ts4's holdout length (days) and seasonal lag. */
  private[graft] val TS4_HOLDOUT = 7
  private[graft] val TS4_SEASON = 7

  /** ts4 — forecast backtest (the Hyndman & Koehler MASE protocol):
    * hold out the final [[TS4_HOLDOUT]] days of the dense daily
    * series, fit w15's integer Holt recurrence on the train prefix
    * ONLY, forecast the holdout linearly (l + h·b — what Holt's
    * state means), and score BOTH Holt and the seasonal-naive
    * baseline (x[d−7], which lands in train for a 7-day holdout) by
    * MASE: mean |err| on holdout over mean |err| of the seasonal
    * naive ON TRAIN. MASE < 1 beats the naive — the one-number answer
    * to "is the model worth shipping", scale-free so it compares
    * across series. A forecaster without this harness is untested by
    * definition; w15 alone reports state, never skill.
    *
    * Exactness: counts, Holt state, forecasts, and absolute-error
    * sums are ALL integers ([[holt]] on the train prefix); only the
    * final MASE ratio is a double — one fixed-order expression, 6-dp
    * pinned (NULL when the train-naive denominator is zero or NULL).
    * The error sums follow SQL: a day is scored only when its
    * seasonal lag is a calendar day and a train prefix exists, and a
    * SUM over no scored day is NULL, so an empty table gives two rows
    * with n_hold 0 and NULL sums.
    *
    * Scale shape: folds the [[dailyCalendar]] driver-side (bounded by
    * elapsed days, see there) and returns a 2-row literal relation. */
  private def ts4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = dailyCalendar(s, d).map(_._2)
    // calendar index i is day d0 + i; the train prefix ends at the
    // cutoff d1 − TS4_HOLDOUT, and holdout day i is h = i − nTrain0 + 1
    // days past it
    val nTrain0 = x.length - TS4_HOLDOUT
    val (l, b) = holt(x.take(nTrain0)).lastOption.getOrElse((0L, 0L))
    val hold = if (nTrain0 <= 0) Nil
      else (nTrain0 until x.length).filter(_ >= TS4_SEASON)
    val train = TS4_SEASON until nTrain0
    def naive(i: Int) = math.abs(x(i) - x(i - TS4_SEASON))
    def total(errs: Seq[Long]) = if (errs.isEmpty) None else Some(errs.sum)
    val saeHolt = total(hold.map(i =>
      math.abs(x(i) - (l + (i - nTrain0 + 1) * b))))
    val saeNaive = total(hold.map(naive))
    val saeTrain = total(train.map(naive))
    val nHold = hold.length.toLong
    val nTrain = train.length.toLong
    def mase(sae: Option[Long]): Option[Double] =
      for (e <- sae; t <- saeTrain if t > 0L) yield math.floor(
        (e.toDouble / nHold) / (t.toDouble / nTrain) * 1000000 + 0.5) / 1000000
    Seq(("holt", nHold, saeHolt, saeTrain, nTrain, mase(saeHolt)),
      ("naive", nHold, saeNaive, saeTrain, nTrain, mase(saeNaive)))
      .toDF("method", "n_hold", "sum_abs_err", "train_naive_sae",
        "n_train_naive", "mase")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts4_mase_backtest" -> (ts4 _),
    "w15_holt" -> (w15 _),
    "seq1_transition" -> (seq1 _),
    "ts3_ewma" -> (ts3 _),
    "ts6_decompose" -> (ts6 _),
    "w14_dow_anomaly" -> (w14 _),
    "w13_cusum" -> (w13 _),
    "ts2_xcorr" -> (ts2 _),
    "ts5_acf" -> (ts5 _),
    "w16_streaks" -> (w16 _),
    "w17_interarrival" -> (w17 _),
    "w12_dow_profile" -> (w12 _),
    "fn2_time_to_convert" -> (fn2 _),
    "ts1_gapfill" -> (ts1 _),
    "att2_linear_credit" -> (att2 _),
    "w11_rolling_z" -> (w11 _),
    "att1_last_touch" -> (att1 _),
    "w9_decay_score" -> (w9 _),
    "fn1_funnel" -> (fn1 _),
    "w10_retention" -> (w10 _),
    "w8_global_bin" -> (w8 _),
    "w1_tumbling_window" -> (w1 _),
    "w2_rank_per_group" -> (w2 _),
    "w3_session_window" -> (w3 _),
    "w4_lag_delta" -> (w4 _),
    "w5_sliding_window" -> (w5 _),
    "w6_running_total" -> (w6 _),
    "w7_ntile" -> (w7 _)
  )

  val oracles: Map[String, String] = Map(
    // w15's recursive-CTE recurrence truncated at the cutoff, the
    // same dense-grid lag joins, and ONE fixed-order double ratio
    "ts4_mase_backtest" -> s"""
      WITH RECURSIVE c AS (
        SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1,
                 max(day) - $TS4_HOLDOUT AS cutoff FROM c),
      grid AS (SELECT g.day, row_number() OVER (ORDER BY g.day) AS rn,
                 coalesce(c.x, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      tg AS (SELECT grid.* FROM grid, span WHERE day <= cutoff),
      s AS (SELECT rn, day, x, x AS lv, CAST(0 AS BIGINT) AS tr
            FROM tg WHERE rn = 1
            UNION ALL
            SELECT g.rn, g.day, g.x,
              (g.x + 3 * (s.lv + s.tr)) // 4,
              (((g.x + 3 * (s.lv + s.tr)) // 4) - s.lv + 3 * s.tr) // 4
            FROM s JOIN tg g ON g.rn = s.rn + 1),
      st AS (SELECT lv, tr FROM s, span WHERE s.day = cutoff),
      hold AS (SELECT g.day, g.x, g.day - cutoff AS h, p.x AS x_lag
               FROM grid g JOIN grid p ON p.day = g.day - $TS4_SEASON,
                 span
               WHERE g.day > cutoff),
      tn AS (SELECT CAST(sum(abs(g.x - p.x)) AS BIGINT) AS sae_train,
               CAST(count(*) AS BIGINT) AS n_train
             FROM grid g JOIN grid p ON p.day = g.day - $TS4_SEASON,
               span
             WHERE g.day <= cutoff),
      hs AS (SELECT CAST(count(*) AS BIGINT) AS n_hold,
               CAST(sum(abs(hold.x - (st.lv + hold.h * st.tr)))
                 AS BIGINT) AS sae_holt,
               CAST(sum(abs(hold.x - hold.x_lag)) AS BIGINT) AS sae_naive
             FROM hold, st)
      SELECT 'holt' AS method, n_hold, sae_holt AS sum_abs_err,
        sae_train AS train_naive_sae, n_train AS n_train_naive,
        CASE WHEN sae_train > 0 THEN
          floor((CAST(sae_holt AS DOUBLE) / n_hold)
            / (CAST(sae_train AS DOUBLE) / n_train) * 1000000 + 0.5)
          / 1000000 END AS mase
      FROM hs, tn
      UNION ALL
      SELECT 'naive', n_hold, sae_naive, sae_train, n_train,
        CASE WHEN sae_train > 0 THEN
          floor((CAST(sae_naive AS DOUBLE) / n_hold)
            / (CAST(sae_train AS DOUBLE) / n_train) * 1000000 + 0.5)
          / 1000000 END
      FROM hs, tn""",
    // same (ts, event_id) total order, same ppm floor-division; the
    // window sum casts HUGEINT back to BIGINT (the w12 convention)
    "seq1_transition" -> """
      WITH e AS (SELECT user_id, event_type AS src, epoch_us(ts) AS tu,
                   event_id
                 FROM events),
      t AS (SELECT src, lead(src) OVER (
              PARTITION BY user_id ORDER BY tu, event_id) AS dst
            FROM e),
      c AS (SELECT src, dst, count(*) AS n_trans FROM t
            WHERE dst IS NOT NULL GROUP BY 1, 2)
      SELECT src, dst, n_trans,
        (1000000 * n_trans) //
          CAST(sum(n_trans) OVER (PARTITION BY src) AS BIGINT) AS share_ppm
      FROM c""",
    // level+trend recurrence replayed as a recursive CTE; both
    // divisions truncate toward zero on both engines (measured), so
    // the negative-trend branch replays exactly
    "w15_holt" -> s"""
      WITH RECURSIVE c AS (
        SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, row_number() OVER (ORDER BY g.day) AS rn,
                 coalesce(c.x, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      s AS (SELECT rn, day, x, x AS lv, CAST(0 AS BIGINT) AS tr
            FROM grid WHERE rn = 1
            UNION ALL
            SELECT g.rn, g.day, g.x,
              (g.x + 3 * (s.lv + s.tr)) // 4,
              (((g.x + 3 * (s.lv + s.tr)) // 4) - s.lv + 3 * s.tr) // 4
            FROM s JOIN grid g ON g.rn = s.rn + 1)
      SELECT day, x, CAST(lv AS BIGINT) AS level,
        CAST(tr AS BIGINT) AS trend,
        CAST(lv + tr AS BIGINT) AS forecast_next
      FROM s""",
    // the all-non-negative integer recurrence replayed as a recursive
    // CTE over the same dense calendar (the w13 shape)
    // ts3's recursive EWMA verbatim, w12's weekday, truncate-div
    // means on the detrended series, integer squares and floor shares
    "ts6_decompose" -> s"""
      WITH RECURSIVE c AS (
        SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, row_number() OVER (ORDER BY g.day) AS rn,
                 coalesce(c.x, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      s AS (SELECT rn, day, x, x AS ewma FROM grid WHERE rn = 1
            UNION ALL
            SELECT g.rn, g.day, g.x, (3 * s.ewma + g.x) // 4
            FROM s JOIN grid g ON g.rn = s.rn + 1),
      r AS (SELECT day, x, CAST(ewma AS BIGINT) AS t,
              x - CAST(ewma AS BIGINT) AS r, (day + 4) % 7 AS dow
            FROM s),
      mu AS (SELECT CAST(sum(x) AS BIGINT) // count(*) AS mu FROM r),
      sd AS (SELECT dow, CAST(sum(r) AS BIGINT) // count(*) AS sdow
             FROM r GROUP BY 1),
      j AS (SELECT r.x, r.t, r.r, sd.sdow, mu.mu
            FROM r JOIN sd USING (dow), mu),
      a AS (SELECT
              CAST(sum((t - mu) * (t - mu)) AS BIGINT) AS ss_trend,
              CAST(sum(sdow * sdow) AS BIGINT) AS ss_seas,
              CAST(sum((r - sdow) * (r - sdow)) AS BIGINT) AS ss_rem,
              CAST(sum((x - mu) * (x - mu)) AS BIGINT) AS ss_total
            FROM j),
      out AS (
        SELECT 'trend' AS component, ss_trend AS ss, ss_total FROM a
        UNION ALL SELECT 'seasonal', ss_seas, ss_total FROM a
        UNION ALL SELECT 'remainder', ss_rem, ss_total FROM a
        UNION ALL SELECT 'total', ss_total, ss_total FROM a)
      SELECT component, ss,
        CASE WHEN ss_total = 0 THEN NULL
          ELSE (1000000 * ss) // ss_total END AS share_ppm
      FROM out""",
    "ts3_ewma" -> s"""
      WITH RECURSIVE c AS (
        SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, row_number() OVER (ORDER BY g.day) AS rn,
                 coalesce(c.x, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      s AS (SELECT rn, day, x, x AS ewma FROM grid WHERE rn = 1
            UNION ALL
            SELECT g.rn, g.day, g.x, (3 * s.ewma + g.x) // 4
            FROM s JOIN grid g ON g.rn = s.rn + 1)
      SELECT day, x, CAST(ewma AS BIGINT) AS ewma FROM s""",
    // same dense grid, same integer moments cast to DOUBLE before any
    // product, same multiplied-out 2-sigma comparison
    "w14_dow_anomaly" -> s"""
      WITH c AS (SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS n
                 FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, coalesce(c.n, 0) AS n, (g.day + 4) % 7 AS dow
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      m AS (SELECT dow, CAST(count(*) AS DOUBLE) AS cnt,
              CAST(sum(n) AS DOUBLE) AS sx,
              CAST(sum(n * n) AS DOUBLE) AS sxx
            FROM grid GROUP BY 1)
      SELECT grid.day, grid.n, grid.dow,
        (CAST(grid.n AS DOUBLE) * cnt - sx)
          * (CAST(grid.n AS DOUBLE) * cnt - sx)
          > 4.0 * (cnt * sxx - sx * sx) AS flagged
      FROM grid JOIN m USING (dow)""",
    // the integer recurrence replayed as a recursive CTE: same dense
    // calendar, same floor-div mean, same data-derived k and 5k bar
    "w13_cusum" -> s"""
      WITH RECURSIVE c AS (
        SELECT epoch_us(ts) // $W10_DAY_US AS day, count(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, row_number() OVER (ORDER BY g.day) AS rn,
                 coalesce(c.x, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      st AS (SELECT CAST(sum(x) AS BIGINT) // count(*) AS mu FROM grid),
      kk AS (SELECT mu, greatest(1, mu // 20) AS k, 5 * greatest(1, mu // 20) AS h
             FROM st),
      s AS (SELECT rn, day, x,
              greatest(0, x - (SELECT mu FROM kk) - (SELECT k FROM kk)) AS cusum
            FROM grid WHERE rn = 1
            UNION ALL
            SELECT g.rn, g.day, g.x,
              greatest(0, s.cusum + g.x - (SELECT mu FROM kk)
                            - (SELECT k FROM kk))
            FROM s JOIN grid g ON g.rn = s.rn + 1)
      SELECT day, x, CAST(cusum AS BIGINT) AS cusum,
        cusum > (SELECT h FROM kk) AS alarm
      FROM s""",
    // same dense calendar, exact integer moments, and the one pinned
    // float expression (div + two IEEE sqrts) before the 6-dp round
    "ts2_xcorr" -> s"""
      WITH e AS (SELECT event_type, epoch_us(ts) // $W10_DAY_US AS day
                 FROM events WHERE event_type IN ('view', 'purchase')),
      c AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      cal AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
      x AS (SELECT cal.day, coalesce(c.n, 0) AS x FROM cal
            LEFT JOIN c ON c.day = cal.day AND c.event_type = 'view'),
      y AS (SELECT cal.day, coalesce(c.n, 0) AS y FROM cal
            LEFT JOIN c ON c.day = cal.day AND c.event_type = 'purchase'),
      l AS (SELECT unnest(generate_series(-$TS2_MAX_LAG, $TS2_MAX_LAG))
              AS lag),
      p AS (SELECT l.lag, x.x, y.y FROM x CROSS JOIN l
            JOIN y ON y.day = x.day + l.lag),
      m AS (SELECT lag, count(*) AS n_days,
              CAST(count(*) AS DOUBLE) AS nd,
              CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
              CAST(sum(x * x) AS DOUBLE) AS sxx,
              CAST(sum(y * y) AS DOUBLE) AS syy,
              CAST(sum(x * y) AS DOUBLE) AS sxy
            FROM p GROUP BY 1)
      SELECT lag, n_days,
        CASE WHEN nd * sxx - sx * sx <= 0
               OR nd * syy - sy * sy <= 0 THEN NULL
        ELSE floor((nd * sxy - sx * sy)
               / (sqrt(nd * sxx - sx * sx)
                  * sqrt(nd * syy - sy * sy))
               * 1000000 + 0.5) / 1000000 END AS r
      FROM m""",
    // same (ts, event_id)-ordered lag, integer-log2 buckets, floor ppm
    "w17_interarrival" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu
                 FROM events),
      g AS (SELECT tu - lag(tu) OVER (PARTITION BY user_id
              ORDER BY tu, event_id) AS gap
            FROM e),
      b AS (SELECT CAST(length(bin(gap)) - 1 AS BIGINT) AS bucket
            FROM g WHERE gap IS NOT NULL),
      c AS (SELECT bucket, count(*) AS n_gaps FROM b GROUP BY 1),
      w AS (SELECT bucket, n_gaps,
              CAST(sum(n_gaps) OVER () AS BIGINT) AS tot FROM c)
      SELECT bucket, n_gaps, (1000000 * n_gaps) // tot AS share_ppm
      FROM w""",
    // same dense grid, floor-div mean, and day - row_number islands
    "w16_streaks" -> s"""
      WITH c AS (SELECT epoch_us(ts) // $W10_DAY_US AS day,
                   count(*) AS n
                 FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, coalesce(c.n, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      f AS (SELECT day,
              x > CAST(sum(x) OVER () AS BIGINT) // count(*) OVER ()
                AS above
            FROM grid),
      i AS (SELECT above,
              day - row_number() OVER (PARTITION BY above ORDER BY day)
                AS isl
            FROM f),
      runs AS (SELECT above, isl, count(*) AS len
               FROM i GROUP BY 1, 2)
      SELECT above, count(*) AS n_runs, max(len) AS longest_run,
        CAST(sum(len) AS BIGINT) AS n_days
      FROM runs GROUP BY 1""",
    // ts2's dense grid and pinned-float r, self-joined at lags 1..7
    "ts5_acf" -> s"""
      WITH c AS (SELECT epoch_us(ts) // $W10_DAY_US AS day,
                   count(*) AS n
                 FROM events GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
      grid AS (SELECT g.day, coalesce(c.n, 0) AS x
               FROM (SELECT unnest(generate_series(d0, d1)) AS day
                     FROM span) g
               LEFT JOIN c ON c.day = g.day),
      l AS (SELECT unnest(generate_series(1, $TS5_MAX_LAG)) AS lag),
      p AS (SELECT l.lag, a.x, b.x AS y FROM grid a CROSS JOIN l
            JOIN grid b ON b.day = a.day + l.lag),
      m AS (SELECT lag, count(*) AS n_days,
              CAST(count(*) AS DOUBLE) AS nd,
              CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
              CAST(sum(x * x) AS DOUBLE) AS sxx,
              CAST(sum(y * y) AS DOUBLE) AS syy,
              CAST(sum(x * y) AS DOUBLE) AS sxy
            FROM p GROUP BY 1)
      SELECT lag, n_days,
        CASE WHEN nd * sxx - sx * sx <= 0
               OR nd * syy - sy * sy <= 0 THEN NULL
        ELSE floor((nd * sxy - sx * sy)
               / (sqrt(nd * sxx - sx * sx)
                  * sqrt(nd * syy - sy * sy))
               * 1000000 + 0.5) / 1000000 END AS r
      FROM m""",
    // same integer weekday ((epoch-day + 4) mod 7) and floor-div ppm
    "w12_dow_profile" -> s"""
      WITH e AS (SELECT event_type,
                   ((epoch_us(ts) // $W10_DAY_US) + 4) % 7 AS dow
                 FROM events),
      c AS (SELECT event_type, dow, count(*) AS n_events
            FROM e GROUP BY 1, 2),
      w AS (SELECT event_type, dow, n_events,
              CAST(sum(n_events) OVER (PARTITION BY event_type)
                AS BIGINT) AS tot
            FROM c)
      SELECT event_type, dow, n_events,
        (1000000 * n_events) // tot AS share_ppm
      FROM w""",
    // min() anchors and integer µs-day lag, the fn1/w10 convention
    "fn2_time_to_convert" -> s"""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu
                 FROM events),
      v AS (SELECT user_id, min(tu) AS tv FROM e
            WHERE event_type = 'view' GROUP BY 1),
      p AS (SELECT e.user_id, min(tu) AS tp, min(tv) AS tv
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'purchase' AND tu > tv
            GROUP BY 1)
      SELECT (tp - tv) // $W10_DAY_US AS lag_days, count(*) AS n_users
      FROM p GROUP BY 1""",
    // same pinned close pick (row_number ts DESC, event_id DESC), the
    // same integer µs-day grid, and the same ROWS-framed IGNORE NULLS
    // carry — LOCF only moves the once-rounded close values
    "ts1_gapfill" -> s"""
      WITH e AS (SELECT user_id, epoch_us(ts) // $TS1_DAY_US AS day,
                   ts, event_id, value FROM events),
      r AS (SELECT user_id, day, value, row_number() OVER (
              PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC)
              AS rn FROM e),
      daily AS (SELECT user_id, day, floor(value*100 + 0.5)/100 AS close_val
                FROM r WHERE rn = 1),
      span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY 1),
      grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
               FROM span),
      f AS (SELECT g.user_id, g.day, d.close_val FROM grid g
            LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
      SELECT user_id, day,
        last_value(close_val IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS value,
        close_val IS NULL AS filled
      FROM f""",
    // same running purchase count window, same (user, seq) attach,
    // integer ppm credit and floor-cents revenue split
    "att2_linear_credit" -> """
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events),
      n AS (SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) OVER (PARTITION BY user_id
                     ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS np
            FROM e),
      p AS (SELECT user_id, np AS seq, cents FROM n
            WHERE event_type = 'purchase'),
      tc AS (SELECT user_id, np + 1 AS seq, event_type AS channel,
               count(*) AS n_ch
             FROM n WHERE event_type <> 'purchase' GROUP BY 1, 2, 3),
      tt AS (SELECT *, sum(n_ch) OVER (PARTITION BY user_id, seq) AS n_tot
             FROM tc),
      credited AS (SELECT tt.channel,
                     (1000000 * n_ch) // n_tot AS ppm,
                     (p.cents * n_ch) // n_tot AS cents_share
                   FROM p JOIN tt ON p.user_id = tt.user_id
                     AND p.seq = tt.seq),
      untouched AS (SELECT 'none' AS channel, 1000000 AS ppm,
                      cents AS cents_share
                    FROM p LEFT JOIN (SELECT DISTINCT user_id, seq FROM tc) t
                      ON p.user_id = t.user_id AND p.seq = t.seq
                    WHERE t.user_id IS NULL),
      u AS (SELECT * FROM credited UNION ALL SELECT * FROM untouched)
      SELECT channel, count(*) AS n_credits,
        CAST(sum(ppm) AS BIGINT) AS credit_ppm,
        CAST(sum(cents_share) AS BIGINT) AS cents_credit
      FROM u GROUP BY 1""",
    // identical integer frame sums (cents, cents²) and identical
    // double arithmetic from them — no accumulation-order term
    "w11_rolling_z" -> s"""
      WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tu, value,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events),
      f AS (SELECT event_id, event_type, value, cents,
              count(*) OVER w AS n,
              CAST(sum(cents) OVER w AS BIGINT) AS sc,
              CAST(sum(cents * cents) OVER w AS BIGINT) AS sq
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY tu, event_id
              ROWS BETWEEN $W11_FRAME PRECEDING AND 1 PRECEDING)),
      m AS (SELECT *, CAST(sc AS DOUBLE) / n AS mean FROM f
            WHERE n >= $W11_MIN_N),
      sdt AS (SELECT *, sqrt(greatest(
                CAST(sq AS DOUBLE) / n - mean * mean, 0.0)) AS std
              FROM m)
      SELECT event_id, event_type, value, n,
        floor((cents - mean) / std * 10000 + 0.5)/10000 AS z
      FROM sdt
      WHERE std > 0.0 AND abs(cents - mean) >= $W11_CUT * std""",
    // same (epoch-µs, event_id) window order and IGNORE NULLS
    // last-value semantics; revenue summed as exact cents
    "att1_last_touch" -> """
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events),
      t AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase'
                       THEN event_type END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY tu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS channel
            FROM e)
      SELECT coalesce(channel, 'none') AS channel,
        count(*) AS n_conversions, CAST(sum(cents) AS BIGINT) AS rev_cents
      FROM t WHERE event_type = 'purchase' GROUP BY 1""",
    // integer µs-day arithmetic throughout; the one double is the
    // final retention ratio (single division, portable floor form)
    "w10_retention" -> s"""
      WITH e AS (SELECT user_id, epoch_us(ts) // $W10_DAY_US AS day
                 FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, f.cohort_day,
              e.day - f.cohort_day AS day_offset
            FROM e JOIN f USING (user_id)),
      m AS (SELECT cohort_day, day_offset, count(*) AS n_users
            FROM a GROUP BY 1, 2),
      sz AS (SELECT cohort_day, n_users AS cohort_size FROM m
             WHERE day_offset = 0)
      SELECT m.cohort_day, m.day_offset, m.n_users,
        floor(CAST(m.n_users AS DOUBLE)/cohort_size*1000000 + 0.5)/1000000
          AS retention
      FROM m JOIN sz USING (cohort_day)""",
    // exact integer halving decay: cents div 2^k, k in whole
    // half-lives — powers of two are IEEE-exact, so both engines'
    // pow-then-cast is the same long divisor
    "w9_decay_score" -> s"""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events),
      n AS (SELECT max(tu) AS t_now FROM e),
      c AS (SELECT user_id,
              cents // CAST(pow(2, least((t_now - tu) // $W9_HALF_LIFE_US,
                62)) AS BIGINT) AS contrib
            FROM e, n)
      SELECT user_id, count(*) AS n_events,
        CAST(sum(contrib) AS BIGINT) AS decayed_cents
      FROM c GROUP BY 1""",
    // earliest-completion funnel: every anchor is a min() aggregate,
    // all event-time arithmetic in integer µs (epoch_us, the w4/r2
    // convention) — no ordering ambiguity anywhere
    "fn1_funnel" -> s"""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu
                 FROM events),
      s1 AS (SELECT user_id, min(tu) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(tu) AS t2, min(t1) AS t1
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click'
               AND tu > t1 AND tu <= t1 + $FN1_WINDOW_US
             GROUP BY 1),
      s3 AS (SELECT e.user_id, min(tu) AS t3, min(t2) AS t2
             FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase'
               AND tu > t2 AND tu <= t2 + $FN1_WINDOW_US
             GROUP BY 1)
      SELECT '1_view' AS step, count(*) AS n_users,
        CAST(0 AS BIGINT) AS sum_lag_us FROM s1
      UNION ALL
      SELECT '2_click', count(*),
        CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_purchase', count(*),
        CAST(coalesce(sum(t3 - t2), 0) AS BIGINT) FROM s3""",
    // quantile_cont == Spark's exact `percentile` (same linear
    // interpolation: lower + (higher-lower)*frac, identical IEEE ops);
    // both engines round the cut-points with the portable floor form
    // before binning
    "w8_global_bin" -> """
      WITH c AS (SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS c
                 FROM orders),
      cuts AS (SELECT list_transform(c, x -> floor(x*1000000 + 0.5)/1000000) AS c
               FROM c),
      bands AS (SELECT i AS bin,
          CASE WHEN i = 0 THEN '-infinity'::DOUBLE ELSE c[i] END AS lo,
          CASE WHEN i = 3 THEN 'infinity'::DOUBLE ELSE c[i+1] END AS hi
        FROM cuts, generate_series(0, 3) t(i))
      SELECT o_orderkey, bin AS spend_quartile
      FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi""",
    "w1_tumbling_window" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
        count(*) AS cnt, floor(sum(value)*100 + 0.5)/100 AS sum_value
      FROM events GROUP BY 1, 2""",
    "w2_rank_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders) WHERE rank <= 3""",
    "w3_session_window" -> """
      WITH e AS (SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS brk
        FROM events),
      g AS (SELECT user_id, ts, value,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM e)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events, floor(sum(value)*100 + 0.5)/100 AS sum_value
      FROM g GROUP BY user_id, sid""",
    "w4_lag_delta" -> """
      SELECT user_id, event_id,
        date_diff('microsecond',
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS delta_us
      FROM events""",
    "w6_running_total" -> """
      SELECT user_id, event_id,
        count(*) OVER w AS running_n,
        floor(sum(value) OVER w * 100 + 0.5)/100 AS running_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "w7_ntile" -> """
      SELECT o_orderkey, o_custkey,
        ntile(4) OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice, o_orderkey) AS spend_quartile
      FROM orders""",
    // every event is in exactly two 10-min/5-min-slide windows: the
    // epoch-aligned floor window and the one 5 minutes earlier
    "w5_sliding_window" -> """
      WITH e AS (SELECT event_type, value, epoch_us(ts) AS eu FROM events),
      x AS (SELECT event_type, value,
              make_timestamp((eu // 300000000) * 300000000 - o.o) AS win_start
            FROM e, (VALUES (0::BIGINT), (300000000::BIGINT)) o(o))
      SELECT win_start, event_type, count(*) AS cnt,
        floor(sum(value)*100 + 0.5)/100 AS sum_value
      FROM x GROUP BY win_start, event_type"""
  )
}
