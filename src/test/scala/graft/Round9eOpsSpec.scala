package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic checks for the round-9 sixth-through-tenth waves
  * (label-propagation communities, weekday seasonality, PRF
  * expansion, t-closeness, LOO impact, FK audit, burstiness,
  * calibrated filter, MinHash fidelity, de-anisotropy, A/B lift) —
  * plain-Scala replays plus the conservation laws the DuckDB oracle
  * can't state directly.
  */
class Round9eOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Events projected to the integer-µs fields the replays use. */
  private lazy val events: Array[(Long, Long, String, Long)] =
    Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tu"),
        col("event_type"), col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  // ---- gr5 --------------------------------------------------------

  test("gr5: both synchronous LPA rounds replay exactly (count-desc, " +
    "label-asc argmax), and community sizes conserve the node count") {
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = ip.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for {
        i <- parts.indices; j <- parts.indices if i != j
      } yield (parts(i), parts(j))
    }.toSet // (v, n) both directions
    var labels = sym.map(_._1).map(v => v -> v).toMap
    for (_ <- 1 to operators.GraphOps.GR5_ROUNDS) {
      val next = sym.groupBy(_._1).map { case (v, es) =>
        val votes = es.toSeq.map(e => labels(e._2))
          .groupBy(identity).map { case (l, xs) => (l, xs.size) }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      labels = next
    }
    val expected = labels.values.groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val got = q("gr5_communities").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.sum == labels.size.toLong)
    // LPA coarsens: communities cannot outnumber nodes, and round-2
    // voting must have merged at least some singleton seeds
    assert(got.size < labels.size)
  }

  // ---- w12 --------------------------------------------------------

  test("w12: the weekday profile replays from pure integer µs " +
    "arithmetic and shares sum to ~1e6 per event type") {
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val dayUs = 86400000000L
    val counts = evs.groupBy { case (t, tu) => (t, ((tu / dayUs) + 4) % 7) }
      .map { case (k, xs) => k -> xs.length.toLong }
    val tot = counts.groupBy(_._1._1).map { case (t, xs) => t -> xs.values.sum }
    val expected = counts.map { case ((t, dow), n) =>
      (t, dow) -> ((n, 1000000L * n / tot(t)))
    }
    val got = q("w12_dow_profile").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    got.keys.map(_._1).toSet.foreach { (t: String) =>
      val s = got.collect { case ((`t`, _), (_, ppm)) => ppm }.sum
      // floor-division undershoot only: within 7 ulp-ppm of 1e6
      assert(s <= 1000000L && s > 1000000L - 7, s"type $t sums $s")
    }
  }

  // ---- qr2 --------------------------------------------------------

  test("qr2: expansion terms replay exactly from qr1's feedback set, " +
    "never include original query terms, and respect the top-5 cut") {
    val fb = q("qr1_batch_bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docToks = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet).toMap
    val qterms = operators.RetrievalOps.queryTermPairs.toSet
    val expected = fb.groupBy(_._1).flatMap { case (qid, ds) =>
      val cnt = ds.flatMap(d => docToks(d._2).toSeq.map(t => t))
        .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
        .filterNot { case (t, _) => qterms((qid, t)) }
      cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(5).zipWithIndex
        .map { case ((t, c), i) => (qid, t) -> ((c, i + 1L)) }
    }
    val got = q("qr2_prf_expand").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getInt(3).toLong))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    got.keys.foreach { case (qid, t) => assert(!qterms((qid, t))) }
  }

  // ---- an3 --------------------------------------------------------

  test("an3: the t-closeness EMD replays exactly over the densified " +
    "ladder, and a segment distributed like the global corpus " +
    "scores near zero") {
    val custSeg = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (custSeg(r.getLong(0)), r.getString(1)))
    val segs = rows.map(_._1).distinct.sorted
    val pris = rows.map(_._2).distinct.sorted
    val cnt = rows.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val gtot = rows.length.toLong
    val expected = segs.map { sg =>
      val ns = pris.map(p => cnt.getOrElse((sg, p), 0L))
      val tot = ns.sum
      val cums = ns.scanLeft(0L)(_ + _).tail
      val gcums = pris.map(p =>
        segs.map(s2 => cnt.getOrElse((s2, p), 0L)).sum)
        .scanLeft(0L)(_ + _).tail
      val t = cums.zip(gcums).map { case (c, g) =>
        math.abs(1000000L * c / tot - 1000000L * g / gtot)
      }.sum
      sg -> ((tot, t))
    }.toMap
    val got = q("an3_tcloseness").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // law: EMD against the global mix is bounded by the ladder size
    got.values.foreach { case (_, t) =>
      assert(t >= 0 && t < 1000000L * pris.length)
    }
  }

  // ---- imp1 -------------------------------------------------------

  test("imp1: leave-one-out deltas replay exactly and weighted-sum " +
    "to ~zero (removing everything removes nothing)") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1)
      .map { case (s0, xs) => s0 -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val tn = docs.length.toLong
    val ts = docs.map(_._2).sum
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = bySrc.map { case (s0, (n, sum)) =>
      s0 -> ((n, r6d((ts - sum).toDouble / (tn - n) - ts.toDouble / tn)))
    }
    val got = q("imp1_loo_impact").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expected)
    // a weighted combination of LOO deltas telescopes to ~0
    val wsum = got.map { case (_, (n, dl)) => (tn - n).toDouble * dl }.sum
    assert(math.abs(wsum) < 1.0)
  }

  // ---- dq1 --------------------------------------------------------

  test("dq1: the FK audit replays exactly — driver-side set " +
    "difference per edge — and the synthetic corpus is clean") {
    def keys(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).collect().map(_.getLong(0))
    val edges = Seq(
      ("orders.custkey", keys(Tables.orders(spark, sf), "o_custkey"),
        keys(Tables.customer(spark, sf), "c_custkey").toSet),
      ("lineitem.orderkey", keys(Tables.lineitem(spark, sf), "l_orderkey"),
        keys(Tables.orders(spark, sf), "o_orderkey").toSet),
      ("lineitem.partkey", keys(Tables.lineitem(spark, sf), "l_partkey"),
        keys(Tables.part(spark, sf), "p_partkey").toSet),
      ("lineitem.suppkey", keys(Tables.lineitem(spark, sf), "l_suppkey"),
        keys(Tables.supplier(spark, sf), "s_suppkey").toSet))
    val expected = edges.map { case (fk, child, parent) =>
      val orphans = child.count(k => !parent(k)).toLong
      fk -> ((child.length.toLong, orphans,
        1000000L * orphans / child.length))
    }.toMap
    val got = q("dq1_fk_orphans").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // the driver generator is FK-consistent — the audit proves it
    got.values.foreach { case (_, orphans, ppm) =>
      assert(orphans == 0L && ppm == 0L)
    }
  }

  // ---- x18 --------------------------------------------------------

  test("x18: burstiness replays exactly (integer moments, zeros " +
    "included via the sparse identity), and every VMR is positive") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val n = docs.length.toLong
    val tf = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    }
    val m = tf.groupBy(_._1).map { case (t, xs) =>
      t -> ((xs.map(_._2).sum, xs.map(x => x._2 * x._2).sum))
    }
    val expected = m.toSeq
      .sortBy { case (t, (s1, _)) => (-s1, t) }.take(20)
      .map { case (t, (s1, s2)) =>
        // the engines' double-space moments (overflow-safe form)
        t -> ((s1, math.floor(
          (n.toDouble * s2 - s1.toDouble * s1) / (n.toDouble * s1)
            * 1e6 + 0.5) / 1e6))
      }.toMap
    val got = q("x18_burstiness").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expected)
    assert(got.size == 20)
    // Cauchy-Schwarz law: N·Σtf² >= (Σtf)², so VMR is never negative
    got.values.foreach { case (_, vmr) => assert(vmr >= 0.0) }
  }

  // ---- cls4 -------------------------------------------------------

  test("cls4: the deployed filter is exactly cal1's tail at the " +
    "calibrated threshold — kept/correct totals match the replayed " +
    "threshold rule") {
    val cal = q("cal1_margin_calibration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1) // margin desc
    // replay the threshold rule: smallest margin whose cumulative
    // (from the top) accuracy clears the bar, else the max margin
    var cn = 0L; var ck = 0L
    val qualifying = cal.flatMap { case (m, n, k) =>
      cn += n; ck += k
      if (1000000L * ck / cn >= operators.RetrievalOps.CLS4_ACC_PPM)
        Some(m)
      else None
    }
    val thr = if (qualifying.nonEmpty) qualifying.min else cal.map(_._1).max
    val tail = cal.filter(_._1 >= thr)
    val got = q("cls4_calibrated_filter").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.values.map(_._1).sum == tail.map(_._2).sum)
    assert(got.values.map(_._2).sum == tail.map(_._3).sum)
    // the filter never keeps more wrong than right per class at a
    // >=90% calibrated bar unless the fallback band fired
    if (qualifying.nonEmpty)
      assert(tail.map(_._3).sum * 10L >= tail.map(_._2).sum * 9L)
    assert(got.nonEmpty)
  }

  // ---- d13 --------------------------------------------------------

  test("d13: the fidelity report conserves d2's pair count, every " +
    "bucket is a feasible band-match (>= 2 agreeing positions), and " +
    "mean Jaccard rides in the verified band") {
    val nPairs = q("d2_minhash_lsh").count()
    val got = q("d13_minhash_fidelity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).sum == nPairs)
    got.foreach { case (est, n, meanJac) =>
      // a verified pair band-matched somewhere: both positions of
      // that band agree, so at least 2 of 8 signature slots agree
      assert(est >= 2 && est <= 8, s"est=$est")
      assert(n > 0)
      // pairs only exist at jac >= 0.5; round-6 ppm stays in band
      assert(meanJac >= 500000L && meanJac <= 1000000L, s"jac=$meanJac")
    }
    assert(got.nonEmpty)
  }

  // ---- emb5 -------------------------------------------------------

  test("emb5: projections replay exactly from raw embeddings and " +
    "the emb4 direction, with the sign-split ppm coefficient") {
    val v = q("emb4_top_direction").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vArr = (1 to v.size).map(i => v(i.toLong)).toArray
    val vv = vArr.map(x => x * x).sum
    val expected = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val q0 = r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray
        val proj = q0.zip(vArr).map { case (a, b) => a * b }.sum
        val n = 1000000L * proj
        val c = if (n < 0) -((-n) / vv) else n / vv
        r.getLong(0) -> ((proj, c))
      }.toMap
    val got = q("emb5_detop").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // Cauchy-Schwarz in ppm: |c| <= 1e6 * |q|/|v|; on unit-ish
    // embeddings (|q| ~ sqrt(64)*1000 ~ 8e3, |v| >~ 1e6) the
    // coefficient is small — sanity-bound it loosely
    got.values.foreach { case (_, c) => assert(math.abs(c) < 100000L) }
  }

  // ---- x19 --------------------------------------------------------

  test("x19: collocation lift replays exactly from unigram/bigram " +
    "counts in the engines' double-space expression, and lift is " +
    "scale-free (never negative, bounded by N/c_ab)") {
    val docs = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).split(" ", -1))
    val ca = docs.flatten.groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    val bigrams = docs.filter(_.length >= 2)
      .flatMap(l => l.dropRight(1).zip(l.drop(1)))
    val cb = bigrams.groupBy(identity)
      .map { case (p, xs) => p -> xs.length.toLong }
    val n = bigrams.length.toLong
    val expected = cb.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(20)
      .map { case ((w1, w2), c) =>
        (w1, w2) -> ((c, math.floor(
          n.toDouble * c / (ca(w1).toDouble * ca(w2)) * 1e6 + 0.5) / 1e6))
      }.toMap
    val got = q("x19_collocation_lift").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
    assert(got.size == 20)
    got.foreach { case ((_, _), (c, lift)) =>
      assert(lift >= 0.0 && lift <= n.toDouble / c + 1)
    }
  }

  // ---- ab1 --------------------------------------------------------

  test("ab1: the A/B table replays exactly from per-user purchase " +
    "flags and the md5 split, and the hash A/A lift is honest") {
    val byUser = events.groupBy(_._4).map { case (uid, evs) =>
      uid -> (if (evs.exists(_._3 == "purchase")) 1L else 0L)
    }
    val arms = byUser.groupBy { case (uid, _) =>
      Fns.md5LongLocal(uid.toString) % 2
    }
    def nc(arm: Long) = {
      val xs = arms.getOrElse(arm, Map.empty)
      (xs.size.toLong, xs.values.sum)
    }
    val (na, ca) = nc(0L); val (nb, cb) = nc(1L)
    val lift = 1000000L * cb / nb - 1000000L * ca / na
    val z =
      if (ca + cb == 0 || ca + cb == na + nb) None
      else {
        val p = (ca + cb).toDouble / (na + nb)
        Some(math.floor((cb.toDouble / nb - ca.toDouble / na) /
          math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
          * 1e6 + 0.5) / 1e6)
      }
    val rows = q("ab1_conversion_lift").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((na, ca, nb, cb)))
    assert(r.getLong(4) == lift)
    val gz = if (r.isNullAt(5)) None else Some(r.getDouble(5))
    assert(gz === z)
    // the split is an A/A test on synthetic data: arms should be
    // statistically indistinguishable (|z| < 4 is a very loose bar
    // that still catches a broken split hash)
    gz.foreach(v => assert(math.abs(v) < 4.0, s"A/A z=$v"))
  }
}
