package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic checks for the round-10 wave (Markov transitions, JL
  * random projection, Rocchio centroids, proximity retrieval, Burrows'
  * Delta, local-DP frequency estimation, completeness census) —
  * plain-Scala replays plus the conservation laws the DuckDB oracle
  * can't state directly.
  */
class Round10OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private val dayUs = 86400000000L

  /** Events projected to the integer-µs fields the replays use. */
  private lazy val events: Array[(Long, Long, String, Long)] =
    Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tu"),
        col("event_type"), col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  /** Embeddings as (vec_id, label, integer-thousandths coords). */
  private lazy val vecsQ: Array[(Long, Long, Array[Long])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(x =>
          math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))

  // ---- seq1 -------------------------------------------------------

  test("seq1: the transition matrix replays exactly from per-user " +
    "(ts, event_id)-ordered sequences, and transitions conserve to " +
    "sum(len - 1) over users") {
    val seqs = events.groupBy(_._4).values.map(
      _.sortBy(e => (e._2, e._1)).map(_._3).toSeq)
    val counts = seqs.flatMap(s => s.zip(s.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val tots = counts.groupBy(_._1._1)
      .map { case (src, xs) => src -> xs.values.sum }
    val expected = counts.map { case ((src, dst), n) =>
      (src, dst) -> ((n, 1000000L * n / tots(src)))
    }
    val got = q("seq1_transition").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum ==
      seqs.map(s => (s.length - 1).toLong).sum)
  }

  // ---- emb6 -------------------------------------------------------

  test("emb6: the JL sign projection replays exactly from md5-even " +
    "signs over quantized coordinates, and the sign matrix is " +
    "near-balanced") {
    val dims = 64
    val out = 16
    val signs = Array.tabulate(dims, out) { (i0, j) =>
      if (Fns.md5LongLocal(s"rp:${i0 + 1}:$j") % 2L == 0L) 1L else -1L
    }
    val expected = vecsQ.flatMap { case (vid, _, qs) =>
      (0 until out).map { j =>
        (vid, j.toLong) ->
          qs.indices.map(i => signs(i)(j) * qs(i)).sum
      }
    }.toMap
    val got = q("emb6_rand_proj").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.size == vecsQ.length * out)
    // Rademacher balance: each output dim's sign column should be
    // roughly half +1 (binomial bound, generous)
    (0 until out).foreach { j =>
      val plus = (0 until dims).count(i => signs(i)(j) == 1L)
      assert(plus >= 16 && plus <= 48, s"output dim $j has $plus/+64")
    }
  }

  // ---- cls5 -------------------------------------------------------

  test("cls5: the Rocchio confusion matrix replays exactly from " +
    "truncate-div centroids and the (dist2, label) argmin, and " +
    "conserves the corpus") {
    val cents = vecsQ.groupBy(_._2).map { case (lbl, vs) =>
      val n = vs.length.toLong
      lbl -> Array.tabulate(64)(i => vs.map(_._3(i)).sum / n)
    }
    val labels = cents.keys.toSeq.sorted
    val expected = vecsQ.map { case (_, lbl, qs) =>
      val pred = labels.map { l =>
        val c = cents(l)
        (l, qs.indices.map { i =>
          val d = qs(i) - c(i); d * d
        }.sum)
      }.minBy { case (l, d2) => (d2, l) }._1
      (lbl, pred)
    }.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val got = q("cls5_rocchio").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.values.sum == vecsQ.length.toLong)
  }

  // ---- idx4 -------------------------------------------------------

  test("idx4: proximity retrieval replays exactly (in-order window " +
    "pairs), and phrase matches (idx3) are a subset of proximity " +
    "matches per query") {
    val phrases = Seq(1L -> ("hash", "table"), 2L -> ("join", "merge"),
      3L -> ("sort", "key"), 4L -> ("stream", "window"),
      5L -> ("fast", "query"))
    val W = operators.RetrievalOps.IDX4_WINDOW
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val expected = phrases.flatMap { case (qid, (a, b)) =>
      val occ = docs.flatMap { case (id, toks) =>
        val n = (for {
          i <- toks.indices if toks(i) == a
          j <- (i + 1) to math.min(i + W.toInt, toks.length - 1)
          if toks(j) == b
        } yield 1).size
        if (n > 0) Some(id -> n.toLong) else None
      }
      if (occ.isEmpty) None
      else Some(qid -> ((occ.length.toLong, occ.map(_._2).sum,
        occ.map(_._1).sorted.take(5).map(id => f"$id%06d").mkString("|"))))
    }.toMap
    val got = q("idx4_proximity").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === expected)
    // phrase ⊆ proximity: idx3's per-query doc count can't exceed idx4's
    val phraseCounts = q("idx3_phrase").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    phraseCounts.foreach { case (qid, nd) =>
      assert(got.contains(qid) && got(qid)._1 >= nd,
        s"query $qid: phrase $nd docs > proximity")
    }
  }

  // ---- x20 --------------------------------------------------------

  test("x20: Burrows' Delta replays exactly (ppm rates, quantized " +
    "|z|, floor-div Delta) and every Delta is non-negative") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val counts = docs.flatMap { case (src, toks) => toks.map(src -> _) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val tots = counts.groupBy(_._1._1)
      .map { case (s0, xs) => s0 -> xs.values.sum }
    val top = counts.groupBy(_._1._2)
      .map { case (t, xs) => t -> xs.values.sum }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(20).map(_._1)
    val sources = tots.keys.toSeq.sorted
    val rates = for (s0 <- sources; t <- top)
      yield (s0, t, 1000000L * counts.getOrElse((s0, t), 0L) / tots(s0))
    val moms = rates.groupBy(_._2).map { case (t, xs) =>
      val rs = xs.map(_._3)
      t -> ((rs.size.toLong, rs.sum, rs.map(r => r * r).sum))
    }
    val expected = rates.groupBy(_._1).map { case (s0, xs) =>
      val sAz = xs.map { case (_, t, r) =>
        val (cnt, sr, srr) = moms(t)
        val v = cnt.toDouble * srr.toDouble - sr.toDouble * sr.toDouble
        if (v <= 0) 0L
        else math.floor(math.abs(
          (r.toDouble * cnt.toDouble - sr.toDouble) / math.sqrt(v))
          * 1000000 + 0.5).toLong
      }.sum
      s0 -> ((tots(s0), sAz / 20L))
    }
    val got = q("x20_burrows_delta").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    assert(got.values.forall(_._2 >= 0L))
    assert(got.size == sources.size)
  }

  // ---- an4 --------------------------------------------------------

  test("an4: the randomized-response mechanism and debiased " +
    "estimator replay exactly, and observed counts conserve the " +
    "corpus") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val langs = docs.map(_._2).distinct.sorted
    val k = langs.length
    val reports = docs.map { case (id, lang) =>
      val truth = Fns.md5LongLocal(s"$id:rr") % 1000L < 750L
      val rep =
        if (truth) lang
        else {
          val others = langs.filterNot(_ == lang)
          others((Fns.md5LongLocal(s"$id:pick") % (k - 1)).toInt)
        }
      (lang, rep)
    }
    val n = reports.length.toLong
    val nTrue = reports.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val nObs = reports.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val expected = langs.map { l =>
      val obs = nObs.getOrElse(l, 0L)
      val est = (1000.0 * (k - 1) * obs - 250.0 * n) /
        (750.0 * (k - 1) - 250.0)
      l -> ((nTrue.getOrElse(l, 0L), obs,
        math.floor(est * 1000000 + 0.5) / 1000000))
    }.toMap
    val got = q("an4_ldp_freq").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum == n) // true counts conserve
    assert(got.values.map(_._2).sum == n) // reports conserve too
  }

  // ---- gr6 --------------------------------------------------------

  test("gr6: the log2 degree histogram replays exactly from the " +
    "co-purchase graph and conserves nodes and degree mass") {
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ip.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val buckets = deg.values.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d))
      .map { case (bkt, ds) => bkt.toLong -> ((ds.size.toLong, ds.sum)) }
    val tot = deg.size.toLong
    val expected = buckets.map { case (bkt, (n, mass)) =>
      bkt -> ((n, mass, 1000000L * n / tot))
    }
    val got = q("gr6_degree_hist").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum == tot)
    assert(got.values.map(_._2).sum == 2L * edges.size) // Σdeg = 2m
  }

  // ---- qr3 --------------------------------------------------------

  test("qr3: MRR eval replays from the served qr1 ranking and the " +
    "conjunctive pseudo-qrels, and rr_ppm takes only the four " +
    "rank-reciprocal values") {
    val queries = Seq(1L -> "hash table", 2L -> "join merge",
      3L -> "sort key", 4L -> "stream window", 5L -> "fast query")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet)
    val rel = queries.map { case (qid, terms) =>
      val ts = terms.split(" ").toSet
      qid -> docs.collect { case (id, toks) if ts.subsetOf(toks) => id }.toSet
    }.toMap
    val served = q("qr1_batch_bm25").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](3).longValue))
    val expected = queries.map { case (qid, _) =>
      val ranks = served.collect {
        case (`qid`, doc, rnk) if rel(qid).contains(doc) => rnk }
      val first = if (ranks.isEmpty) 0L else ranks.min
      qid -> ((first, if (first == 0L) 0L else 1000000L / first))
    }.toMap
    val got = q("qr3_mrr").collect()
      .map(r => r.getAs[Number](0).longValue ->
        ((r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)))
      .toMap
    assert(got === expected)
    assert(got.values.map(_._2).toSet
      .subsetOf(Set(0L, 333333L, 500000L, 1000000L)))
    assert(got.size == queries.size)
  }

  // ---- dq3 --------------------------------------------------------

  test("dq3: the temporal drift table replays exactly (midpoint " +
    "pivot, integer shares, pinned chi2) and the halves conserve " +
    "the corpus") {
    val days = events.map(e => (e._3, e._2 / dayUs))
    val piv = (days.map(_._2).min + days.map(_._2).max + 1) / 2
    val counts = days.groupBy(_._1).map { case (t, xs) =>
      t -> ((xs.count(_._2 < piv).toLong, xs.count(_._2 >= piv).toLong))
    }
    val ta = counts.values.map(_._1).sum
    val tb = counts.values.map(_._2).sum
    val expected = counts.map { case (t, (na, nb)) =>
      val ea = ta.toDouble * (na + nb) / (ta + tb)
      val eb = tb.toDouble * (na + nb) / (ta + tb)
      val chi = (na.toDouble - ea) * (na.toDouble - ea) / ea +
        (nb.toDouble - eb) * (nb.toDouble - eb) / eb
      t -> ((na, nb, 1000000L * na / ta, 1000000L * nb / tb,
        math.abs(1000000L * na / ta - 1000000L * nb / tb),
        math.floor(chi * 1000000 + 0.5).toLong))
    }
    val got = q("dq3_drift").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum == ta)
    assert(got.values.map(_._2).sum == tb)
    assert(got.values.forall(_._6 >= 0L))
  }

  // ---- x21 --------------------------------------------------------

  test("x21: duplicated-trigram coverage replays exactly from md5 " +
    "gram hashes, and dup grams are symmetric (a gram dup in one doc " +
    "is dup in every doc carrying it)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val grams = docs.flatMap { case (id, toks) =>
      toks.sliding(3).filter(_.length == 3)
        .map(g => (id, Fns.md5LongLocal(g.mkString(" ")))).toSet
    }
    val dfc = grams.groupBy(_._2).map { case (h, xs) => h -> xs.size }
    val expected = docs.map { case (id, toks) =>
      val gs = toks.sliding(3).filter(_.length == 3)
        .map(g => Fns.md5LongLocal(g.mkString(" "))).toSet
      val nDup = gs.count(h => dfc(h) >= 2).toLong
      val n = gs.size.toLong
      id -> ((n, nDup, if (n == 0) 0L else 1000000L * nDup / n))
    }.toMap
    val got = q("x21_dup_ngrams").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.size == docs.length)
  }

  // ---- pipe5 ------------------------------------------------------

  test("pipe5: the Gopher-rule attribution table replays exactly, " +
    "and any_rule dominates every individual rule") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1),
        r.getAs[Number](2).longValue))
    val stops = Set("the", "a")
    val flags = docs.map { case (_, toks, nChars) =>
      val words = toks.length.toLong
      val tf = toks.groupBy(identity).map(_._2.length.toLong)
      val f1 = words < 50 || words > 500
      val mw = 1000L * nChars / words
      val f2 = mw < 3000 || mw >= 8000
      val f3 = toks.count(stops) < 2
      val f4 = 1000L * tf.max / words > 120
      val f5 = 1000L * tf.size / words < 300
      (f1, f2, f3, f4, f5)
    }
    val n = docs.length.toLong
    def cnt(f: ((Boolean, Boolean, Boolean, Boolean, Boolean)) => Boolean) =
      flags.count(f).toLong
    val expected = Map(
      "r1_word_count" -> cnt(_._1), "r2_mean_word_len" -> cnt(_._2),
      "r3_stopwords" -> cnt(_._3), "r4_top_token" -> cnt(_._4),
      "r5_ttr" -> cnt(_._5),
      "any_rule" -> cnt(f => f._1 || f._2 || f._3 || f._4 || f._5))
      .map { case (k, v) => k -> ((v, 1000000L * v / n)) }
    val got = q("pipe5_gopher_rules").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    val any = got("any_rule")._1
    got.foreach { case (rule, (nf, _)) =>
      assert(nf <= any, s"$rule $nf > any_rule $any")
    }
  }

  // ---- voc2 -------------------------------------------------------

  test("voc2: the per-lang fertility roll-up equals the registered " +
    "tok1 output aggregated by lang, and fertility is >= 1e6 (BPE " +
    "never merges across words)") {
    val langOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val t1 = q("tok1_bpe_apply").collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(3),
        r.getLong(2)))
    val expected = t1.groupBy(_._1).map { case (lang, xs) =>
      val ws = xs.map(_._2).sum
      val bpe = xs.map(_._3).sum
      val ch = xs.map(_._4).sum
      lang -> ((xs.length.toLong, ws, bpe,
        1000000L * bpe / ws, 1000000L * ch / bpe))
    }
    val got = q("voc2_fertility").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
    got.values.foreach { case (_, _, _, fert, _) =>
      assert(fert >= 1000000L)
    }
  }

  // ---- sm8 --------------------------------------------------------

  test("sm8: the class-balanced sample replays exactly (md5 order, " +
    "min-class k) and every lang keeps exactly k docs") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val k = docs.groupBy(_._2).values.map(_.size).min
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, xs) =>
      xs.sortBy { case (id, _) => (Fns.md5LongLocal(id.toString), id) }
        .take(k).zipWithIndex
        .map { case ((id, _), i) => (id, lang, (i + 1).toLong) }.toSeq
    }.toSet
    val got = q("sm8_class_balance").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expected)
    val perLang = got.groupBy(_._2).map { case (l, xs) => l -> xs.size }
    assert(perLang.values.forall(_ == k))
  }

  // ---- dq2 --------------------------------------------------------

  test("dq2: the completeness census replays exactly per column and " +
    "row counts agree with the tables") {
    val nDocs = Tables.documents(spark, sf).count()
    val nEv = Tables.events(spark, sf).count()
    val got = q("dq2_null_profile").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.size == 10) // 4 documents + 6 events columns
    got.foreach { case ((tbl, c), (rows, nNull, nBlank, ppm)) =>
      assert(rows == (if (tbl == "documents") nDocs else nEv),
        s"$tbl.$c row count")
      assert(ppm == 1000000L * (nNull + nBlank) / rows, s"$tbl.$c ppm")
    }
    // replay the two text-bearing columns' blank counts directly
    val blankText = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && length(trim(col("text"))) === 0)
      .count()
    assert(got(("documents", "text"))._3 == blankText)
    val nullProps = Tables.events(spark, sf)
      .filter(col("props").isNull).count()
    assert(got(("events", "props"))._2 == nullProps)
  }
}
