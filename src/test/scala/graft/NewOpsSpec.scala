package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the round-2 operator additions (sliding
  * windows, PII redaction, corpus n-grams, IVF ANN, geo binning) —
  * properties the DuckDB oracle can't state directly.
  */
class NewOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("j8: the salted join is observationally the plain join — salt " +
    "spreads rows across tasks without inventing or dropping matches") {
    val salted = q("j8_salted_join").collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(salted == plain)
  }

  test("lr1: batch GD descends ROUND BY ROUND on the convex " +
    "hard-sigmoid loss (squared error as the observable), and lrTrain " +
    "is exactly the fold of the exposed per-round update") {
    val (e, _) = operators.SimilarityOps.lrTrain(spark, sf)
    def se(w: Seq[Double]): Double = {
      val z = lit(w.head) +
        graft.functions.Fns.dotNative(col("emb"), typedlit(w.tail))
      val p = least(greatest(lit(0.25) * z + lit(0.5), lit(0.0)), lit(1.0))
      e.select(((p - col("y")) * (p - col("y"))).as("q"))
        .agg(sum(col("q"))).head().getDouble(0)
    }
    val w0 = operators.SimilarityOps.lrInit
    val w1 = operators.SimilarityOps.lrUpdate(e, w0)
    val w2 = operators.SimilarityOps.lrUpdate(e, w1)
    val (c0, c1, c2) = (se(w0), se(w1), se(w2))
    assert(c1 < c0, s"round 1 worsened: $c0 -> $c1")
    assert(c2 < c1, s"round 2 worsened: $c1 -> $c2")
    val (_, trained) = operators.SimilarityOps.lrTrain(spark, sf)
    assert(trained == w2)
  }

  test("lr1: scores are probabilities, the decision is the 0.5 " +
    "threshold on the PINNED 6-dp score, and the trained classifier " +
    "beats coin-flipping on its training set") {
    val r = q("lr1_logreg").cache()
    assert(r.filter(col("p") < 0 || col("p") > 1).count() == 0)
    assert(r.filter(
      (col("p") >= 0.5) =!= (col("yhat") === 1)).count() == 0)
    val acc = r.select((col("yhat") === col("y")).cast("int").as("c"))
      .agg(avg(col("c"))).head().getDouble(0)
    assert(acc > 0.5, s"training-set accuracy $acc")
    r.unpersist()
  }

  test("x14: Simpson concentration is sandwiched 1/n_uniq <= simpson " +
    "<= top_ratio (Cauchy-Schwarz below, modal mass above), and one " +
    "doc recomputed exactly in Scala matches the engine bit-for-bit") {
    val r = q("x14_char_stats").cache()
    assert(r.count() == Tables.documents(spark, sf).count())
    // 6-dp half-up rounding perturbs each side by < 1e-6
    assert(r.filter(col("simpson") > col("top_ratio") + 2e-6).count() == 0)
    assert(r.filter(col("simpson") * col("n_uniq") < 1.0 - 2e-6).count() == 0)
    assert(r.filter(col("top_ratio") <= 0 || col("top_ratio") > 1).count() == 0)
    val text = Tables.documents(spark, sf).filter(col("doc_id") === 7)
      .head().getAs[String]("text")
    val cnts = text.groupBy(identity).map(_._2.length.toLong).toSeq
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val len = cnts.sum.toDouble
    val row = r.filter(col("doc_id") === 7).head()
    assert(row.getAs[Long]("n_uniq") == cnts.size.toLong)
    assert(row.getAs[Double]("simpson") ==
      f6(cnts.map(c => c * c).sum.toDouble / (len * len)))
    assert(row.getAs[Double]("top_ratio") == f6(cnts.max.toDouble / len))
    r.unpersist()
  }

  test("sm7: the two-level distributed prefix sum IS the flat prefix " +
    "sum — full Scala recomputation matches row for row, grid-point " +
    "count is exact, and every doc longer than the step is kept") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val wTot = docs.map(_._2).sum
    val step = wTot / 100
    var cum = 0L
    val expected = docs.flatMap { case (id, w) =>
      cum += w
      val hits = cum / step - (cum - w) / step
      if (hits >= 1) Some((id, (w, cum, hits))) else None
    }.toMap
    val got = q("sm7_systematic_sample").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    assert(got.values.map(_._3).sum == wTot / step)
    val longDocs = docs.filter(_._2 >= step).map(_._1).toSet
    assert(longDocs.subsetOf(got.keySet))
  }

  test("gr1: integer PageRank recomputed exactly in Scala from the " +
    "edge list matches row for row, and every rank carries at least " +
    "the teleport floor") {
    val e = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey").as("sup")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("sup")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dc = e.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val ds = e.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val inS = e.groupBy(_._2).map { case (sup, es) =>
      sup -> es.map { case (c, _) => 1000000L / dc(c) }.sum }
    val rS = inS.map { case (sup, in) => sup -> (150000L + 85L * in / 100L) }
    val inC = e.groupBy(_._1).map { case (c, es) =>
      c -> es.map { case (_, sup) => rS(sup) / ds(sup) }.sum }
    val expected = inC.map { case (c, in) => c -> (150000L + 85L * in / 100L) }
    val got = q("gr1_pagerank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(got.values.forall(_ >= 150000L))
  }

  test("w5: every event lands in exactly width/slide = 2 windows") {
    val total = q("w5_sliding_window")
      .agg(sum(col("cnt"))).head().getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(total == 2 * events)
  }

  test("w5: window starts are 5-minute aligned") {
    val misaligned = q("w5_sliding_window")
      .filter(unix_seconds(col("win_start")) % 300 =!= 0).count()
    assert(misaligned == 0)
  }

  test("x6: planted PII is found and masked") {
    val r = q("x6_pii_redact").cache()
    val emailDocs = r.filter(col("doc_id") % 3 === 0)
    assert(emailDocs.filter(col("n_emails") < 1).count() == 0)
    assert(emailDocs.filter(!col("redacted").contains("<EMAIL>")).count() == 0)
    val phoneDocs = r.filter(col("doc_id") % 3 === 1)
    assert(phoneDocs.filter(col("n_phones") < 1).count() == 0)
    assert(phoneDocs.filter(!col("redacted").contains("<PHONE>")).count() == 0)
    // nothing PII-shaped survives redaction
    assert(r.filter(col("redacted").rlike("@example\\.com")).count() == 0)
    assert(r.filter(col("redacted").rlike("\\d{3}-\\d{3}-\\d{4}")).count() == 0)
    r.unpersist()
  }

  test("x7: exactly top-20, counts non-increasing under the tiebreak order") {
    val rows = q("x7_top_ngrams").collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getAs[Long]("cnt"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("s3: per-query neighbor lists are ranked 1..n with k <= 3") {
    val rows = q("s3_ann_ivf").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.length <= 3)
      assert(ranks.sameElements(1 to ranks.length))
    }
  }

  test("s5: per-query neighbor lists are ranked 1..3, no self-neighbor") {
    val rows = q("s5_ann_pq").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 3))
      assert(!rs.exists(_.getAs[Long]("nid") == qid))
    }
  }

  test("s5: reported cosines are EXACT — the PQ shortlist is approximate " +
    "but the re-rank touches full-precision vectors, so every cosine it " +
    "emits must reproduce from the raw embeddings bit-for-bit") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def exactCos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var k = 0
      while (k < a.length) {
        dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1
      }
      val prod = math.sqrt(na) * math.sqrt(nb)
      if (prod == 0.0) Double.NaN
      else math.floor(dot / prod * 1e6 + 0.5) / 1e6
    }
    q("s5_ann_pq").collect().foreach { r =>
      val want = exactCos(embs(r.getAs[Long]("qid")), embs(r.getAs[Long]("nid")))
      val got = r.getAs[Double]("cos")
      assert(got == want || (got.isNaN && want.isNaN),
        s"qid=${r.get(0)} nid=${r.get(1)}: engine $got vs exact $want")
    }
  }

  test("s5: the ADC shortlist finds real structure — PQ recall@3 vs the " +
    "exact scan beats the random-shortlist expectation by 4x+ (a random " +
    "10-of-499 shortlist would overlap s1's top-3 ~6% of the time; the " +
    "fixture measures 11/30 = 37%, the floor guards the property with " +
    "margin — near-random embeddings are PQ's worst case, structured " +
    "real-corpus embeddings quantize far better)") {
    val pq = q("s5_ann_pq").select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = q("s1_ann_brute").filter(col("rank") <= 3)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall@3 = $recall (${(pq & brute).size}/${brute.size})")
  }

  test("s3 probes its nprobe cells: neighbors are a subset of s1's " +
    "full scan space") {
    // IVF probing can lose recall but never invents a neighbor:
    // every (qid, nid) it returns must score identically in the exact
    // brute-force results when present there
    val ivf = q("s3_ann_ivf").select(col("qid"), col("nid"), col("cos"))
    val brute = q("s1_ann_brute")
      .select(col("qid").as("bqid"), col("nid").as("bnid"), col("cos").as("bcos"))
    val joined = ivf.join(brute,
      col("qid") === col("bqid") && col("nid") === col("bnid"))
    assert(joined.filter(col("cos") =!= col("bcos")).count() == 0)
  }

  test("geo1: cells stay inside the bounding box") {
    val r = q("geo1_bbox_bin").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val clat = row.getAs[Long]("cell_lat")
      val clon = row.getAs[Long]("cell_lon")
      assert(clat >= 125 && clat <= 145, s"cell_lat $clat")
      assert(clon >= 57 && clon <= 150, s"cell_lon $clon")
      assert(row.getAs[Long]("cnt") > 0)
    }
  }

  test("g9: summary-cost heavy hitters equal the exact full-groupBy " +
    "top-10 (candidate recall is total, second pass is exact)") {
    val got = q("g9_heavy_hitters").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact)
  }

  test("x13: the overlap matrix covers every unordered source pair " +
    "exactly once, and each row satisfies the set-algebra invariants") {
    val rows = q("x13_source_overlap").collect()
    val sources = Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    // C(n,2) rows — every pair reported once, src_a < src_b
    assert(rows.length == sources * (sources - 1) / 2)
    rows.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      val inter = r.getAs[Long]("inter")
      val j = r.getAs[Double]("jaccard")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(inter <= math.min(na, nb))
      assert(j >= 0.0 && j <= 1.0)
      // jaccard is derived from the three counts, not independent
      assert(math.abs(j - inter.toDouble / (na + nb - inter)) < 1e-6)
    }
  }

  test("km1: Lloyd training improves ROUND BY ROUND, and kmTrain is " +
    "exactly the fold of the exposed per-round update") {
    // The monotone-improvement law is what makes the 2-round trainer a
    // trainer and not an arbitrary relabeling; it holds for exact
    // Lloyd and must survive the portable round-9/quantized-average
    // plumbing.
    val (e, init) = operators.SimilarityOps.kmInit(spark, sf)
    val r1 = operators.SimilarityOps.kmUpdate(e, init)
    val r2 = operators.SimilarityOps.kmUpdate(e, r1)
    def cost(cents: Seq[(Int, Seq[Double])]): Double =
      operators.SimilarityOps.kmAssign(e, cents)
        .agg(sum(col("dist9"))).head().getDouble(0)
    val (c0, c1, c2) = (cost(init), cost(r1), cost(r2))
    assert(c1 <= c0, s"round 1 worsened: $c0 -> $c1")
    // near convergence the 6-dp centroid / 9-dp distance quantization
    // can perturb the exact-Lloyd minimizer by a rounding-sized step
    assert(c2 <= c1 + 1e-3, s"round 2 worsened: $c1 -> $c2")
    assert(c2 <= c0, s"training worsened overall: $c0 -> $c2")
    val (_, _, trained) = operators.SimilarityOps.kmTrain(spark, sf)
    assert(trained == r2)
  }

  test("km1: no cell is empty on the fixture, every vector is assigned " +
    "exactly once, and dist2 is non-negative") {
    val r = q("km1_kmeans").cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(r.count() == n)
    assert(r.select(col("vec_id")).distinct().count() == n)
    // the empty-cell keep-old fallback must stay dead code on the
    // fixture — the oracle can't express it, so if a cell empties the
    // gate comparison is no longer validating what it claims to
    assert(r.select(col("cell")).distinct().count() == 4)
    assert(r.filter(col("dist2") < 0).count() == 0)
    r.unpersist()
  }

  test("km1: the final assignment plan is join-free and exchange-free — " +
    "centroids ride as literals, so classification is scan-speed") {
    val phys = q("km1_kmeans").queryExecution.executedPlan
    val s = phys.toString
    assert(!s.contains("ShuffleExchange"), s)
    assert(!s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("g9: the exactness precondition holds on the fixture — the 10th-" +
    "ranked key's true count exceeds N/(cap+1), so MG recall of the " +
    "top-10 is guaranteed, not lucky") {
    // g9 is exact ONLY while every top-k key clears the MG retention
    // bound; an undersized cap degrades it to approximate silently.
    // Pin the precondition so a corpus/cap change fails loudly here
    // instead of shipping a wrong "exact" result.
    val n = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("k"))
      .agg(sum(col("k"))).collect()(0).getLong(0)
    val minTopK = q("g9_heavy_hitters").collect().map(_.getLong(1)).min
    val bound = n.toDouble / (operators.AnalyticsOps.MG_CAP + 1)
    assert(minTopK > bound,
      s"MG precondition violated: min top-10 count $minTopK <= N/(cap+1) " +
        s"= $bound — raise MG_CAP or g9's result may be inexact")
  }

  test("g9: the Misra-Gries bound holds in the adversarial order — a " +
    "key with frequency above N/(cap+1) survives decrement-alls") {
    // A×100 then 200 distinct singletons, cap 4: N=300, bound=60<100.
    // The heavy key arrives FIRST, so every later decrement-all hits it.
    val heavyFirst = Iterator.fill(100)("A") ++
      (1 to 200).iterator.map("s" + _)
    assert(operators.AnalyticsOps.misraGries(heavyFirst, cap = 4)
      .contains("A"))
    // interleaved worst case: singletons between every heavy arrival
    val interleaved = (1 to 100).iterator.flatMap(i =>
      Iterator("A", "t" + i, "u" + i)) ++ (1 to 100).iterator.map("v" + _)
    assert(operators.AnalyticsOps.misraGries(interleaved, cap = 4)
      .contains("A"))
    // and a key BELOW the bound can be evicted: all singletons, cap 1
    val allSingle = (1 to 50).iterator.map("w" + _)
    assert(operators.AnalyticsOps.misraGries(allSingle, cap = 1).size <= 1)
  }

  test("g9: MG recall bound holds on random streams in random order — " +
    "every key with freq > N/(cap+1) survives") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val streamGen = for {
      cap <- Gen.chooseNum(2, 16)
      nHeavy <- Gen.chooseNum(1, 3)
      heavyFreq <- Gen.chooseNum(50, 200)
      nNoise <- Gen.chooseNum(0, 300)
      seed <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (cap, nHeavy, heavyFreq, nNoise, seed)
    val prop = Prop.forAll(streamGen) {
      case (cap, nHeavy, heavyFreq, nNoise, seed) =>
        val heavy = (1 to nHeavy).map("H" + _)
        val stream = new scala.util.Random(seed).shuffle(
          heavy.flatMap(h => Seq.fill(heavyFreq)(h)) ++
            (1 to nNoise).map("n" + _))
        val n = stream.length
        val survivors = operators.AnalyticsOps
          .misraGries(stream.iterator, cap).toSet
        // only heavy keys ABOVE the bound are guaranteed
        heavy.forall(h => heavyFreq <= n / (cap + 1) || survivors(h))
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(r.passed, r.toString)
  }

  test("pipe3: data card reconciles with the corpus, x3's tokens, " +
    "and d1's duplicate census") {
    val card = q("pipe3_data_card").collect()
    val docs = Tables.documents(spark, sf)
    assert(card.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val x3Tokens = q("x3_token_count")
      .agg(sum(col("ws_tokens"))).head().getLong(0)
    assert(card.map(_.getAs[Long]("total_tokens")).sum == x3Tokens)
    // docs whose whole-text fingerprint repeats, straight off the corpus
    val dupDocs = docs.select(md5(col("text")).as("fp"))
      .groupBy(col("fp")).count().filter(col("count") > 1)
      .agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0)
    val cardDups = card.map(r =>
      math.round(r.getAs[Double]("dup_rate") * r.getAs[Long]("n_docs"))).sum
    assert(cardDups == dupDocs, s"card=$cardDups corpus=$dupDocs")
    for (r <- card) {
      val nLangs = r.getAs[Long]("n_langs")
      assert(r.getAs[Double]("top_lang_share") >= 1.0 / nLangs - 1e-6)
      val mq = r.getAs[Double]("mean_quality")
      assert(mq > 0.0 && mq <= 1.0, s"quality $mq")
    }
  }

  test("sm6: whole epochs are exact corpus copies, the fractional " +
    "tail is a gated subset, epochs are contiguous") {
    val ns = Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = q("sm6_temperature_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(bySource.keySet == ns.keySet) // every source survives
    for ((src, rows) <- bySource) {
      val byEpoch = rows.sortBy(_._2)
      // epochs are 1..max with no holes
      assert(byEpoch.map(_._2).toSeq == (1L to byEpoch.length).toSeq, src)
      // every epoch before the last is the WHOLE corpus slice; the
      // last is the hash-gated fractional tail (a subset, never more)
      byEpoch.init.foreach { case (_, e, cnt) =>
        assert(cnt == ns(src), s"$src epoch $e")
      }
      assert(byEpoch.last._3 <= ns(src), src)
      // counts never increase with epoch
      assert(byEpoch.map(_._3).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      }, src)
    }
  }

  test("sm6: per-source kept mass tracks q*sqrt(n) mixture targets") {
    val ns = Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def quality(s: String) = s match {
      case "src0" | "src1" | "src2" => 6.0
      case "src3" | "src4" | "src5" | "src6" | "src7" | "src8" |
           "src9" => 2.0
      case _ => 1.0
    }
    val sumw = ns.map { case (s, n) => quality(s) * math.sqrt(n.toDouble) }.sum
    val bigN = ns.values.sum.toDouble
    val kept = q("sm6_temperature_mix")
      .groupBy(col("source")).agg(sum(col("cnt")).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- ns) {
      val rep = quality(src) * math.sqrt(n.toDouble) / sumw * bigN / n
      val expect = rep * n
      // fractional part realizes as Binomial(n, frac): allow ~4 sigma
      val slack = 4.0 * math.sqrt(n.toDouble) * 0.5 + 1
      assert(math.abs(kept(src) - expect) <= slack,
        s"$src kept=${kept(src)} expect=$expect")
    }
  }

  test("sm1: hash sampling is deterministic (two runs, identical rows)") {
    val a = q("sm1_stratified_sample").collect().map(_.toString).sorted
    val b = q("sm1_stratified_sample").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("sm1: per-stratum rates land near their targets") {
    val kept = q("sm1_stratified_sample")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(t: String) = kept.getOrElse(t, 0L).toDouble / totals(t)
    // uniform hash ⇒ binomial concentration; wide tolerances for sf0.001
    assert(rate("click") < 0.15, s"click ${rate("click")}")
    assert(rate("view") < 0.25, s"view ${rate("view")}")
    assert(rate("purchase") > 0.3, s"purchase ${rate("purchase")}")
  }

  test("sm2: splits are exhaustive and disjoint (counts sum to the corpus)") {
    val total = q("sm2_split_assign")
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
    val splits = q("sm2_split_assign").select(col("split")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("x8: contaminated test docs actually share a shingle with train") {
    // re-derive membership: every reported doc must be in the test split
    val reported = q("x8_contamination").cache()
    val testSplit = Tables.documents(spark, sf)
      .filter(graft.functions.Fns.md5Long(col("doc_id")) % 100 >= 90)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val bad = reported.collect().filterNot(r => testSplit(r.getLong(0)))
    assert(bad.isEmpty, bad.mkString(","))
    assert(reported.filter(col("n_contaminated") < 1).count() == 0)
    reported.unpersist()
  }

  test("x9: repetition ratio is in [0,1] and null only for <2-token docs") {
    val r = q("x9_repetition").cache()
    assert(r.filter(col("rep_ratio") < 0 || col("rep_ratio") > 1).count() == 0)
    assert(r.filter(col("rep_ratio").isNull && col("n_bigrams") > 0).count() == 0)
    r.unpersist()
  }

  test("d7 hybrid: driverMaxEdges forced under the corpus makes the " +
    "distributed min-label fallback EXECUTE and equal the driver " +
    "union-find (the 100 TB branch can't rot — VERDICT r16 #4)") {
    val fast = operators.DedupOps.d7Components(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driverMaxEdges = -1 forces the distributed loop on the same data
    val distributed = operators.DedupOps.d7Components(spark, sf, driverMaxEdges = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == distributed)
    assert(fast.nonEmpty)
  }

  test("m4 upsert: delta rows win, untouched rows survive, no key lost") {
    val docs = Tables.documents(spark, sf).count()
    val r = q("m4_upsert_latest").cache()
    assert(r.count() == docs) // exactly one row per key
    assert(r.filter(col("doc_id") % 10 === 0 && col("version") =!= 2).count() == 0)
    assert(r.filter(col("doc_id") % 10 =!= 0 && col("version") =!= 1).count() == 0)
    r.unpersist()
  }

  test("g7: sketch quartiles honor the declared RANK-error bound " +
    "(accuracy bounds rank, not value — a value bound would be " +
    "distribution-dependent and spuriously fail on skewed data), " +
    "and the query's verdict output agrees") {
    // the oracle-facing contract (r11): exact quartiles + verdict = 1
    val g7row = q("g7_approx_quantiles").head()
    assert(g7row.getLong(g7row.fieldIndex("within_bound")) == 1L)
    // the raw-estimate rank law, on the sketch values themselves
    val approx = Tables.orders(spark, sf)
      .agg(approx_percentile(col("o_totalprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)))
      .head().getSeq[Double](0)
    val prices = Tables.orders(spark, sf).select(col("o_totalprice")).cache()
    val n = prices.count()
    // accuracy=10000 in g7 => rank error <= n/accuracy (+1 for ties)
    val eps = n.toDouble / 10000 + 1
    Seq(0.25, 0.5, 0.75).zip(approx).foreach { case (p, a) =>
      val below = prices.filter(col("o_totalprice") < a).count()
      val atOrBelow = prices.filter(col("o_totalprice") <= a).count()
      val target = p * n
      // the returned value's rank interval must reach within eps of
      // the target rank
      assert(below - eps <= target && target <= atOrBelow + eps,
        s"p=$p approx=$a rankRange=[$below,$atOrBelow] target=$target n=$n")
    }
    prices.unpersist()
  }

  test("SQL-first entry: registered views + registered functions " +
    "reproduce the DataFrame surface") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql("""
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")
      .collect().map(_.toString).sorted
    val viaDf = q("a2_group_count").collect().map(_.toString).sorted
    assert(viaSql.sameElements(viaDf))
    // engine functions are callable from SQL over the views
    val cleaned = spark.sql(
      "SELECT format_phone('306-555-1234') AS p FROM region LIMIT 1")
      .head().getString(0)
    assert(cleaned == "+1-360-555-1234")
  }

  test("format_phone is SQL-registered via the extensions") {
    assert(spark.sql("SELECT format_phone('306-555-1234') AS p").head().getString(0)
      == "+1-360-555-1234")
    // the input type and the arity are checked at analysis, before a row runs
    intercept[org.apache.spark.sql.AnalysisException](spark.sql("SELECT format_phone(array(1))"))
    val arity = intercept[Exception](spark.sql("SELECT format_phone('1', '2')"))
    assert(Iterator.iterate[Throwable](arity)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("format_phone requires exactly 1")),
      arity.toString)
  }

  // ----- round-3 additions -----

  test("w6: the last running row per user equals the user's totals") {
    val r = q("w6_running_total").cache()
    val last = r.groupBy(col("user_id"))
      .agg(max(col("running_n")).as("n"))
    val expected = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(last.exceptAll(expected).count() == 0 &&
      expected.exceptAll(last).count() == 0)
    // running_n is dense 1..n per user: as many rows as the max
    val bad = r.groupBy(col("user_id"))
      .agg(count(lit(1)).as("rows"), max(col("running_n")).as("mx"),
        countDistinct(col("running_n")).as("dn"))
      .filter(col("rows") =!= col("mx") || col("dn") =!= col("rows"))
    assert(bad.count() == 0)
    r.unpersist()
  }

  test("m5: SCD2 intervals chain per user — one open current row, " +
    "each closed interval ends where the next begins") {
    val r = q("m5_scd2_intervals").cache()
    assert(r.count() == Tables.events(spark, sf).count())
    val currents = r.groupBy(col("user_id"))
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1)
    assert(currents.count() == 0)
    // closed intervals are well-formed ([from, to) with from <= to;
    // equal-timestamp events produce zero-width intervals, not overlap)
    assert(r.filter(!col("is_current") &&
      col("valid_from") > col("valid_to")).count() == 0)
    r.unpersist()
  }

  test("g8: both grouping sets are present and each re-totals the table") {
    val r = q("g8_grouping_sets").cache()
    val total = Tables.lineitem(spark, sf).count()
    assert(r.select(col("gid")).distinct().collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
    Seq(1L, 2L).foreach { g =>
      assert(r.filter(col("gid") === g).agg(sum(col("cnt"))).head().getLong(0)
        == total)
    }
    // set 1 groups by flag (status aggregated away -> null), set 2 the reverse
    assert(r.filter(col("gid") === 1 && col("l_linestatus").isNotNull).count() == 0)
    assert(r.filter(col("gid") === 2 && col("l_returnflag").isNotNull).count() == 0)
    r.unpersist()
  }

  test("sm4: per-source cap keeps min(15, group size), ranks dense") {
    val r = q("sm4_group_cap")
    val kept = r.groupBy(col("source")).agg(count(lit(1)).as("kept"),
      max(col("rn")).as("mxrn"))
    val sizes = Tables.documents(spark, sf).groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val bad = kept.join(sizes, Seq("source"))
      .filter(col("kept") =!= least(lit(15), col("n")) ||
        col("mxrn") =!= col("kept"))
    assert(bad.count() == 0)
  }

  test("x10: top-3 terms match an independent driver-side tf-idf " +
    "recomputation (lockstep)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(row => (row.getLong(0), row.getString(1).split(" ").toSeq))
    val n = docs.length.toLong
    val dfm = docs.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    val expected = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).toSeq
        .map { case (t, xs) => (t, (xs.length * n).toDouble / dfm(t)) }
        .sortBy { case (t, wt) => (-wt, t) }
        .take(3).zipWithIndex
        .map { case ((t, wt), i) => (id, t, wt, i + 1) }
    }.toSet
    val got = q("x10_tfidf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expected)
  }

  test("u8: positional explode indexes are dense 0..n-1 per doc and " +
    "row-count-equal to the plain explode") {
    val r = q("u8_posexplode").cache()
    assert(r.count() == q("u1_explode").count())
    val bad = r.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("idx")).as("mx"),
        countDistinct(col("idx")).as("dn"))
      .filter(col("mx") =!= col("n") - 1 || col("dn") =!= col("n"))
    assert(bad.count() == 0)
    r.unpersist()
  }

  test("s4: restricted to s2's query set, the knn self-join emits " +
    "exactly s2's neighbor lists (lockstep)") {
    val s4 = q("s4_knn_join").filter(col("qid") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val s2 = q("s2_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(s4 == s2)
    assert(s4.nonEmpty)
  }

  test("j7: bloom pre-join equals the exact semi-join, and the bloom " +
    "actually prunes") {
    val exact = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_totalprice") > 300000)
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val got = q("j7_bloom_prejoin")
    assert(got.exceptAll(exact).count() == 0 &&
      exact.exceptAll(got).count() == 0)
    assert(got.count() > 0)
    // the sketch rejects keys outside the dimension set (1% fpp):
    // pre-filter keeps well under the full fact table
    val bigKeys = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 300000).count()
    val allKeys = Tables.orders(spark, sf).count()
    assert(bigKeys < allKeys / 2) // the prune has something to do
  }

  test("r3: grid-binned overlap join matches a naive per-user " +
    "non-equi self-join (lockstep), each pair exactly once") {
    val C = 300000000L
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + C)
    val a = e.select(col("user_id"), col("event_id").as("a_id"),
      col("st").as("a_st"), col("en").as("a_en"))
    val b = e.select(col("user_id").as("u2"), col("event_id").as("b_id"),
      col("st").as("b_st"), col("en").as("b_en"))
    val naive = a.join(b, col("user_id") === col("u2") &&
        col("a_id") < col("b_id") &&
        col("a_st") <= col("b_en") && col("b_st") <= col("a_en"))
      .select(col("user_id"), col("a_id"), col("b_id"))
    val got = q("r3_interval_overlap").cache()
    assert(got.count() == got.distinct().count()) // no double-claimed pair
    assert(got.exceptAll(naive).count() == 0 &&
      naive.exceptAll(got).count() == 0)
    assert(got.count() > 0)
    got.unpersist()
  }

  test("r3: the decomposition is exact for ANY interval/cell ratio — " +
    "intervals spanning 4+ cells and intervals inside one coarse cell " +
    "both match the naive join (no pair lost across cell boundaries, " +
    "none double-claimed)") {
    val C = 300000000L
    def naive(intervalUs: Long) = {
      val e = Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + intervalUs)
      val a = e.select(col("user_id"), col("event_id").as("a_id"),
        col("st").as("a_st"), col("en").as("a_en"))
      val b = e.select(col("user_id").as("u2"), col("event_id").as("b_id"),
        col("st").as("b_st"), col("en").as("b_en"))
      a.join(b, col("user_id") === col("u2") && col("a_id") < col("b_id") &&
          col("a_st") <= col("b_en") && col("b_st") <= col("a_en"))
        .select(col("user_id"), col("a_id"), col("b_id"))
    }
    // fine grid: each interval covers 4-5 cells (and a non-dividing
    // width, so spans straddle boundaries unevenly)
    for (cell <- Seq(C / 4, 70000000L, 3 * C)) {
      val got = graft.operators.RangeOps
        .r3Binned(spark, sf, intervalUs = C, cellUs = cell).cache()
      val want = naive(C)
      assert(got.count() == got.distinct().count(), s"cell=$cell double-claim")
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0, s"cell=$cell mismatch")
      assert(got.count() > 0)
      got.unpersist()
    }
  }

  test("r3: the autotuned cell width lands at the shuffle/pairwork " +
    "balance point and inside its clamps — sparse fixture events get " +
    "a coarser-than-interval cell (fewer bin rows), never a finer one") {
    val I = 300000000L
    val c = graft.operators.RangeOps.r3AutoCell(spark, sf, I)
    assert(c >= I / 4 && c <= I * 4096L, s"cell $c outside clamps")
    // the fixture is ~tens of events per user per month — far sparser
    // than one interval per 5 minutes — so C* = sqrt(I/rho) must be
    // coarser than the interval itself
    assert(c > I, s"sparse stream autotuned to $c <= interval $I")
    // deterministic: the stats (count/min/max/HLL) are exact or
    // seed-free sketches, so the derived plan is stable run to run
    assert(c == graft.operators.RangeOps.r3AutoCell(spark, sf, I))
  }

  test("pk1: sequence packing — offsets are the exclusive running " +
    "token sums in deterministic shuffle order per shard, pack " +
    "offsets stay inside the budget, and boundary flags are exact") {
    val B = 2048L
    val r = q("pk1_sequence_pack").cache()
    assert(r.filter(col("pack_off") < 0 || col("pack_off") >= B).count() == 0)
    assert(r.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    val rows = r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3), x.getLong(4), x.getBoolean(5)))
    assert(rows.nonEmpty)
    // replay the packing locally: per shard, exclusive prefix sum in
    // (md5(doc_id), doc_id) order must reproduce every column
    rows.groupBy(_._1).foreach { case (_, rs) =>
      var off = 0L
      rs.sortBy { case (_, id, _, _, _, _) =>
        (graft.functions.Fns.md5LongLocal(id.toString), id)
      }.foreach { case (_, id, nTok, packId, packOff, crosses) =>
        assert(packId == off / B, s"doc $id pack_id")
        assert(packOff == off % B, s"doc $id pack_off")
        assert(crosses == ((off + nTok - 1) / B != off / B), s"doc $id flag")
        off += nTok
      }
    }
    // every document of the corpus is packed exactly once
    assert(r.count() == Tables.documents(spark, sf).count())
    r.unpersist()
  }

  test("ck1: chunk manifest covers every document exactly — " +
    "ceil-count of windows per doc, stride-aligned offsets, full " +
    "chunks everywhere the document allows, short tail only") {
    val (chunk, stride) = (64L, 48L)
    val r = q("ck1_chunk_overlap").cache()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    // per-doc chunk count is floor((n-1)/stride)+1 — every token offset
    // 0..n-1 is inside at least one window, none past the end
    val counts = r.groupBy(col("doc_id")).agg(
      count(lit(1)).as("got"), max(col("start_tok")).as("max_start"))
    val joined = counts.join(docs, Seq("doc_id")).cache()
    assert(joined.filter(col("got") =!=
      expr(s"(n - 1) div $stride") + 1).count() == 0)
    assert(joined.filter(col("max_start") >= col("n")).count() == 0)
    assert(joined.count() == docs.count())
    // offsets are stride-aligned and indexed consecutively
    assert(r.filter(col("start_tok") % stride =!= 0).count() == 0)
    assert(r.filter(col("chunk_idx") * stride =!= col("start_tok")).count() == 0)
    // every chunk holds exactly min(chunk, n - start) tokens — full
    // windows everywhere, a short (never empty) final window only
    val sized = r.join(docs, Seq("doc_id"))
    assert(sized.filter(col("n_tok") =!=
      least(lit(chunk), col("n") - col("start_tok"))).count() == 0)
    assert(r.filter(col("n_tok") < 1).count() == 0)
    joined.unpersist(); r.unpersist()
  }

  test("pipe2: composed pretraining path — its chunks are EXACTLY " +
    "ck1's manifest over the gated+deduped doc set, and per-shard " +
    "pack offsets replay as the exclusive running token sum") {
    val r = q("pipe2_chunk_pack").cache()
    // composition law: derive the surviving doc set independently
    // (gate rule + min-doc_id-per-fingerprint, d1's semantics)
    val keep = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")).between(5, 1000))
      .withColumn("fp", graft.functions.Fns.md5Long(lower(trim(col("text")))))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val expected = q("ck1_chunk_overlap")
      .join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"))
    val got = r.select(col("doc_id"), col("chunk_idx"), col("n_tok"))
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
    // pack replay law (pk1's, keyed on (doc_id, chunk_idx))
    val B = 2048L
    val rows = r.collect().map(x => (x.getLong(0), x.getLong(1),
      x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      var off = 0L
      rs.sortBy { case (_, id, ci, _, _, _) =>
        (graft.functions.Fns.md5LongLocal(s"$id:$ci"), id, ci)
      }.foreach { case (_, id, ci, nTok, packId, packOff) =>
        assert(packId == off / B, s"chunk $id:$ci pack_id")
        assert(packOff == off % B, s"chunk $id:$ci pack_off")
        off += nTok
      }
    }
    r.unpersist()
  }

  test("x12: every doc with >=2 tokens is scored, its bigram total is " +
    "exactly tokens-1, and the rare fraction is a true ratio") {
    val r = q("x12_bigram_lm").cache()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    assert(r.count() == docs.filter(col("n") >= 2).count())
    assert(r.join(docs, Seq("doc_id"))
      .filter(col("n_bigrams") =!= col("n") - 1).count() == 0)
    assert(r.filter(col("n_rare") < 0 ||
      col("n_rare") > col("n_bigrams")).count() == 0)
    assert(r.filter(col("rare_ratio") < 0.0 ||
      col("rare_ratio") > 1.0).count() == 0)
    r.unpersist()
  }

  test("x12: rare verdicts lockstep with a full driver-side bigram-" +
    "model recomputation — counts, marginals and the B*K < U test") {
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val b = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val u = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { case (_, t) =>
      val tok = t.split(" ", -1)
      (0 until tok.length - 1).foreach { i =>
        b(tok(i) + " " + tok(i + 1)) += 1; u(tok(i)) += 1
      }
    }
    val expected = texts.flatMap { case (id, t) =>
      val tok = t.split(" ", -1)
      if (tok.length < 2) None
      else {
        val n = tok.length - 1
        val nr = (0 until n)
          .count(i => b(tok(i) + " " + tok(i + 1)) * 50L < u(tok(i)))
        Some(id -> ((n.toLong, nr.toLong)))
      }
    }.toMap
    val got = q("x12_bigram_lm").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_rare")))).toMap
    assert(got == expected)
    // the threshold is non-vacuous on this corpus: both verdicts occur
    assert(got.values.exists(_._2 > 0) && got.values.exists(v => v._2 < v._1))
  }

  test("m6: CDC apply — deletes gone, updates win, inserts present, " +
    "untouched rows at v1") {
    val r = q("m6_cdc_apply").cache()
    val docs = Tables.documents(spark, sf).cache()
    // insert keys are negative (-id-1), provably outside the base key
    // space (doc_id >= 0) at ANY corpus size — so base keys are
    // exactly the non-negative ones
    assert(docs.filter(col("doc_id") < 0).count() == 0)
    // deleted keys absent (delete beats the v2 update on %30 keys)
    assert(r.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") >= 0).count() == 0)
    // surviving %3 keys carry the v2 uppercase text
    assert(r.filter(col("doc_id") % 3 === 0 && col("doc_id") >= 0 &&
      col("version") =!= 2).count() == 0)
    // inserts present with their synthetic text
    val nIns = docs.filter(col("doc_id") % 50 === 0).count()
    assert(r.filter(col("doc_id") < 0).count() == nIns)
    // everything else untouched at version 1
    assert(r.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 =!= 0 &&
      col("doc_id") >= 0 && col("version") =!= 1).count() == 0)
    docs.unpersist(); r.unpersist()
  }

  test("w7: per-customer quartiles are balanced (sizes differ by <=1, " +
    "larger tiles first) and ordered by spend") {
    val r = q("w7_ntile").cache()
    val sizes = r.groupBy(col("o_custkey"), col("spend_quartile"))
      .agg(count(lit(1)).as("n"))
    val bad = sizes.groupBy(col("o_custkey"))
      .agg(max(col("n")).as("mx"), min(col("n")).as("mn"))
      .filter(col("mx") - col("mn") > 1)
    assert(bad.count() == 0)
    // within a customer, a lower quartile never holds a higher price
    val joined = r.join(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")), Seq("o_orderkey"))
    val aw = joined.groupBy(col("o_custkey"), col("spend_quartile"))
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    val cross = aw.as("x").join(aw.as("y"),
      col("x.o_custkey") === col("y.o_custkey") &&
        col("x.spend_quartile") < col("y.spend_quartile") &&
        col("x.hi") > col("y.lo"))
    assert(cross.count() == 0)
    r.unpersist()
  }

  test("d8: semantic-dedup components are consistent with the edge " +
    "set — edge endpoints share a component, labels are component minima") {
    val r = q("d8_semantic_dedup").cache()
    assert(r.count() == Tables.embeddings(spark, sf).count())
    // the SAME edge producer d8 clusters (threshold + NaN exclusion
    // included) — an independently hardcoded re-derivation would let
    // the two silently drift
    val edges = operators.DedupOps.d8Edges(spark, sf).cache()
    val lbl = r.select(col("vec_id"), col("comp"))
    // both endpoints of every edge carry the same label
    val viol = edges
      .join(lbl.withColumnRenamed("vec_id", "i").withColumnRenamed("comp", "ca"), Seq("i"))
      .join(lbl.withColumnRenamed("vec_id", "j").withColumnRenamed("comp", "cb"), Seq("j"))
      .filter(col("ca") =!= col("cb"))
    assert(viol.count() == 0)
    // the label IS the component minimum, and is_dup marks non-minima
    val badMin = r.groupBy(col("comp")).agg(min(col("vec_id")).as("mn"))
      .filter(col("comp") =!= col("mn"))
    assert(badMin.count() == 0)
    assert(r.filter(col("is_dup") === (col("vec_id") === col("comp"))).count() == 0)
    // the graph is non-trivial at this sf: some real cluster exists
    assert(r.filter(col("is_dup")).count() > 0)
    edges.unpersist(); r.unpersist()
  }

  test("sm5: global sample is exactly K, deterministic, and equals " +
    "the driver-side hash-order recomputation") {
    val got = q("sm5_global_sample").collect().map(_.getLong(0)).toSeq
    assert(got.length == 100)
    assert(got == q("sm5_global_sample").collect().map(_.getLong(0)).toSeq)
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.Fns.md5Long(col("doc_id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, h) => (h, id) }.take(100).map(_._1).toSeq
    assert(got.sorted == expected.sorted)
  }

  test("geo2: z-order locality — bbox rows concentrate in a small " +
    "minority of z-buckets (the file-pruning property), and the code " +
    "is a true interleave (distinct cells -> distinct codes)") {
    val r = q("geo2_zorder").cache()
    val total = r.count()
    val touched = r.filter(col("bbox_cnt") > 0).count()
    assert(touched > 0)
    // bbox covers ~3% of cells; 8x8-block alignment inflates that to
    // at most ~¼ of buckets even at the tiny sf's sparse occupancy
    assert(touched.toDouble / total < 0.25,
      s"bbox touched $touched of $total z-buckets")
    // interleave injectivity over the realized domain: bucket count
    // must equal the number of distinct occupied 8x8 cell blocks
    val blocks = Tables.orders(spark, sf)
      .select(expr("((o_orderkey % 1700) DIV 10) DIV 8").as("ba"),
        expr("(((o_orderkey % 3600) DIV 10) DIV 2) DIV 8").as("bb"))
      .distinct().count()
    assert(total == blocks, s"$total z-buckets vs $blocks cell blocks")
    r.unpersist()
  }

  test("pipe1: curation pipeline laws — no dup fingerprints survive, " +
    "split rule matches sm2, caps hold, gate bounds hold") {
    val r = q("pipe1_curation").cache()
    val docs = Tables.documents(spark, sf)
    val joined = r.join(docs, Seq("doc_id")).cache()
    // every surviving doc passes the quality gate
    assert(joined.filter(!size(split(col("text"), " ")).between(5, 1000))
      .count() == 0)
    // no two survivors share a content fingerprint
    val fps = joined.select(
      graft.functions.Fns.md5Long(lower(trim(col("text")))).as("fp"))
    assert(fps.count() == fps.distinct().count())
    // the split column is exactly sm2's rule
    val h = graft.functions.Fns.md5Long(col("doc_id"))
    val expectedSplit = when(h % 100 < 80, "train")
      .when(h % 100 < 90, "val").otherwise("test")
    assert(r.join(docs.select(col("doc_id"), expectedSplit.as("es")), Seq("doc_id"))
      .filter(col("split") =!= col("es")).count() == 0)
    // the cap holds per (source, split) with dense ranks
    val bad = r.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"), max(col("rn")).as("mx"))
      .filter(col("n") > 40 || col("mx") =!= col("n"))
    assert(bad.count() == 0)
    assert(r.count() > 0)
    joined.unpersist(); r.unpersist()
  }

  test("mm3: chunk count is ceil(duration/1s), bounds tile the duration") {
    val r = q("mm3_audio_chunk").cache()
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      ((col("doc_id") % 2500) + 500).cast("int").as("dur"))
    val perDoc = r.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), max(col("end_ms")).as("last_end"))
      .join(docs, Seq("doc_id"))
      .filter(col("n_chunks") =!= ceil(col("dur") / 1000.0).cast("long") ||
        col("last_end") =!= col("dur"))
    assert(perDoc.count() == 0)
    // every chunk starts on its grid point and never exceeds 1s
    assert(r.filter(col("start_ms") =!= col("chunk_idx") * 1000).count() == 0)
    assert(r.filter(col("end_ms") - col("start_ms") > 1000 ||
      col("end_ms") <= col("start_ms")).count() == 0)
    r.unpersist()
  }

  test("d2: broadcastMaxDocs pinned to 0 makes the shuffle-join " +
    "verification fallback EXECUTE and stay row-identical to the " +
    "broadcast path (the 100 TB branch can't rot — VERDICT r16 #4)") {
    import graft.operators.DedupOps
    // threshold 0 forces the shuffle-join fallback; MaxValue forces the
    // broadcast map — same candidates, same kernel, same rows
    val shuffled = DedupOps.computeD2Pairs(spark, sf, 0L).cache()
    val broadcasted = DedupOps.computeD2Pairs(spark, sf, Long.MaxValue).cache()
    assert(shuffled.count() > 0)
    assert(shuffled.exceptAll(broadcasted).count() == 0 &&
      broadcasted.exceptAll(shuffled).count() == 0)
    shuffled.unpersist(); broadcasted.unpersist()
  }

  test("d5: past the broadcast gate the call degrades to the bucketed " +
    "plan — routed to bucketEdges exactly, and never invents a pair") {
    import graft.operators.{DedupOps, SimilarityOps}
    val exact = DedupOps.d5Pairs(spark, sf, Long.MaxValue).cache()
    val gated = DedupOps.d5Pairs(spark, sf, 0L).cache()
    val bucketed = SimilarityOps
      .bucketEdges(spark, sf, DedupOps.D5_THRESH)
      .select(col("i"), col("j"), col("cos"))
    // the gate routes to the LSH-bucketed plan, bit-for-bit
    assert(gated.exceptAll(bucketed).count() == 0 &&
      bucketed.exceptAll(gated).count() == 0)
    // recall <= 1 by design (bucket collisions only): a subset of the
    // exact pair set, same rounded cosines — never an invented pair.
    // (At this sf the 0.45-similar pairs never collide in a 6-bit
    // bucket, so the subset is empty — the d8 family tests the
    // non-empty bucketed regime at its 0.3 threshold.)
    assert(gated.count() <= exact.count())
    assert(gated.exceptAll(exact).count() == 0)
    exact.unpersist(); gated.unpersist()
  }

  test("w8: global quartiles are present 0-3, near-balanced, and " +
    "ordered by spend (bin i's max price <= bin i+1's min)") {
    val r = q("w8_global_bin").cache()
    val n = r.count()
    assert(r.select(col("spend_quartile")).distinct().count() == 4)
    val sizes = r.groupBy(col("spend_quartile")).agg(count(lit(1)).as("cnt"))
    // exact quartile cut-points: each bin within ±2% of n/4 (ties on
    // the cut value can nudge membership slightly)
    assert(sizes.filter(abs(col("cnt") - n / 4.0) > n * 0.02).count() == 0)
    val priced = r.join(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")), Seq("o_orderkey"))
    val bounds = priced.groupBy(col("spend_quartile"))
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    val inverted = bounds.as("x").join(bounds.as("y"),
      col("x.spend_quartile") < col("y.spend_quartile") &&
        col("x.hi") > col("y.lo"))
    assert(inverted.count() == 0)
    r.unpersist()
  }

  test("x11: raw-ratio idf induces the same ranking as true log-idf " +
    "BM25 (monotonicity claim verified on data), and every retrieved " +
    "doc contains a query term") {
    val qTerms = Set("hash", "join", "merge")
    val top = q("x11_bm25").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 10)
    // scores strictly ordered (desc) modulo the doc_id tie-break
    assert(top.sliding(2).forall { case Array((i, a), (j, b)) =>
      a > b || (a == b && i < j) }, top.mkString(","))
    // independent driver-side BM25 with TRUE log idf over the corpus:
    // the top-10 SET must coincide (log is monotone in the raw ratio,
    // so rank flips would mean the claim in the scaladoc is wrong)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / n
    val df = qTerms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    def bm25(tk: Seq[String]): Double = qTerms.toSeq.map { t =>
      val tf = tk.count(_ == t).toDouble
      if (tf == 0 || df(t) == 0) 0.0
      else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1) * // Lucene form
        tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * tk.length / avgdl))
    }.sum
    val expected = docs.map { case (id, tk) => (id, bm25(tk)) }
      .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1).toSet
    assert(top.map(_._1).toSet == expected,
      s"engine=${top.map(_._1).toSet} logidf=$expected")
    // relevance: every retrieved doc actually contains a query term
    val hits = docs.toMap
    assert(top.forall { case (id, _) => hits(id).exists(qTerms) })
  }

  test("d10: planted fixture exercises all three verdicts — exact " +
    "fingerprint hit, near-dup via directional banding, and keep; " +
    "reference-side duplicates never appear in the output") {
    import graft.functions.Fns.md5LongLocal
    // md5LongLocal is a 60-bit value, so % stays non-negative — the
    // same arithmetic the engine's split expression evaluates
    def bucket(id: Long): Long = md5LongLocal(id.toString) % 100
    val incoming = (0L until 400L).filter(bucket(_) >= 80)
    val reference = (0L until 400L).filter(bucket(_) < 80)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = Seq(
      (incoming(0), base),                      // exact dup of reference(0)
      (reference(0), base),
      (incoming(1), base + " phi"),             // near dup of reference(1)
      (reference(1), base + " chi"),
      (incoming(2), "totally different words about completely other things " +
        "nothing shared here at all not one bigram in common truly"),
      (reference(2), "unrelated reference corpus filler document"),
      (reference(3), "duplicate only inside the reference side"),
      (reference(4), "duplicate only inside the reference side"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d10").toString
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val verdicts = SparkEntry.queries("d10_incremental_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(verdicts(incoming(0)) == "exact", verdicts)
    assert(verdicts(incoming(1)) == "near", verdicts)
    assert(verdicts(incoming(2)) == "keep", verdicts)
    // only incoming docs are verdicted; the reference-side dup pair
    // (never a candidate in the directional join) is absent entirely
    assert(verdicts.keySet == Set(incoming(0), incoming(1), incoming(2)))
  }

  test("d10/d2 consistency law: the 'near' verdicts are EXACTLY the " +
    "incoming endpoints of d2's corpus-wide pairs whose partner is in " +
    "the reference split — directional banding loses no cross-split " +
    "pair and invents none, so the r14 pair-memo reuse path is exact") {
    import graft.functions.Fns.md5LongLocal
    def isIncoming(id: Long): Boolean = md5LongLocal(id.toString) % 100 >= 80
    // force the DIRECTIONAL band join (the pure-ingest face) — the
    // registered query may take the pair-memo reuse path, which this
    // law exists to justify, so testing it against d2Pairs alone
    // would be circular
    val directional = graft.operators.DedupOps
      .d10Plan(spark, sf, reusePairs = false).collect()
    val near = directional
      .collect { case r if r.getString(1) == "near" => r.getLong(0) }.toSet
    val pairs = graft.operators.DedupOps.d2Pairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.flatMap { case (i, j) =>
      (if (isIncoming(i) && !isIncoming(j)) Seq(i) else Nil) ++
        (if (isIncoming(j) && !isIncoming(i)) Seq(j) else Nil)
    }.toSet
    assert(near == expected, s"near=$near expected=$expected")
    // and the two d10 derivations are row-identical end to end
    val reused = graft.operators.DedupOps
      .d10Plan(spark, sf, reusePairs = true).collect()
    assert(directional.map(r => (r.getLong(0), r.getString(1))).sorted
      === reused.map(r => (r.getLong(0), r.getString(1))).sorted)
  }

  test("d9: every reported span really is a verbatim token window of " +
    "2+ distinct documents (independent substring recheck), and " +
    "n_docs/first_doc are consistent") {
    val spans = q("d9_substring_spans").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(spans.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), " " + r.getString(1) + " "))
    for ((span, nDocs, firstDoc) <- spans) {
      // token-boundary containment, independent of the window/stride
      // machinery that produced the span
      val holders = docs.filter(_._2.contains(" " + span + " ")).map(_._1)
      assert(holders.length >= nDocs,
        s"span '$span' claimed in $nDocs docs, found in ${holders.length}")
      assert(holders.contains(firstDoc))
      assert(nDocs >= 2)
    }
  }

  test("qr1: batch BM25 returns, per query, EXACTLY the brute-force " +
    "top-3 of an independent driver-side scorer (same formula, same " +
    "tie-break), with contiguous ranks and non-increasing scores") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val queries = Map(1L -> "hash table", 2L -> "join merge",
      3L -> "sort key", 4L -> "stream window", 5L -> "fast query")
    val termSet = queries.values.flatMap(_.split(" ")).toSet
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / n
    val dfm = termSet.map { t =>
      t -> docs.count(_._2.contains(t)).toDouble
    }.toMap
    def score(qts: Seq[String], toks: Array[String]): Double =
      qts.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else ((n - dfm(t) + 0.5) / (dfm(t) + 0.5)) * (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
      }.sum
    val expected = queries.toSeq.flatMap { case (qid, qs) =>
      docs.toSeq.map { case (id, t) => (id, score(qs.split(" ").toSeq, t)) }
        .filter(_._2 > 0)
        .sortBy { case (id, sc) => (-sc, id) }
        .take(3).zipWithIndex
        .map { case ((id, sc), i) => ((qid, id), (i + 1, sc)) }
    }.toMap
    val got = q("qr1_batch_bm25").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(3), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet,
      s"doc sets differ: got ${got.keySet} expected ${expected.keySet}")
    for ((k, (rnk, sc)) <- expected) {
      assert(got(k)._1 == rnk, s"$k rank ${got(k)._1} != $rnk")
      assert(math.abs(got(k)._2 - sc) < 1e-6,
        s"$k score ${got(k)._2} != $sc")
    }
  }

  test("voc1: OOV accounting is exact — an all-integer driver " +
    "recompute (top-V vocab, count desc / term asc tie-break) matches " +
    "every row, and oov <= n_tok always") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val vocab = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => (t, xs.length) }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(16).map(_._1).toSet
    val expected = docs.map { case (id, toks) =>
      val oov = toks.count(!vocab.contains(_)).toLong
      (id, (toks.length.toLong, oov, 1000000L * oov / toks.length))
    }.toMap
    val got = q("voc1_oov_rate").collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(got.values.forall { case (ntok, oov, ppm) =>
      oov <= ntok && ppm >= 0 && ppm <= 1000000 })
  }

  test("cls1: the NB model is the exact integer-ppm summary of the " +
    "corpus counts — priors sum to ~1e6 (floor loss < |langs|), each " +
    "lang carries ranks 1..5 with non-increasing cond_ppm, and a " +
    "driver recompute matches bit-for-bit") {
    val rows = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val nd = rows.groupBy(_._1).map { case (l, xs) => (l, xs.length.toLong) }
    val totD = nd.values.sum
    val expected = rows.groupBy(_._1).flatMap { case (lang, xs) =>
      val counts = xs.flatMap(_._2).groupBy(identity)
        .map { case (t, ys) => (t, ys.length.toLong) }
      val tot = counts.values.sum
      counts.toSeq
        .map { case (t, c) => (t, 1000000L * c / tot) }
        .sortBy { case (t, p) => (-p, t) }.take(5).zipWithIndex
        .map { case ((t, p), i) =>
          ((lang, t), (1000000L * nd(lang) / totD, p, i + 1)) }
    }
    val got = q("cls1_nb_model").collect()
      .map(r => ((r.getString(0), r.getString(2)),
        (r.getLong(1), r.getLong(3), r.getInt(4)))).toMap
    assert(got == expected)
    val priors = got.toSeq.map { case ((l, _), (p, _, _)) => (l, p) }
      .distinct
    val s = priors.map(_._2).sum
    assert(s <= 1000000L && s > 1000000L - priors.length,
      s"prior sum $s")
  }

  test("bpe1: the pair-merge counts equal an exact local recount of " +
    "adjacent in-word character pairs under the pinned " +
    "(count desc, pair asc) merge order") {
    val texts = Tables.documents(spark, sf).select(col("text"))
      .collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ", -1) if w.length >= 2;
         p <- w.sliding(2))
      counts(p) = counts.getOrElse(p, 0L) + 1L
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val got = q("bpe1_pair_merge").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("cls2: the confusion matrix equals a local replay of the " +
    "quantized-log NB serve — same restricted model, same ilog2, same " +
    "argmax tie-break — and covers exactly the docs with a model hit") {
    // ilog2(x + 1) == length(bin(x + 1)) - 1, the engine's exact form
    def ilog2p1(ppm: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(ppm + 1L)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).toSeq))
    val byLang = docs.groupBy(_._2)
    val model: Map[String, Map[String, Long]] = byLang.map {
      case (lang, ds) =>
        val counts = ds.flatMap(_._3).groupBy(identity)
          .map { case (t, xs) => (t, xs.length.toLong) }
        val tot = counts.values.sum
        lang -> counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(8)
          .map { case (t, c) => t -> ilog2p1(1000000L * c / tot) }.toMap
    }
    val totD = docs.length.toLong
    val pw: Map[String, Long] = byLang.map { case (lang, ds) =>
      lang -> ilog2p1(1000000L * ds.length / totD)
    }
    val matrix = scala.collection.mutable.Map.empty[(String, String), Long]
    var classified = 0L
    for ((_, lang, toks) <- docs) {
      val scores = model.toSeq.flatMap { case (mLang, mw) =>
        val hits = toks.flatMap(mw.get)
        if (hits.isEmpty) None else Some(mLang -> (hits.sum + pw(mLang)))
      }
      if (scores.nonEmpty) {
        val pred = scores.minBy { case (l, sc) => (-sc, l) }._1
        matrix((lang, pred)) = matrix.getOrElse((lang, pred), 0L) + 1
        classified += 1
      }
    }
    val got = q("cls2_nb_confusion").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == matrix.toMap)
    assert(got.values.sum == classified)
  }

  test("d11: the hash-keyed boilerplate set equals an independent " +
    "text-keyed recomputation, and the rewrite accounting balances") {
    // independent plan: group segment TEXT directly (no hashing, no
    // persist, no index plumbing) — per-doc drop counts must agree
    val SEG = graft.operators.DedupOps.D11_SEG
    val segTexts = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(t) + ${SEG - 1}) div $SEG - 1),
           |  i -> array_join(slice(t, i * $SEG + 1, $SEG), ' '))""".stripMargin))
        .as("seg"))
    val badSegs = segTexts.distinct()
      .groupBy(col("seg")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("seg"))
    val expectDrops = segTexts.join(badSegs, Seq("seg"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = q("d11_line_dedup").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.length === 500)
    var totalDropped = 0L
    got.foreach { case (doc, (nSegs, nDropped, cleanLen)) =>
      assert(nDropped === expectDrops.getOrElse(doc, 0L),
        s"doc $doc: hash path dropped $nDropped, text path says ${expectDrops.get(doc)}")
      assert(nDropped <= nSegs)
      // a doc is emptied exactly when every segment was boilerplate
      assert((cleanLen == 0) === (nDropped == nSegs),
        s"doc $doc: clean_len $cleanLen vs $nDropped/$nSegs dropped")
      totalDropped += nDropped
    }
    assert(totalDropped > 0, "fixture data plants cross-doc duplicate lines")
  }

  test("d11: the rewritten text is EXACTLY the kept segments in " +
    "order — clean_fp and clean_len replayed doc by doc in plain Scala") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def segsOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(graft.operators.DedupOps.D11_SEG)
        .map(_.mkString(" ")).toSeq
    val docCount = docs.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (seg, xs) => seg -> xs.length }
    val expected = docs.map { case (id, t) =>
      val clean = segsOf(t).filter(docCount(_) <= 1).mkString(" ")
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(clean.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(16)
      id -> ((clean.length.toLong, fp))
    }.toMap
    val got = q("d11_line_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, (len, fp)) =>
      assert((len, fp) === expected(id), s"doc $id rewrite mismatch")
    }
  }

  test("tok1: the merge chain replays the trained merges on fixture " +
    "words exactly (greedy left-to-right, rank order)") {
    import spark.implicits._
    // each expected count hand-derived by applying the merges in rank
    // order (the per-word comments show the derivations)
    val expected = Map(
      "the" -> 3,    // t h e: no merge applies
      "in" -> 1,     // i n → in
      "order" -> 3,  // o r d e r → er → o r d er → or → [or, d, er]
      "window" -> 4, // w i n d o w → in → w in d o w → ow → [w, in, d, ow]
      "stream" -> 5, // s t r e a m → st → [st, r, e, a, m] (no ' e r ')
      "fast" -> 3,   // f a s t → st → f a st → at? ' a st ' no → [f, a, st]
      "x" -> 1)
    val got = expected.keys.toSeq.toDF("w")
      .withColumn("n", expr(graft.operators.RetrievalOps.tok1PerWord))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    expected.foreach { case (w, n) =>
      assert(got(w) === n, s"word '$w': got ${got(w)}, expected $n")
    }
  }

  test("tok1's frozen merge table stays consistent with bpe1's live " +
    "training output — every shipped merge is a current top-20 pair " +
    "(a regenerated corpus that shifts the pair statistics fails " +
    "here by name, prompting a MERGES refresh)") {
    val top = q("bpe1_pair_merge").collect().map(_.getString(0)).toSet
    val shipped = graft.operators.RetrievalOps.tok1Merges
      .map { case (a, b) => s"$a$b" }
    shipped.foreach(m => assert(top.contains(m),
      s"merge '$m' no longer in bpe1's top-20 $top — refresh MERGES"))
  }

  test("tok1: token economics bound — ws <= bpe <= chars + ws on " +
    "every doc (the +ws slack covers empty split tokens, which count " +
    "1 BPE token but 0 chars — robust to regenerated whitespace)") {
    val rows = q("tok1_bpe_apply").collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (ws, chars, bpe) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // per word w: 1 <= tokens(w) <= max(len(w), 1), so summed:
      assert(bpe <= chars + ws, s"doc ${r.getLong(0)}: merging cannot add tokens")
      assert(bpe >= ws, s"doc ${r.getLong(0)}: every word is >= 1 token")
      // an all-whitespace doc has n_chars=0 and bpe>=1, so compression
      // is legitimately 0.0 — only positive-content docs must compress
      if (chars > 0) assert(r.getDouble(4) > 0.0)
      else assert(r.getDouble(4) == 0.0)
    }
  }

  test("cur1: phases partition the corpus, quality ranges are " +
    "disjoint and ordered, and quartiles are roughly balanced") {
    val rows = q("cur1_curriculum").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3))
    assert(rows.map(_._2).sum === 500L, "every doc lands in exactly one phase")
    rows.foreach { case (p, n, lo, hi) =>
      assert(lo <= hi, s"phase $p")
      assert(n >= 25L, s"phase $p holds ${n} docs — quartiles should be " +
        "roughly balanced (>= 5% each)")
    }
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) =>
        assert(hi1 < lo2, "band binning keeps phase quality ranges disjoint")
      case _ =>
    }
  }

  test("pipe4: the domain-tilt report is EXACTLY the join of the " +
    "registered dsir1/d11/tok1 outputs, re-aggregated in plain Scala") {
    val sel = q("dsir1_importance").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cln = q("d11_line_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val tok = q("tok1_bpe_apply").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val expected = sel.toSeq.map { case (id, src) =>
      (src, cln(id)._1, cln(id)._2, tok(id))
    }.groupBy(_._1).map { case (src, xs) =>
      src -> ((xs.length.toLong, xs.map(_._2).sum, xs.map(_._3).sum,
        xs.map(_._4).sum))
    }
    val got = q("pipe4_domain_tilt").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
  }

  test("s6: recall report replays exactly from the registered " +
    "rankings, and the exact baseline scores recall 1 against itself") {
    val exact = q("s1_ann_brute").collect()
      .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(name: String): (Long, Long) = {
      val approx = q(name).collect()
        .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx.count(exact).toLong, exact.size.toLong)
    }
    // the titled self-recall invariant: the ground truth against
    // itself is a perfect 1.0 (catches a wrong rank cutoff in the
    // exact-set construction)
    val (selfHits, selfPossible) = recallOf("s1_ann_brute")
    assert(selfHits === selfPossible && selfPossible > 0)
    val np1Hits = graft.operators.SimilarityOps.s3Probe(spark, sf, 1)
      .collect().filter(_.getInt(3) <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).count(exact)
    val got = q("s6_ann_recall").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Derive the variant set from the REGISTRY, not a literal (r11
    // verdict #1: a re-typed list went stale when s7 was wired in)
    // and not from s6's own output (r12 review: that form can't see
    // a variant silently DROPPED from the harness): every registered
    // approximate ANN query must appear as an s6 row — registering
    // s8_ann_* without wiring it into the harness fails here, and so
    // does a harness edit that loses s5's row. s1 is the ground
    // truth, s6 the harness itself; both excluded by name.
    val curveRows = Set("s3_ann_ivf_np1")
    val variants = SparkEntry.queries.keySet
      .filter(_.matches("s\\d+_ann_.*")) -- Set("s1_ann_brute", "s6_ann_recall")
    assert(variants.nonEmpty)
    assert(got.keySet == variants ++ curveRows,
      s"s6 rows ${got.keySet.toSeq.sorted} != registered ANN variants " +
        s"${(variants ++ curveRows).toSeq.sorted}")
    val expected = variants.map { n =>
      val (h, p) = recallOf(n)
      n -> ((h, p, 1000000L * h / p))
    }.toMap + ("s3_ann_ivf_np1" ->
      ((np1Hits.toLong, exact.size.toLong,
        1000000L * np1Hits / exact.size)))
    assert(got === expected)
    assert(got.values.forall { case (h, p, ppm) => h <= p && ppm <= 1000000L })
  }

  test("s3 recall/cost curve: the second probe strictly improves " +
    "recall@3 on the fixture at a bounded candidate cost (candidates " +
    "grow, but by at most the probed-cell share — <= nprobe x)") {
    val exact = q("s1_ann_brute").collect()
      .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    def hitsOf(np: Int): Int =
      graft.operators.SimilarityOps.s3Probe(spark, sf, np)
        .collect().filter(_.getInt(3) <= 3)
        .map(r => (r.getLong(0), r.getLong(1))).count(exact)
    val (h1, h2) = (hitsOf(1), hitsOf(2))
    assert(h2 > h1, s"np2 recall $h2 not strictly above np1 $h1")
    val c1 = graft.operators.SimilarityOps.s3Candidates(spark, sf, 1).count()
    val c2 = graft.operators.SimilarityOps.s3Candidates(spark, sf, 2).count()
    assert(c2 > c1, "the second probe must widen the candidate set")
    assert(c2 <= 2 * c1 + 10,
      s"np2 candidates $c2 exceed the 2x-per-probe bound on np1 $c1")
  }

  test("u10: the melt totals reconcile with direct per-column " +
    "aggregates (same cent quantization, no row lost in the stack)") {
    val li = Tables.lineitem(spark, sf)
    val direct = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map { c =>
        val r = li.select(
          expr(s"CAST(floor($c * 100 + 0.5) AS BIGINT)").as("cents"))
          .agg(count(lit(1)), sum(col("cents")), min(col("cents")),
            max(col("cents"))).collect()(0)
        c -> ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toMap
    val got = q("u10_unpivot").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === direct)
  }

  test("w9: integer-halving decay replayed in plain Scala — " +
    "contributions never exceed face value, deeper ages halve") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val HL = 259200000000L
    val tNow = ev.map(_._2).max
    val expected = ev.groupBy(_._1).map { case (u, xs) =>
      val contribs = xs.map { case (_, tu, v) =>
        val cents = math.floor(v * 100 + 0.5).toLong
        val k = math.min((tNow - tu) / HL, 62L)
        cents / (1L << k.toInt)
      }
      u -> ((xs.length.toLong, contribs.sum))
    }
    val got = q("w9_decay_score").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
  }

  test("fn1: the earliest-completion funnel equals a plain-Scala " +
    "replay, and the funnel is monotone (each step loses users)") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val WINDOW_US = graft.operators.WindowOps.FN1_WINDOW_US
    val byUser = ev.groupBy(_._1)
    def anchors(prev: Map[Long, Long], evType: String): Map[Long, Long] =
      prev.flatMap { case (u, t0) =>
        byUser.getOrElse(u, Array.empty)
          .filter { case (_, ty, tu) => ty == evType && tu > t0 && tu <= t0 + WINDOW_US }
          .map(_._3).minOption.map(u -> _)
      }
    val s1 = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val s2 = anchors(s1, "click")
    val s3 = anchors(s2, "purchase")
    val expected = Map(
      "1_view" -> ((s1.size.toLong, 0L)),
      "2_click" -> ((s2.size.toLong, s2.map { case (u, t) => t - s1(u) }.sum)),
      "3_purchase" -> ((s3.size.toLong, s3.map { case (u, t) => t - s2(u) }.sum)))
    val got = q("fn1_funnel").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    assert(got("1_view")._1 >= got("2_click")._1 &&
      got("2_click")._1 >= got("3_purchase")._1)
    assert(got("3_purchase")._1 > 0, "fixture data completes the funnel")
  }

  test("er1: the blocked fuzzy-match histogram equals a plain-Scala " +
    "replay (blocking, Levenshtein, pair order) on the full fixture") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val expected = parts.groupBy { case (_, n, sz) => (n.split(" ")(1), sz) }
      .toSeq.flatMap { case ((noun, _), xs) =>
        val sorted = xs.sortBy(_._1)
        for (i <- sorted.indices; j <- (i + 1) until sorted.length)
          yield (noun, lev(sorted(i)._2, sorted(j)._2))
      }
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val got = q("er1_fuzzy_block").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.nonEmpty && got.keys.exists(_._2 > 0))
  }

  test("emb1: per-dimension stats replayed exactly in plain Scala — " +
    "quantized sums make mean/std order-independent") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = (1 to 64).map { dim =>
      val xs = embs.map(_(dim - 1))
      val qs = xs.map(x => math.floor(x * 1000 + 0.5).toLong)
      val (n, sq, sqq) = (xs.length.toLong, qs.sum, qs.map(q => q * q).sum)
      val mean = sq.toDouble / (n * 1000.0)
      val std = math.sqrt(math.max(
        sqq.toDouble / (n.toDouble * 1000000.0) - mean * mean, 0.0))
      dim.toLong -> ((n, r6(mean), r6(std), r6(xs.min), r6(xs.max)))
    }.toMap
    val got = q("emb1_dim_stats").collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got === expected)
  }

  test("dsir1: the all-integer importance scores equal a full plain-" +
    "Scala DSIR replay (both LMs, log2 ratio, top-100 cut)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def tfOf(t: String) = t.split(" ", -1).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    val perDoc = docs.map { case (id, src, t) => (id, src, tfOf(t)) }
    def lm(counts: Map[String, Long]): Map[String, Int] = {
      val tot = counts.values.sum
      counts.map { case (w, c) =>
        w -> (63 - java.lang.Long.numberOfLeadingZeros(1000000L * c / tot + 1))
      }
    }
    def merge(ms: Seq[Map[String, Long]]) =
      ms.flatten.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).sum }
    val l2t = lm(merge(perDoc.filter(_._2 == "src0").map(_._3).toSeq))
    val l2c = lm(merge(perDoc.map(_._3).toSeq))
    val expected = perDoc.map { case (id, src, tf) =>
      val score = tf.map { case (w, n) =>
        n * (l2t.getOrElse(w, 0) - l2c(w)) }.sum
      (id, src, score)
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(100).toSeq
    val got = q("dsir1_importance").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.exists(_._2 == "src0"), "target-domain docs score high")
  }

  test("rrf1: the fusion is EXACTLY the RRF fold of the registered " +
    "x11 and s1 rankings, replayed in plain Scala") {
    val lex = q("x11_bm25").collect()
      .sortBy(r => (-r.getDouble(1), r.getLong(0)))
      .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    val vec = q("s1_ann_brute").collect()
      .filter(_.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getInt(3).toLong).toMap
    val expected = (lex.keySet ++ vec.keySet).toSeq.map { id =>
      val rrf = lex.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        vec.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (id, lex.getOrElse(id, 0L), vec.getOrElse(id, 0L), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }
      .zipWithIndex.map { case ((id, l, v, rrf), i) => id -> ((l, v, rrf, i + 1L)) }
      .toMap
    val got = q("rrf1_hybrid_fuse").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // both retrievers contributed and at least one doc overlaps only
    // one list (the fusion is not a trivial rename of either input)
    assert(expected.values.exists(v => v._1 > 0 && v._2 == 0) ||
      expected.values.exists(v => v._1 == 0 && v._2 > 0))
  }

  test("x15: bucket k holds ranks 2^k..2^(k+1)-1 — counts bounded, " +
    "rank-1 bucket is a singleton, frequency envelope is monotone") {
    val rows = q("x15_zipf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.head._1 === 0L && rows.head._2 === 1L,
      "bucket 0 is exactly rank 1")
    rows.foreach { case (k, n, sum, mx, mn) =>
      assert(n <= (1L << k), s"bucket $k: ${n} terms > 2^$k")
      assert(mn <= mx && sum >= n * mn && sum <= n * mx)
    }
    // Zipf: the per-bucket max frequency never increases with rank
    rows.sliding(2).foreach {
      case Array((_, _, _, mx1, _), (_, _, _, mx2, _)) =>
        assert(mx2 <= mx1, "deeper rank buckets cannot carry higher max freq")
      case _ =>
    }
  }
}
