package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: the d16 segment-width curve, the pipe10
  * quarantine-threshold curve (the two remaining unmeasured knobs
  * from VERDICT r11 #7), and the shared pipe5/pipe6 verdict memos
  * (VERDICT r11 #6 — pipe9 must read the SAME relations pipe5/pipe6
  * serve, warm or cold).
  */
class Round12OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---- d16 ----------------------------------------------------------

  test("d16: one row per swept width, token mass identical across " +
    "widths (every segmentation covers the corpus exactly once), " +
    "segment counts strictly decreasing in width, and the served " +
    "width's row reconciles with d11's per-doc rewrite exactly") {
    val rows = q("d16_line_width_curve").collect()
      .map(r => r.getLong(r.fieldIndex("seg_width")) ->
        ((r.getLong(r.fieldIndex("n_segs")),
          r.getLong(r.fieldIndex("n_bad_lines")),
          r.getLong(r.fieldIndex("segs_removed")),
          r.getLong(r.fieldIndex("n_tokens")),
          r.getLong(r.fieldIndex("tokens_removed")),
          r.getLong(r.fieldIndex("removed_ppm"))))).toMap
    assert(rows.keySet == operators.DedupOps.D16_WIDTHS.map(_.toLong).toSet)
    // the sweep brackets the served knob — the curve must SHOW where
    // the pipeline sits, or it measures nothing
    assert(rows.contains(operators.DedupOps.D11_SEG.toLong))
    // invariant: every width re-covers the same token mass
    assert(rows.values.map(_._4).toSet.size == 1,
      s"token mass differs across widths: ${rows.map { case (w, v) => w -> v._4 }}")
    // wider segments → strictly fewer of them (corpus has >0 tokens)
    val byW = rows.toSeq.sortBy(_._1)
    byW.sliding(2).foreach { case Seq((w1, v1), (w2, v2)) =>
      assert(v1._1 > v2._1, s"n_segs not decreasing $w1->$w2")
    case _ => ()
    }
    rows.foreach { case (w, (nSegs, nBad, segsRm, nTok, tokRm, ppm)) =>
      assert(nBad <= nSegs && segsRm <= nSegs && tokRm <= nTok,
        s"width $w: bounds broken")
      assert(ppm == 1000000L * tokRm / nTok, s"width $w: ppm drifted")
    }
    // the served-width row IS d11, re-aggregated: same segment unit,
    // same >1-distinct-docs rule — the anti-drift rule for curves
    val d11 = q("d11_line_dedup")
      .agg(sum(col("n_segs")), sum(col("n_dropped"))).collect()(0)
    val served = rows(operators.DedupOps.D11_SEG.toLong)
    assert(served._1 == d11.getLong(0),
      s"served-width n_segs ${served._1} != d11 ${d11.getLong(0)}")
    assert(served._3 == d11.getLong(1),
      s"served-width segs_removed ${served._3} != d11 ${d11.getLong(1)}")
  }

  // ---- pipe10 -------------------------------------------------------

  test("pipe10: one row per threshold 1..max, constant train " +
    "population, quarantine monotonically non-increasing in the " +
    "threshold, and the served-threshold row equals pipe6's census " +
    "totals (the anti-drift rule, measured edition)") {
    val rows = q("pipe10_decontam_curve").collect()
      .map(r => r.getLong(r.fieldIndex("min_shared")) ->
        ((r.getLong(r.fieldIndex("n_train")),
          r.getLong(r.fieldIndex("n_quarantined")),
          r.getLong(r.fieldIndex("quarantined_ppm"))))).toMap
    assert(rows.keySet ==
      (1L to operators.PipelineOps.PIPE10_MAX_T.toLong).toSet)
    assert(rows.values.map(_._1).toSet.size == 1, "n_train must be constant")
    (1L until operators.PipelineOps.PIPE10_MAX_T.toLong).foreach { t =>
      assert(rows(t)._2 >= rows(t + 1)._2,
        s"quarantine grew from threshold $t to ${t + 1}")
    }
    rows.foreach { case (t, (n, quar, ppm)) =>
      assert(quar <= n && ppm == 1000000L * quar / n, s"row $t inconsistent")
    }
    // served threshold row == pipe6's census, summed over sources
    val p6 = q("pipe6_decontam_split")
      .agg(sum(col("n_train")), sum(col("n_quarantined"))).collect()(0)
    val served = rows(operators.PipelineOps.PIPE6_MIN_SHARED.toLong)
    assert(served._1 == p6.getLong(0) && served._2 == p6.getLong(1),
      s"pipe10@${operators.PipelineOps.PIPE6_MIN_SHARED} $served != " +
        s"pipe6 census (${p6.getLong(0)}, ${p6.getLong(1)})")
  }

  // ---- pk2 ----------------------------------------------------------

  test("pk2: one row per swept length incl. the served 2048, constant " +
    "doc/token mass, exact integer ceil arithmetic, and packing never " +
    "wastes more than padding (the law that justifies pk1)") {
    val rows = q("pk2_pad_curve").collect()
      .map(r => r.getLong(r.fieldIndex("seq_len")) ->
        ((r.getLong(r.fieldIndex("n_docs")),
          r.getLong(r.fieldIndex("n_tokens")),
          r.getLong(r.fieldIndex("n_chunks")),
          r.getLong(r.fieldIndex("pad_waste_ppm")),
          r.getLong(r.fieldIndex("packed_seqs")),
          r.getLong(r.fieldIndex("packed_waste_ppm"))))).toMap
    assert(rows.keySet == operators.PipelineOps.PK2_LENS.map(_.toLong).toSet)
    assert(rows.contains(2048L), "served PACK_BUDGET missing from sweep")
    assert(rows.values.map(v => (v._1, v._2)).toSet.size == 1)
    rows.foreach { case (l, (_, nTok, nCh, padW, pSeqs, packW)) =>
      assert(pSeqs == (nTok + l - 1) / l, s"L=$l packed_seqs wrong")
      assert(nCh >= pSeqs, s"L=$l chunk count below packed minimum")
      assert(packW <= padW, s"L=$l packing wastes more than padding")
      assert(padW == 1000000L * (nCh * l - nTok) / (nCh * l))
      assert(packW == 1000000L * (pSeqs * l - nTok) / (pSeqs * l))
    }
    // waste under padding grows with L on a short-doc corpus — the
    // table's actual message
    val byL = rows.toSeq.sortBy(_._1)
    assert(byL.head._2._4 <= byL.last._2._4,
      "pad waste did not grow from the smallest to the largest L")
  }

  // ---- tok2 ---------------------------------------------------------

  test("tok2: one row per merge budget, the 0-merge anchor is exactly " +
    "raw chars at 10^6 ppm, token count non-increasing in merges, and " +
    "the full-budget row equals the served tok1 tokenizer's aggregate " +
    "(the anti-drift rule: the curve's endpoint IS the product)") {
    val rows = q("tok2_merge_curve").collect()
      .map(r => r.getLong(r.fieldIndex("n_merges")) ->
        ((r.getLong(r.fieldIndex("n_chars")),
          r.getLong(r.fieldIndex("bpe_tokens")),
          r.getLong(r.fieldIndex("compression_ppm"))))).toMap
    assert(rows.keySet ==
      operators.RetrievalOps.TOK2_BUDGETS.map(_.toLong).toSet)
    assert(rows.values.map(_._1).toSet.size == 1, "n_chars must be constant")
    val anchor = rows(0L)
    assert(anchor._2 == anchor._1 && anchor._3 == 1000000L,
      s"0-merge anchor broken: $anchor")
    val byK = rows.toSeq.sortBy(_._1)
    byK.sliding(2).foreach {
      case Seq((k1, v1), (k2, v2)) =>
        assert(v2._2 <= v1._2, s"bpe_tokens grew from $k1 to $k2 merges")
      case _ => ()
    }
    // endpoint == the served tokenizer, re-aggregated from tok1
    val t1 = q("tok1_bpe_apply")
      .agg(sum(col("n_chars")), sum(col("bpe_tokens"))).collect()(0)
    val full = rows(operators.RetrievalOps.TOK2_BUDGETS.max.toLong)
    assert(full._1 == t1.getLong(0) && full._2 == t1.getLong(1),
      s"full-budget row $full != tok1 aggregate " +
        s"(${t1.getLong(0)}, ${t1.getLong(1)})")
  }

  // ---- voc3 ---------------------------------------------------------

  test("voc3: one row per swept V incl. voc1's served 16, coverage " +
    "monotone in V, and the served row reconciles exactly with voc1's " +
    "per-doc OOV census (total - covered@16 == sum of voc1 oov)") {
    val rows = q("voc3_coverage_curve").collect()
      .map(r => r.getLong(r.fieldIndex("vocab_size")) ->
        ((r.getLong(r.fieldIndex("n_terms_used")),
          r.getLong(r.fieldIndex("covered_tokens")),
          r.getLong(r.fieldIndex("total_tokens")),
          r.getLong(r.fieldIndex("coverage_ppm"))))).toMap
    assert(rows.keySet ==
      operators.RetrievalOps.VOC3_SIZES.map(_.toLong).toSet)
    assert(rows.contains(16L), "served VOCAB_SIZE missing from sweep")
    assert(rows.values.map(_._3).toSet.size == 1, "total must be constant")
    val byV = rows.toSeq.sortBy(_._1)
    byV.sliding(2).foreach {
      case Seq((v1, a), (v2, b)) =>
        assert(b._2 >= a._2, s"coverage shrank from V=$v1 to V=$v2")
        assert(b._1 >= a._1 && b._1 <= v2, "rank bounds broken")
      case _ => ()
    }
    rows.foreach { case (v, (used, cov, tot, ppm)) =>
      assert(used <= v && cov <= tot && ppm == 1000000L * cov / tot,
        s"V=$v row inconsistent")
    }
    // anti-drift: voc1 counts the SAME top-16 vocabulary's misses
    val oov = q("voc1_oov_rate").agg(sum(col("oov")), sum(col("n_tok")))
      .collect()(0)
    val served = rows(16L)
    assert(served._3 == oov.getLong(1), "token totals disagree with voc1")
    assert(served._3 - served._2 == oov.getLong(0),
      s"uncovered ${served._3 - served._2} != voc1 oov sum ${oov.getLong(0)}")
  }

  // ---- d17 ----------------------------------------------------------

  test("d17: the cluster-size histogram reconciles exactly with d7's " +
    "label relation (every doc in exactly one cluster; shares sum to " +
    "~1e6 within floor slack) — the anti-drift rule on the dedup axis") {
    val rows = q("d17_cluster_histogram").collect()
      .map(r => r.getLong(r.fieldIndex("cluster_size")) ->
        ((r.getLong(r.fieldIndex("n_clusters")),
          r.getLong(r.fieldIndex("n_docs")),
          r.getLong(r.fieldIndex("doc_share_ppm"))))).toMap
    val labels = q("d7_dedup_components").collect()
      .map(r => r.getLong(r.fieldIndex("comp")))
    val expected = labels.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, cs) => sz -> cs.size.toLong }
    assert(rows.view.mapValues(_._1).toMap == expected,
      s"histogram ${rows.view.mapValues(_._1).toMap} != recomputed $expected")
    assert(rows.values.map(_._2).sum == labels.length.toLong,
      "doc mass lost between labels and histogram")
    val shareSum = rows.values.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum >= 1000000L - rows.size,
      s"shares sum $shareSum outside the floor-rounding envelope")
    rows.foreach { case (sz, (nc, nd, _)) =>
      assert(nd == sz * nc, s"size $sz: n_docs != size*clusters")
    }
  }

  // ---- emb7 ---------------------------------------------------------

  test("emb7: one row per bit width incl. s7's served 8, levels = " +
    "2^bits - 1, total error strictly decreasing as the grid refines, " +
    "max >= mean, and n_vals == 64 x corpus vectors") {
    val rows = q("emb7_sq_error_curve").collect()
      .map(r => r.getLong(r.fieldIndex("bits")) ->
        ((r.getLong(r.fieldIndex("levels")),
          r.getLong(r.fieldIndex("n_vals")),
          r.getLong(r.fieldIndex("sum_abs_err_e9")),
          r.getLong(r.fieldIndex("max_abs_err_e9")),
          r.getLong(r.fieldIndex("mean_abs_err_e9"))))).toMap
    assert(rows.keySet ==
      operators.SimilarityOps.EMB7_BITS.map(_.toLong).toSet)
    assert(rows.contains(8L), "served SQ8 width missing from sweep")
    val nVecs = Tables.embeddings(spark, sf).count()
    rows.foreach { case (b, (lv, nv, sumE, maxE, meanE)) =>
      assert(lv == (1L << b) - 1, s"bits=$b levels wrong")
      assert(nv == 64L * nVecs, s"bits=$b n_vals wrong")
      assert(maxE >= meanE && meanE == sumE / nv, s"bits=$b stats broken")
    }
    val byB = rows.toSeq.sortBy(_._1)
    byB.sliding(2).foreach {
      case Seq((b1, a), (b2, c)) =>
        assert(c._3 < a._3,
          s"total error did not decrease from $b1 to $b2 bits")
      case _ => ()
    }
  }

  // ---- geo3 ---------------------------------------------------------

  test("geo3: the grid-blocked radius join reproduces the brute-force " +
    "all-pairs histogram exactly (every qualifying pair found exactly " +
    "once via the half-neighborhood fan-out — home cell under the oid " +
    "guard, the four positive-half cells unguarded), and dist2 stays " +
    "within R^2") {
    import graft.functions.Fns.md5Long
    val R2 = operators.GeoOps.GEO3_R * operators.GeoOps.GEO3_R
    val rows = q("geo3_radius_pairs").collect()
      .map(r => r.getLong(r.fieldIndex("dist2")) ->
        r.getLong(r.fieldIndex("n_pairs"))).toMap
    assert(rows.nonEmpty && rows.keySet.forall(d2 => d2 >= 0 && d2 <= R2))
    // brute force over the same hashed placement (sf0.001: 1.5k pts)
    val pts = Tables.orders(spark, sf).select(
      (md5Long(col("o_orderkey")) % 1700).as("u"),
      (md5Long(col("o_orderkey") + 7) % 3600).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val du = pts(i)._1 - pts(j)._1
      val dv = pts(i)._2 - pts(j)._2
      val d2 = du * du + dv * dv
      if (d2 <= R2) brute(d2) = brute.getOrElse(d2, 0L) + 1L
    }
    assert(rows == brute.toMap,
      s"grid-join histogram $rows != brute force ${brute.toMap}")
  }

  // ---- shared pipe memos -------------------------------------------

  test("pipe memo sharing: pipe9 produces identical output cold " +
    "(memos just cleared) and warm (memos primed via the Bench hook), " +
    "and the memoized relations survive catalog.clearCache() — the " +
    "property that makes the sharing real across bench queries") {
    operators.PipelineOps.perDocMemo.clear()
    operators.PipelineOps.hitsMemo.clear()
    val cold = q("pipe9_funnel").collect().map(_.toString).sorted
    operators.PipelineOps.perDocMemo.clear()
    operators.PipelineOps.hitsMemo.clear()
    primeMemo("memo_pipeline_perdoc", sf)
    spark.catalog.clearCache() // what Bench does between queries
    val warm = q("pipe9_funnel").collect().map(_.toString).sorted
    assert(cold.sameElements(warm), "cold/warm pipe9 outputs differ")
    // warm pipe9 must plan ZERO FileScans beyond its own fingerprint
    // projection: the constituent passes come from the checkpoints.
    // Unwrap AdaptiveSparkPlanExec first — under AQE the root is a
    // LEAF node, so collecting on it directly finds nothing and the
    // assertion would pass vacuously (the ScanCountSpec.physical
    // lesson, re-learned in this round's review)
    val phys = q("pipe9_funnel").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(phys.collectLeaves().nonEmpty, "unwrapped plan unexpectedly empty")
    val scans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.length
    assert(scans <= 1, s"warm pipe9 plans $scans FileScans (memo not used)")
  }
}
