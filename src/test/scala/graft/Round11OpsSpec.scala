package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: the memo-eviction discipline ([[Memo]]), the
  * Hadoop-FS version stamp, and the g12 CMS width-vs-error curve laws.
  */
class Round11OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---- versionStamp -----------------------------------------------

  test("versionStamp: real stamp for a local table, changes when the " +
    "file set is rewritten, and degrades to 0 (without throwing) on " +
    "an unresolvable path") {
    val st = Tables.versionStamp(sf, "documents")
    assert(st != 0L, "existing local table must get a real stamp")
    // rewrite at a temp path → different stamp (the staleness signal)
    withTempDir("stamp") { dir =>
      val docs = Tables.documents(spark, sf).limit(5)
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val s1 = Tables.versionStamp(dir, "documents")
      assert(s1 != 0L)
      Thread.sleep(1100) // mtime granularity can be 1 s
      docs.limit(3).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val s2 = Tables.versionStamp(dir, "documents")
      assert(s1 != s2, "rewrite must produce a different stamp")
      // missing path → 0, unresolvable scheme → 0 via the logged
      // fallback; both must be silent non-throws
      assert(Tables.versionStamp(dir, "nope") == 0L)
      assert(Tables.versionStamp("bogus-scheme://x/y", "t") == 0L)
    }
  }

  // ---- Memo eviction ----------------------------------------------

  test("memoGetOrBuild: superseded stamps for the same (session, " +
    "path) are evicted on insert, other paths are untouched, and a " +
    "repeated call under the same stamp does not rebuild") {
    val memo = Memo[String]("documents")
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(memo.getStamped(spark, "/a", 1L)(build("a1")) == "a1")
    assert(memo.getStamped(spark, "/b", 7L)(build("b7")) == "b7")
    // same stamp → memo hit, no rebuild
    assert(memo.getStamped(spark, "/a", 1L)(build("a1x")) == "a1")
    assert(builds == 2)
    // new stamp for /a → rebuild AND the stale stamp-1 entry is gone
    assert(memo.getStamped(spark, "/a", 2L)(build("a2")) == "a2")
    assert(builds == 3)
    assert(memo.entries.keySet == Set((spark, "/a", 2L), (spark, "/b", 7L)),
      s"stale stamp survived: ${memo.entries.keySet}")
  }

  // ---- g12 ----------------------------------------------------------

  test("g12: one curve row per config, one-sided error everywhere, " +
    "identical probe mass across rows, and over-count pointwise " +
    "non-increasing along the depth axis (min over MORE hash rows " +
    "can only tighten — the law that holds per-stream, unlike the " +
    "width axis which only improves in expectation)") {
    val rows = q("g12_cms_error_curve").collect()
      .map(r => (r.getLong(r.fieldIndex("d")), r.getLong(r.fieldIndex("w")))
        -> ((r.getLong(r.fieldIndex("n_probes")),
          r.getLong(r.fieldIndex("sum_cnt")),
          r.getLong(r.fieldIndex("over_total")),
          r.getLong(r.fieldIndex("max_over"))))).toMap
    assert(rows.keySet ==
      operators.AnalyticsOps.G12_CFGS.map { case (a, b) =>
        (a.toLong, b.toLong) }.toSet)
    // same probe set measured under every config
    assert(rows.values.map(v => (v._1, v._2)).toSet.size == 1)
    rows.foreach { case (cfg, (_, _, over, maxOver)) =>
      assert(over >= 0L && maxOver >= 0L && over >= maxOver,
        s"$cfg: one-sided-error law broken (over=$over max=$maxOver)")
    }
    // depth axis at w=16: est(d) = min over first d rows, so each
    // probe's over-count — and hence the total — is non-increasing
    val byDepth = Seq(1L, 2L, 4L).map(dd => rows((dd, 16L))._3)
    assert(byDepth == byDepth.sorted.reverse,
      s"over_total not monotone along depth: $byDepth")
  }

  // ---- d15 ----------------------------------------------------------

  test("d15: buckets cover exactly the d2-verified pairs, Hamming " +
    "stays in the 16-bit domain, and every bucket's mean Jaccard " +
    "respects the >= 0.5 verification floor") {
    val rows = q("d15_simhash_fidelity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nPairs = operators.DedupOps.d2Pairs(spark, sf).count()
    assert(rows.map(_._2).sum == nPairs,
      "fidelity report must cover every verified pair exactly once")
    rows.foreach { case (h, n, jppm) =>
      assert(h >= 0L && h <= 16L, s"hamming $h outside 16-bit domain")
      assert(n > 0L)
      assert(jppm >= 500000L && jppm <= 1000000L,
        s"bucket $h mean jac $jppm outside the verified-pair domain")
    }
  }

  // ---- sm9 ----------------------------------------------------------

  test("sm9: the weighted draw is exactly the K smallest per-doc " +
    "min-keys under the declared per-token hash — recomputed from " +
    "scratch driver-side (mechanism determinism, the SampleOps md5 " +
    "discipline), with n_tokens matching the whitespace token count") {
    import graft.functions.Fns
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = docs.map { case (id, text) =>
      val n = text.split(" ", -1).length
      val minKey = (0 until n)
        .map(p => Fns.md5LongLocal(s"$id:$p:wts")).min
      (minKey, id, n.toLong)
    }.sortBy(t => (t._1, t._2)).take(operators.SampleOps.SM9_K)
      .map { case (k, id, n) => (id, n, k) }.toSeq
    val got = q("sm9_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  // ---- s7 -----------------------------------------------------------

  test("s7: scalar quantization honors the half-step reconstruction " +
    "bound (|deq(x) - x| <= (mx - mn)/255/2 per dim — the uint8 grid " +
    "law), the ranking has the ANN contract shape, and s6 reports " +
    "the variant") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val dims = embs.head._2.length
    val mn = (0 until dims).map(i => embs.map(_._2(i)).min)
    val mx = (0 until dims).map(i => embs.map(_._2(i)).max)
    embs.foreach { case (_, v) =>
      v.zipWithIndex.foreach { case (x, i) =>
        val (lo, hi) = (mn(i), mx(i))
        val deq = if (hi == lo) lo
          else lo + math.floor((x - lo) * 255.0 / (hi - lo) + 0.5) *
            (hi - lo) / 255.0
        assert(math.abs(deq - x) <= (hi - lo) / 255.0 / 2 + 1e-12,
          s"dim $i: deq $deq vs $x exceeds half-step")
      }
    }
    val r = q("s7_ann_sq").collect()
    assert(r.length == 30) // 10 queries x top-3
    assert(r.forall(row => row.getInt(row.fieldIndex("rank")) >= 1 &&
      row.getInt(row.fieldIndex("rank")) <= 3))
    val variants = q("s6_ann_recall").collect()
      .map(_.getString(0)).toSet
    assert(variants.contains("s7_ann_sq"))
  }

  // ---- pipe9 --------------------------------------------------------

  test("pipe9: the funnel is cumulative (docs and tokens non-" +
    "increasing stage to stage), s0 is exactly the train bucket with " +
    "kept_ppm = 10^6, every kept_ppm shares the raw denominator, and " +
    "every stage strictly below raw actually discards something on " +
    "this corpus (the funnel is exercised, not vacuous)") {
    import graft.functions.Fns.md5Long
    val rows = q("pipe9_funnel").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val order = Seq("s0_raw", "s1_quality", "s2_exact_dedup", "s3_decontam")
    assert(rows.keySet == order.toSet)
    val trainDocs = Tables.documents(spark, sf)
      .filter(md5Long(col("doc_id")) % 100 < 80).count()
    assert(rows("s0_raw")._1 == trainDocs)
    assert(rows("s0_raw")._3 == 1000000L)
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(a)._1 >= rows(b)._1, s"$b docs grew past $a")
      assert(rows(a)._2 >= rows(b)._2, s"$b tokens grew past $a")
    }
    rows.values.foreach { case (n, _, ppm) =>
      assert(ppm == 1000000L * n / rows("s0_raw")._1)
    }
    assert(rows("s1_quality")._1 < rows("s0_raw")._1,
      "quality gate discards nothing — rules not exercised")
    assert(rows("s3_decontam")._1 < rows("s2_exact_dedup")._1,
      "decontamination discards nothing — quarantine not exercised")
  }
}
