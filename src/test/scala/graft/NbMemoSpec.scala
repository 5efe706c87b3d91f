package graft

/** r17 optimization laws for the shared NB doc-score memo
  * (`memo_nb_scores`): cls2/cls4/cal1/al1 each used to re-run the full
  * three-scan restricted-vocab NB model+serve pass; they now read one
  * per-corpus-version checkpoint (the pipe5/pipe6 verdict-memo
  * pattern, Round12OpsSpec's cold/warm discipline).
  */
class NbMemoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("nb memo sharing: cls2/cls4/cal1/al1 produce identical output " +
    "cold (memo just cleared) and warm (memo primed via the Bench " +
    "hook), and the memoized relation survives catalog.clearCache()") {
    val names = Seq("cls2_nb_confusion", "cls4_calibrated_filter",
      "cal1_margin_calibration", "al1_uncertain_topk")
    operators.RetrievalOps.nbMemo.clear()
    val cold = names.map(n => n -> q(n).collect().map(_.toString).sorted)
    operators.RetrievalOps.nbMemo.clear()
    primeMemo("memo_nb_scores", sf)
    spark.catalog.clearCache() // what Bench does between queries
    for ((n, c) <- cold) {
      val warm = q(n).collect().map(_.toString).sorted
      assert(c.sameElements(warm), s"cold/warm $n outputs differ")
    }
    // a warm consumer plans ZERO FileScans: the model build, the
    // prior and the serve pass all come from the checkpoint (unwrap
    // AdaptiveSparkPlanExec first — the Round12OpsSpec lesson)
    val phys = q("cal1_margin_calibration").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(phys.collectLeaves().nonEmpty, "unwrapped plan unexpectedly empty")
    val scans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.length
    assert(scans == 0, s"warm cal1 plans $scans FileScans (memo not used)")
  }

  test("the memoized nb relation row-equals the direct unmemoized " +
    "build (ADVICE r17 #2 — memo-vs-build equivalence pinned " +
    "directly, not just transitively through consumers)") {
    operators.RetrievalOps.nbMemo.clear()
    val memoized = operators.RetrievalOps.nbDocScores(spark, sf)
      .collect().map(_.toString).sorted
    val direct = operators.RetrievalOps.buildNbDocScores(spark, sf)
      .collect().map(_.toString).sorted
    assert(memoized.nonEmpty)
    assert(memoized.sameElements(direct),
      "memoized nbDocScores diverges from the direct build")
  }

}
