package graft

/** Benchmark main — driver contract: run headline queries on
  * `SPARK_GRAFT_SF_DIR`, print ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Each query is timed end-to-end (plan + execute + count). A warmup
  * pass on the flagship query absorbs one-time JVM/codegen cost so the
  * numbers reflect steady-state throughput, which is what comparing
  * against the single-node baseline means.
  */
object Bench {
  /** The stdout-record key for a query: its unique prefix before the
    * first '_' (d9_substring_spans -> d9). private[graft] so
    * BenchContractSpec pins the SAME function bijective against
    * SparkEntry.queries — a rename that collides two timings fails at
    * test time, not mid-bench. */
  private[graft] def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** `--quick` tier: one representative per operator family — the
    * pre-split escape valve for when the full surface brushes a
    * timeout budget (VERDICT r10 #7: have the tier BEFORE it becomes
    * a forced choice mid-round). Curated, not sampled: each entry is
    * its family's heaviest REPRESENTATIVE shape (scan+agg, shuffle
    * join, window, LSH, graph rounds, inverted index, decontam join,
    * sketch pass, …), so a regression anywhere in the engine moves at
    * least one quick line. SourceInvariantSpec pins membership ⊆
    * SparkEntry.queries so a rename can't silently shrink the tier. */
  private[graft] val quickTier: Set[String] = Set(
    "a2_group_count", "g1_rollup", "g11_cms_freq", "j2_inner_join",
    "j8_salted_join", "t1_topk", "u4_union_concat", "w2_rank_per_group",
    "w10_retention", "r3_interval_overlap", "x10_tfidf", "x8_contamination",
    "d2_minhash_lsh", "d4_ngram_jaccard", "s3_ann_ivf", "s6_ann_recall",
    "er1_fuzzy_block", "gr2_triangles", "gr7_kcore", "idx1_inverted",
    "qr1_batch_bm25", "pipe6_decontam_split", "sm2_split_assign",
    "ts4_mase_backtest", "an1_kanon", "mm1_media_features",
    "m4_upsert_latest", "dq1_fk_orphans", "emb3_standardize",
    "cls1_nb_model", "al1_uncertain_topk", "f1_phone_clean",
    "r1_asof_join", "bpe1_pair_merge")

  /** The cross-query one-time memo builds a full run primes and times
    * as their OWN lines (so member-query timings stay order-
    * independent): the gr2–gr8 co-purchase edge list and the
    * pipe5/pipe6/pipe9/pipe10 per-doc verdict relations (r11 verdict
    * #6). The middle element is the memo's CONSUMER short-keys: a
    * partial run (--quick or named queries) that selects any consumer
    * primes-and-times the memo too, so the build cost appears as its
    * own line instead of silently landing on (or vanishing from,
    * under min-of-two) the first consumer's timing — ADVICE r12. The
    * gate-coverage spec derives BENCH_X10.json's expected key set
    * from these names — add a memo here and the gate re-runs or the
    * suite goes red, by construction. Each build is its memo line's
    * named steps, timed to stderr by [[Memo.run]] (the copurchase
    * bundle times its own internal steps; the NB line has no split). */
  private[graft] val memoBuilds: Seq[(String, Set[String], (org.apache.spark.sql.SparkSession, String) => Unit)] = Seq(
    ("memo_copurchase_edges",
      Set("gr2", "gr3", "gr4", "gr5", "gr6", "gr7", "gr8"),
      (s, d) => { operators.GraphOps.artifacts(s, d); () }),
    // the two verdict relations are independent (different source
    // tables, no shared subtree), so they build as two concurrent jobs:
    // pipe5's per-doc stats pass back-fills the cores pipe6's decontam
    // join leaves idle between its stages (3.04 → 2.32 s at sf0.1)
    ("memo_pipeline_perdoc",
      Set("pipe5", "pipe6", "pipe9", "pipe10"),
      Memo.run("memo_pipeline",
        Memo.Step("pipe5_perdoc", concurrent = true)(operators.PipelineOps.pipe5PerDoc),
        Memo.Step("pipe6_hits")(operators.PipelineOps.pipe6Hits))),
    ("memo_dedup_sigs",
      Set("d2", "d7", "d10", "d12", "d13", "d14", "d15", "d17", "leak1"),
      Memo.run("memo_dedup_sigs",
        Memo.Step("signatures")(operators.DedupOps.signatures),
        Memo.Step("candidates")(operators.DedupOps.bandedCandidates),
        Memo.Step("d2_pairs")(operators.DedupOps.d2Pairs),
        Memo.Step("d10_verdicts")(operators.DedupOps.d10))),
    // r17 (guide §1.2 — remove duplicate corpus passes): the NB
    // doc-score relation was rebuilt per consumer query — four
    // identical three-scan model+serve passes per full run (cls2,
    // cls4, cal1, al1); a bm25-pass memo was measured and REVERTED
    // (no consumer gain — qr1's per-query persist already bounds the
    // rebuild; see the qr1 scaladoc NO-GO note)
    ("memo_nb_scores",
      Set("cls2", "cls4", "cal1", "al1"),
      (s, d) => { operators.RetrievalOps.nbDocScores(s, d); () }))

  /** One timed run of a query. A failed query reports -1, never a
    * (fast) bogus elapsed time, and names its cause on stderr as
    * `[graft] <query> failed: <class>: <message>`, so the -1 in
    * BENCH_FULL.json comes with its reason. */
  private[graft] def once(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      // time FULL materialization of the query's own plan, not
      // df.count(): Catalyst prunes every column count() doesn't
      // need, so a projection-heavy query (cleaning chains,
      // p1-class selects) was under-measured.
      // toRdd executes the final physical plan and produces each
      // output row; count() on the RDD forces every partition.
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[graft] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      -1.0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // warmup: JVM + whole-stage-codegen compile paths
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Optional args = query names (full or short-key) to bench alone,
    // for local iteration on one operator, or `--quick` for the
    // curated per-family tier. The driver always calls with no args ->
    // full surface, and only a FULL run may overwrite BENCH_FULL.json
    // (a partial run must never clobber the record).
    // Flags and names compose: `Bench --quick g5` benches the quick
    // tier plus g5; an unknown dash-prefixed arg fails loudly instead
    // of silently becoming a never-matching query name (ADVICE r11).
    val (flags, names) = args.partition(_.startsWith("-"))
    val badFlags = flags.filterNot(_ == "--quick")
    require(badFlags.isEmpty, s"unknown flags: ${badFlags.mkString(",")}")
    val wanted =
      if (flags.contains("--quick")) quickTier ++ names else names.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter { case (n, _) =>
        wanted.contains(n) || wanted.contains(shortKey(n)) }
    // Full runs prime the shared cross-query memos FIRST and record
    // the build as its own line in BENCH_FULL.json: gr2–gr5 share the
    // memoized co-purchase edge list, so whichever ran first used to
    // absorb the build — making those per-query timings order-
    // dependent (the VERDICT r9 watchlist item). The build is real
    // work, so it counts toward the total either way; this only fixes
    // the ATTRIBUTION.
    // Full runs prime every memo; a partial run primes (and times)
    // the memo names selected PLUS any memo whose consumer family
    // intersects the selection (ADVICE r12: --quick used to skip the
    // gr/pipe memo builds, so the first consumer's timed run absorbed
    // them and quick totals weren't comparable to full totals). The
    // gate's isolated retrial can still re-measure a flagged memo
    // line by name, the same way it re-measures a query.
    val selectedKeys = selected.map { case (n, _) => shortKey(n) }.toSet
    val memoLines: Seq[(String, Double)] =
      memoBuilds.filter { case (name, consumers, _) =>
        wanted.isEmpty || wanted.contains(name) ||
          consumers.exists(selectedKeys.contains)
      }.map { case (name, _, prime) =>
        val t0 = System.nanoTime()
        val t = try { prime(spark, sfDir); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
        name -> t
      }
    // THREE timed runs per query, min reported, spread recorded —
    // and the runs are INTERLEAVED as three full passes over the
    // query list, not back-to-back per query. Back-to-back min-of-3
    // shares one contention window: when the box is loaded for the
    // ~30 s a query's three trials span, all three minima inflate
    // together and the "min" records the noise (VERDICT r15 #2: the
    // r15 record read 180.6 s vs 107.5 r14, while a same-box retrial
    // minutes later measured the worst entries at 1/8 of the recorded
    // minima — the contention owned whole queries). With full passes,
    // a loaded window inflates ONE pass's reading for each query it
    // overlaps; the per-query min across passes (taken ~minutes
    // apart) survives, and the inflation lands in the spread, where
    // it belongs. The per-query relative spread (max-min)/min across
    // passes goes to BENCH_FULL as its own map, so a round-over-round
    // diff can tell a real regression (stable spread, moved min) from
    // box noise (spread comparable to the delta). Memo builds stay
    // single-shot — a second prime hits the memo, so only their first
    // run is real.
    // SPARK_GRAFT_BENCH_RUNS overrides the per-query run count (the
    // x100 probe uses 2 — at 60M-row inputs a third run buys little
    // precision for a lot of wall; official records keep the default)
    // malformed values fail LOUDLY before any query runs (ADVICE r14:
    // a bare .toInt inside the run loop would crash mid-bench; worse,
    // a malformed ROUND inside the archive's catch-all silently
    // skipped the round archive)
    val nRuns = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { v =>
        require(scala.util.Try(v.toInt).isSuccess,
          s"SPARK_GRAFT_BENCH_RUNS is not an int: '$v'")
        v.toInt
      }.getOrElse(3))
    val ordered = selected.sortBy(_._1)
    // nRuns FULL passes over the whole list; each query's scratch
    // cache is cleared after its run in EVERY pass, so pass 2/3 time
    // the same cold-cache work as pass 1 (JIT/codegen warmth carries
    // over, which is what min-of-N was for in the first place).
    val passes: Seq[Seq[Double]] = Seq.fill(nRuns) {
      ordered.map { case (name, fn) =>
        val t = once(spark, sfDir, name, fn)
        // cached tables some operators persist are per-query scratch
        spark.catalog.clearCache()
        t
      }
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val runs = passes.map(_(i))
      val t = if (runs.exists(_ < 0)) -1.0 else runs.min
      val spread = if (t <= 0) -1.0 else (runs.max - t) / t
      (name, t, spread)
    }
    // any failed query (-1) poisons the headline: a smaller-is-better
    // total must never look BETTER because a query crashed
    val lines = memoLines ++ results.map { case (n, t, _) => (n, t) }
    val total =
      if (lines.exists(_._2 < 0)) -1.0 else lines.map(_._2).sum
    // The stdout JSON line must fit the driver's 2000-char stdout tail
    // (with sbt's "[success] …" trailer after it) or the driver records
    // parsed:null — which it did for six straight rounds with full
    // query names (~2.9k chars), and AGAIN in r9 when even the
    // short-key map (~2.4k at 172 queries) outgrew the tail. The
    // stdout record is now TOTALS-ONLY (~90 chars — fits at any
    // surface size, forever); the per-query map goes exclusively to
    // BENCH_FULL.json next to the repo for human/judge reading.
    // shortKey uniqueness still pinned: BENCH_FULL keys and the
    // `bench <key>` CLI selection depend on it.
    val shortKeys = results.map(r => shortKey(r._1))
    require(shortKeys.distinct.size == results.size,
      "query short-key collision: " +
        shortKeys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.mkString(","))
    val fullQs = lines.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // per-query relative spread across the 3 timed runs — the
    // variance record VERDICT r13 #2 asked for (memo lines are
    // single-shot builds and carry no spread entry)
    val spreads = results.map { case (k, _, sp) =>
      "\"" + k + "\":" + f"$sp%.2f" }.mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"queries":$fullQs,"spread":$spreads,"sf":"$sfDir"}"""
    if (wanted.isEmpty)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
          (fullLine + "\n").getBytes("UTF-8"))
        // per-round archive (VERDICT r12 #4: BENCH_FULL.json is
        // overwritten each round, making per-query regression diffs
        // impossible). The round number comes from SPARK_GRAFT_ROUND
        // when set (ADVICE r13: the max+1 heuristic can mislabel when
        // a BENCH_r<N>.json lands between runs, and silently archives
        // NOTHING on a fresh checkout); the fallback stays
        // max(BENCH_r<N>)+1, and a skipped archive now says so.
        // SPARK_GRAFT_NO_ARCHIVE opts out: scale_probe's x10 benches
        // save/restore BENCH_FULL.json but must not overwrite the
        // round archive with probe-dir numbers.
        if (!sys.env.contains("SPARK_GRAFT_NO_ARCHIVE")) {
          // an unparsable SPARK_GRAFT_ROUND routes to the explicit
          // SKIPPED message — never the max+1 inference (which could
          // mislabel) and never a throw inside this catch-all (ADVICE
          // r14: the throw silently skipped the archive, defeating
          // the "a skipped archive says so" rule)
          val round = sys.env.get("SPARK_GRAFT_ROUND") match {
            case Some(v) => scala.util.Try(v.toInt).toOption
              .toRight(s"SPARK_GRAFT_ROUND is not an int: '$v'")
            case None =>
              val re = "BENCH_r(\\d+)\\.json".r
              val ns = Option(new java.io.File(".").listFiles())
                .getOrElse(Array.empty[java.io.File])
                .flatMap(f => f.getName match {
                  case re(n) => Some(n.toInt)
                  case _ => None
                })
              if (ns.isEmpty)
                Left("no SPARK_GRAFT_ROUND and no BENCH_r<N>.json to infer from")
              else Right(ns.max + 1)
          }
          round match {
            case Right(n) =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(f"BENCH_FULL_r$n%02d.json"),
                (fullLine + "\n").getBytes("UTF-8"))
            case Left(why) =>
              System.err.println(s"[graft] round archive SKIPPED: $why")
          }
        }
      }
      catch { case _: Throwable => () } // read-only cwd must not fail the bench
    else
      // partial run: per-query (and per-memo) times for local
      // iteration and the gate's isolated retrial (never the
      // official record, so length doesn't matter here)
      lines.foreach { case (k, v) => System.err.println(f"[graft]   $k%-28s $v%.3f s") }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"sf":"$sfDir"}""")
    if (lines.exists(_._2 < 0)) {
      System.err.println("[graft] bench FAILED queries: " +
        lines.filter(_._2 < 0).map(_._1).mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
