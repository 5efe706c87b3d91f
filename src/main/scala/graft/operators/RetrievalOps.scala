package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Memo, Tables}
import graft.functions.Fns.{roundFp, strJoin, toks}

/** Retrieval and vocabulary operators — the eval-set / tokenizer side
  * of a training-data pipeline: batch BM25 retrieval (contamination
  * screens and RAG indexing run THOUSANDS of queries, not one),
  * vocabulary-coverage analysis (the signal a tokenizer design reads),
  * and a count-based Naive-Bayes trainer (the classical lang-ID /
  * quality-filter model, trained as pure aggregation).
  *
  * All three follow the repo's portability rule: every cross-engine
  * number is either an exact integer (counts, `div` ratios in ppm) or
  * a float quantized through roundFp, so the DuckDB oracle matches
  * bit-for-bit.
  */
object RetrievalOps {

  /** The fixed query set for qr1 — an eval-suite stand-in. The SQL
    * VALUES literal is generated from this one constant so the engine
    * and the oracle can never disagree on the query set. */
  private val QUERIES: Seq[(Long, String)] = Seq(
    1L -> "hash table", 2L -> "join merge", 3L -> "sort key",
    4L -> "stream window", 5L -> "fast query")

  private val QTERMS: Seq[(Long, String)] =
    QUERIES.flatMap { case (id, q) => q.split(" ").map(id -> _) }

  private val TERMSET: Seq[String] = QTERMS.map(_._2).distinct.sorted

  /** Spec-visible face of [[QTERMS]] (the ADVICE convention: specs
    * reference THE constant, not a hard-coded copy). */
  private[graft] def queryTermPairs: Seq[(Long, String)] = QTERMS

  /** qr1 — batch BM25 retrieval: top-3 documents per query for the
    * whole [[QUERIES]] set in ONE pass over the corpus. x11 is the
    * single-query form; the batch form is what decontamination
    * actually runs (an eval suite is |Q| ≈ 10³–10⁵ queries), and the
    * point of the shape is that cost is one corpus scan + work
    * proportional to hits on the UNION of query terms — not |Q|
    * corpus scans.
    *
    * Plan at 100 TB: the union-of-terms filter is a literal `isin`
    * pushed below the (doc, term) aggregation, so non-query terms
    * never aggregate; hits is cached (the x10/x11/x12 single-subtree
    * invariant); df comes back as ≤|terms| rows broadcast; the
    * query-fanout join broadcasts the |Q·terms| query table (the one
    * join a retrieval batch genuinely wants broadcast — its size is
    * the eval suite, not the corpus); the per-query top-3 is a
    * row_number window partitioned by query_id, so the final sort is
    * per-query, never global. BM25 constants match x11 (k1=1.2,
    * b=0.75) down to the literal parse. */
  private def qr1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE kernel pass over the corpus (r16): the declarative form
    // tokenized TWICE — the hits subtree (explode+isin+agg) and the
    // corpus-stats agg each re-derived the token relation from the
    // scan — and pushed every token through an exploded filter. The
    // kernel probes the |union-of-terms| set per token in-task and
    // emits only (doc, dl, hit-term, tf) rows plus ONE dl sentinel
    // row per doc (term = null), so the persisted relation feeds
    // BOTH consumers: hits = the non-null slice, corpus stats = a
    // 2-agg over the sentinels. Rows ≈ docs + hits, never tokens.
    // r17 NO-GO (measured): memoizing this pass per corpus version
    // (the memo_nb_scores pattern) moved NO cost out of qr2–qr5 —
    // the per-query persist already bounds the rebuild to one cheap
    // kernel scan, and every consumer's time is its own downstream
    // stages — while the memo line added its own single-shot ~0.65 s
    // build+checkpoint. Reverted; the nb memo stayed because ITS
    // consumers re-ran a three-scan UNPERSISTED subtree per query.
    val qset = TERMSET.toSet
    val pass = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val probe = qset
        it.flatMap { case (id, text) =>
          val t = text.split(" ", -1)
          val dl = t.length.toLong
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i < t.length) {
            if (probe(t(i))) m.update(t(i), m.getOrElse(t(i), 0L) + 1L)
            i += 1
          }
          Iterator.single((id, dl, null: String, 0L)) ++
            m.iterator.map { case (w, n) => (id, dl, w, n) }
        }
      }
      .toDF("doc_id", "dl", "term", "tf")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hits = pass.filter(col("term").isNotNull)
    val df = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = pass.filter(col("term").isNull)
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val q = QTERMS.toDF("query_id", "term")
    hits.join(broadcast(df), Seq("term"))
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(roundFp(sum(col("term_score")), 6).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= 3)
  }

  /** voc1's vocabulary size. Deliberately below the corpus's distinct
    * term count so OOV rates are non-trivial at gate sf; a production
    * run sets it to the tokenizer's vocab budget. */
  private val VOCAB_SIZE = 16

  /** voc1 — vocabulary coverage / OOV rate: take the top
    * [[VOCAB_SIZE]] terms by corpus frequency (count desc, term asc —
    * the deterministic tie-break) as the vocabulary, then report each
    * document's out-of-vocabulary token fraction in exact ppm
    * (integer `div`, no float anywhere). This is the tokenizer-design
    * loop's first question — "what does a V-token vocab leave
    * uncovered, and WHERE" — and the per-doc form feeds directly into
    * curation (high-OOV docs are the gibberish/boilerplate tail).
    *
    * Plan at 100 TB: pass 1 aggregates term counts (one shuffle of
    * (term, partial-count) — partial agg makes the exchange
    * vocabulary-sized) and TakeOrderedAndProject keeps V rows; the
    * vocab broadcast is CORRECT here, unlike x10's removed hint —
    * its size is the fixed V, independent of corpus scale. Pass 2
    * explodes tokens, probes the broadcast, and partial-aggregates
    * per doc, so the only exchange carries (doc_id, two longs). */
  private def voc1(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
    val vocab = docs.select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc)
      .limit(VOCAB_SIZE)
      .select(col("term"), lit(1L).as("in_v"))
    docs.select(col("doc_id"), explode(col("t")).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov"))
      .select(col("doc_id"), col("n_tok"), col("oov"),
        expr("(1000000 * oov) div n_tok").as("oov_ppm"))
  }

  /** voc3's vocabulary-size sweep — brackets voc1's served
    * [[VOCAB_SIZE]] (=16) from both sides. */
  private[graft] val VOC3_SIZES = Seq(8, 16, 24, 32)

  /** voc3 — the vocabulary-size coverage curve (the d16/pipe10 knob
    * pattern on voc1's axis): what fraction of all corpus tokens does
    * a top-V vocabulary cover, for V bracketing the served size? The
    * Zipf-shaped answer is the sizing evidence behind any fixed-V
    * tokenizer/vocab decision (voc1 reports the per-doc consequences
    * of ONE V; this is the curve that CHOSE it), and the served V
    * appears as its own row.
    *
    * Scale shape (the x15 head pattern — VERDICT r12 #1 replaced a
    * full-vocabulary unpartitioned window here, which would have
    * serialized 10⁸–10⁹ terms through one task's sort at 100 TB):
    * ONE corpus scan partial-aggregates to the (term, count)
    * relation; `tot`/`n_terms` come from ONE partial+final aggregate
    * of that relation, broadcast back as a 1-row dimension; the head
    * cut is orderBy+limit = TakeOrderedAndProject (per-task heaps,
    * driver merges max(VOC3_SIZES) rows — never a global sort of the
    * vocabulary); rank and running coverage are windows over THAT
    * ≤32-row head, single-partition BY CONSTRUCTION (bounded by the
    * literal K, not by the data). The sweep is a 4-row broadcast
    * joined on rank = min(V, |vocab|). Coverage is exact integer
    * ppm. */
  private def voc3(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // vocabulary-sized, two consumers (totals agg + head cut) — the
    // x12 spillable-persist pattern, so the corpus scans ONCE
    val counts = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.agg(sum(col("c")).as("tot"),
      count(lit(1)).as("n_terms"))
    val byCnt = Window.orderBy(col("c").desc, col("term").asc)
    val ranked = counts
      .orderBy(col("c").desc, col("term").asc).limit(VOC3_SIZES.max)
      .withColumn("rnk", row_number().over(byCnt))
      .withColumn("cum", sum(col("c")).over(
        byCnt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(totals))
    val sizes = s.range(0, VOC3_SIZES.size)
      .select(expr(s"element_at(array(${VOC3_SIZES.mkString(",")}), " +
        "CAST(id + 1 AS INT))").cast("long").as("vocab_size"))
    ranked.join(broadcast(sizes),
        col("rnk") === least(col("vocab_size"), col("n_terms")))
      .select(col("vocab_size"), col("rnk").cast("long").as("n_terms_used"),
        col("cum").as("covered_tokens"), col("tot").as("total_tokens"),
        expr("(1000000 * cum) div tot").as("coverage_ppm"))
  }

  /** cls1 — multinomial Naive-Bayes trainer over (lang → token)
    * counts: per language, the doc-count prior and the top-5 terms by
    * conditional token probability, every probability an exact ppm
    * long (`(10⁶·count) div total` — floor division, deterministic in
    * any engine). Count-based NB is THE classical distributed-
    * friendly text classifier: training is literally one groupBy, so
    * it scales as a single partial-aggregated exchange of
    * (lang, term, count) — vocabulary-sized, not corpus-sized — and
    * model quality questions become count questions the rest of the
    * engine already answers. Top-5-per-class is the model summary a
    * data card embeds (the full conditional table is the same plan
    * minus the rank filter).
    *
    * The per-lang total rides a window over the |langs|×|vocab|
    * aggregate (already tiny), and the prior pass is a |langs|-row
    * aggregate with a global-window total — no corpus-sized exchange
    * anywhere past the first groupBy. */
  private def cls1(s: SparkSession, d: String): DataFrame = {
    val lt = Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("lang"))))
    val prior = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .withColumn("tot_d", sum(col("nd")).over(Window.partitionBy()))
      .select(col("lang"), expr("(1000000 * nd) div tot_d").as("prior_ppm"))
    lt.withColumn("cond_ppm", expr("(1000000 * c) div tot"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("cond_ppm").desc, col("term").asc)))
      .filter(col("rnk") <= 5)
      .join(broadcast(prior), Seq("lang"))
      .select(col("lang"), col("prior_ppm"), col("term"),
        col("cond_ppm"), col("rnk"))
  }

  /** cls2's model vocabulary per class — the top-MV terms by class
    * count. Restricting the model to a FIXED per-class vocabulary is
    * what keeps the serve join broadcastable by construction: the
    * model is ≤ |langs|·MV rows at any corpus size (fastText-style
    * restricted-vocab classification), unlike a full conditional
    * table whose row count is the open vocabulary. */
  private val CLS_MV = 8

  /** cls2 — Naive-Bayes SERVE: score every document under the cls1-
    * style count model and report the per-language confusion matrix
    * (true_lang, pred_lang, n_docs). cls1 trains; this is the other
    * half of the classifier loop — the language-ID / quality-filter
    * inference pass a curation pipeline runs over the whole corpus.
    *
    * Log-likelihoods are the portability wall here: libm log is not
    * correctly-rounded, so Σ log p would diverge across engines (the
    * x10/x12 story). The scorer instead quantizes each probability to
    * its INTEGER log2 — ilog2(ppm + 1) = length(bin(ppm + 1)) − 1,
    * exact string-of-bits arithmetic that is bit-identical in any
    * engine — and scores by Σ tf·ilog2(cond) + ilog2(prior). That is
    * a coarse (1-bit-resolution) NB, but coarseness is a model-
    * quality knob; determinism is a correctness requirement, and the
    * argmax tie-break (score desc, lang asc) is pinned on both sides.
    *
    * Plan at 100 TB: the model build aggregates (lang, term) counts —
    * one partial-aggregated vocabulary-sized exchange — and keeps MV
    * rows per class; serve explodes tokens once and probes the
    * broadcast model (≤ |langs|·MV rows by construction, the voc1
    * argument), so the only corpus-sized exchange carries
    * (doc_id, lang, m_lang, long). The per-doc argmax windows over
    * ≤ |langs| rows per doc. Docs hitting NO model term are
    * unclassifiable under the restricted vocab and are excluded —
    * deterministically, on both engines. */
  private def cls2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    nbDocScores(s, d)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("m_lang").asc)))
      .filter(col("r") === 1)
      .groupBy(col("lang"), col("m_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang").as("true_lang"), col("m_lang").as("pred_lang"),
        col("n_docs"))
  }

  /** Memoized per-(session, corpus-version) NB doc-score relation —
    * see [[buildNbDocScores]]. Four registered queries consume it
    * (cls2 confusion, cls4 calibrated filter, cal1 calibration, al1
    * uncertainty queue) and each used to re-run the full three-scan
    * model-build + serve pass per query — four identical corpus
    * scoring passes per full run (guide §1.2: remove duplicate
    * passes first). Production scores the corpus under a model once
    * per corpus version and every downstream report reads the score
    * table; Bench times the build as its own `memo_nb_scores` line
    * (the memo_dedup_sigs discipline). The checkpointed relation is
    * docs×candidate-langs rows of (long, string, string, long) —
    * the d10-verdict posture, narrow and docs-sized, never
    * token-sized. */
  private[graft] val nbMemo = Memo[DataFrame]("documents")

  private[graft] def nbDocScores(s: SparkSession, d: String): DataFrame =
    nbMemo.get(s, d)(buildNbDocScores(s, d).localCheckpoint(true))

  /** The per-document NB candidate scores (doc_id, lang, m_lang,
    * score) under the cls2 restricted-vocab integer-log2 model —
    * cls2 takes the per-doc argmax into a confusion matrix, cal1
    * reads the top-2 gap as a confidence signal. One model build,
    * N consumers via [[nbDocScores]]'s memo. */
  private[graft] def buildNbDocScores(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val model = Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(byLang))
      .withColumn("rnk", row_number().over(
        byLang.orderBy(col("c").desc, col("term").asc)))
      .filter(col("rnk") <= CLS_MV)
      .select(col("lang").as("m_lang"), col("term"),
        (length(bin(expr("(1000000 * c) div tot") + lit(1L))) - lit(1))
          .cast("long").as("w"))
    val prior = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .withColumn("tot_d", sum(col("nd")).over(Window.partitionBy()))
      .select(col("lang").as("m_lang"),
        (length(bin(expr("(1000000 * nd) div tot_d") + lit(1L))) - lit(1))
          .cast("long").as("pw"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("term"))
      .join(broadcast(model), Seq("term"))
      .groupBy(col("doc_id"), col("lang"), col("m_lang"))
      .agg(sum(col("w")).as("hw"))
      .join(broadcast(prior), Seq("m_lang"))
      .withColumn("score", col("hw") + col("pw"))
      .select(col("doc_id"), col("lang"), col("m_lang"), col("score"))
  }

  /** cls4's tail-accuracy bar in ppm (keep docs only where the
    * calibrated confidence band clears it). */
  private[graft] val CLS4_ACC_PPM = 900000L

  /** cls4 — the deployed calibrated filter, closing the classifier
    * loop cls1/cls2/cal1 opened: score every contested document
    * (cls2's model), read the calibration table (cal1's margins) to
    * find the SMALLEST margin whose cumulative-from-the-top accuracy
    * clears [[CLS4_ACC_PPM]], and keep only documents at or above
    * that margin — "filter with a confidence threshold chosen from
    * measured calibration, not from a vibes constant". Falls back to
    * the strictest observed margin if no band qualifies. Output is
    * the kept-count/correct-count table per predicted language — the
    * filter's own audit.
    *
    * Scale shape: ONE nbDocScores pass (3 pruned scans, the cls2
    * shape); the per-doc margin relation persists (docs-sized,
    * narrow) and feeds both the calibration aggregate
    * (margin-domain-sized, ~±40 rows) and the final filter; the
    * threshold is a 1-row broadcast. The cumulative window rides the
    * AGGREGATED margin table — bounded by the ilog2 score range, not
    * the corpus (the unpartitioned-window census argument). */
  private def cls4(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang").asc)
    val marg = nbDocScores(s, d)
      .withColumn("r", row_number().over(w))
      .withColumn("nxt", lead(col("score"), 1).over(w))
      .filter(col("r") === 1 && col("nxt").isNotNull)
      .select(col("doc_id"), col("lang"), col("m_lang"),
        (col("score") - col("nxt")).as("margin"))
      .persist(StorageLevel.MEMORY_AND_DISK) // calibration + filter
    val cal = marg
      .select(col("margin"),
        when(col("lang") === col("m_lang"), 1L).otherwise(0L).as("ok"))
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("k"))
    val wd = Window.orderBy(col("margin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = cal
      .withColumn("cn", sum(col("n")).over(wd))
      .withColumn("ck", sum(col("k")).over(wd))
      .agg(coalesce(
        min(when(expr("(1000000 * ck) div cn") >= CLS4_ACC_PPM,
          col("margin"))),
        max(col("margin"))).as("thr"))
    marg.crossJoin(broadcast(thr))
      .filter(col("margin") >= col("thr"))
      .groupBy(col("m_lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(when(col("lang") === col("m_lang"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("m_lang").as("pred_lang"), col("n_kept"),
        col("n_correct"))
  }

  /** qr2's expansion-term budget per query. */
  private val QR2_TOP = 5

  /** qr2 — pseudo-relevance feedback (RM3-style query expansion):
    * take qr1's top-3 BM25 documents per query as the feedback set,
    * count in how many feedback docs each term appears, drop the
    * original query terms, and keep the top-[[QR2_TOP]] expansion
    * terms per query by (feedback-df desc, term asc). This is the
    * second half of every classic retrieval loop — retrieve, mine
    * the hits for co-occurring vocabulary, re-query — and the
    * counts are pure integers, so the whole expansion is replayable.
    *
    * Plan at 100 TB: qr1's scoring is the corpus-scale part (one
    * scan, persisted hits); the feedback set is |Q|·3 rows BY
    * CONSTRUCTION, so the doc-text fetch is a broadcast join against
    * the corpus scan (a semi-join with payload — only feedback docs
    * ever explode), and everything downstream (distinct, counts,
    * the anti-join against the |QTERMS|-row exclusion list, the
    * per-query top-5 window) runs on feedback-sized data. */
  private def qr2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fb = qr1(s, d).select(col("query_id"), col("doc_id"))
    val qt = QTERMS.toDF("query_id", "term")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .join(broadcast(fb), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        explode(toks(col("text"))).as("term"))
      .distinct()
      .groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("fb_df"))
      .join(broadcast(qt), Seq("query_id", "term"), "left_anti")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("fb_df").desc, col("term").asc)))
      .filter(col("rnk") <= QR2_TOP)
  }

  /** cal1 — confidence calibration of the cls2 classifier: bucket
    * every CONTESTED document (>= 2 candidate classes under the
    * restricted vocab) by its top-2 score MARGIN — the integer-log2
    * analog of a posterior-probability confidence — and report the
    * empirical accuracy per margin. The reliability table is what
    * decides a quality-filter threshold: "keep docs the classifier
    * calls X with margin >= m" is only sound where acc(m) is
    * actually high, and a miscalibrated band shows up here as a
    * non-monotone row, before any corpus is filtered with it.
    *
    * Scores are already exact integers (the cls2 portability
    * argument), so the margin is exact long subtraction and the
    * bucket key needs no binning at all — the margin domain is
    * bounded by the ilog2 score range (~±40), not by the corpus.
    *
    * Plan: one extra `lead()` rides cls2's existing per-doc window
    * (same partition key, same order — one WindowExec evaluates
    * both), then a ≤|margin-domain|-row aggregate. No second corpus
    * pass beyond nbDocScores' own. */
  private def cal1(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang").asc)
    nbDocScores(s, d)
      .withColumn("r", row_number().over(w))
      .withColumn("nxt", lead(col("score"), 1).over(w))
      .filter(col("r") === 1 && col("nxt").isNotNull)
      .select((col("score") - col("nxt")).as("margin"),
        when(col("lang") === col("m_lang"), 1L).otherwise(0L).as("ok"))
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
      .withColumn("acc_ppm", expr("(1000000 * n_correct) div n_docs"))
  }

  /** al1's labeling-queue size. */
  private[graft] val AL1_K = 20

  /** al1 — uncertainty sampling (margin variant, Lewis & Gale's
    * active-learning selection): the [[AL1_K]] documents whose
    * top-1 vs top-2 NB score margin is SMALLEST — the docs the
    * classifier is least sure about, which is exactly the labeling
    * queue an annotation budget should buy (cal1 is the evidence:
    * its margin-vs-accuracy table shows small margins are
    * error-dense, so labeling them moves the decision boundary
    * most). Composed from the same registered nbDocScores relation
    * as cls2/cal1 (one definition, N consumers), with the predicted
    * lang and the correctness flag riding along so the spec can
    * assert the queue is error-denser than the corpus.
    *
    * Scale shape: nbDocScores' 3-pass shape + the same per-doc
    * window as cal1, then a (margin, doc) TakeOrderedAndProject —
    * bottom-K is per-partition prunable, never a global sort. */
  private def al1(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang").asc)
    nbDocScores(s, d)
      .withColumn("r", row_number().over(w))
      .withColumn("nxt", lead(col("score"), 1).over(w))
      .filter(col("r") === 1 && col("nxt").isNotNull)
      .select(col("doc_id"), col("m_lang").as("pred_lang"),
        (col("score") - col("nxt")).as("margin"),
        when(col("lang") === col("m_lang"), 1L).otherwise(0L).as("ok"))
      .orderBy(col("margin").asc, col("doc_id").asc)
      .limit(AL1_K)
  }

  /** bpe1's report size — the top adjacent pairs by corpus count. */
  private val BPE_TOP = 20

  /** bpe1 — the first BPE merge decision: count every ADJACENT
    * CHARACTER PAIR inside whitespace words across the corpus and
    * return the top [[BPE_TOP]] pairs (count desc, pair asc — the
    * deterministic merge order). Byte-pair-encoding training is
    * exactly this loop — count pairs, merge the argmax, repeat — so
    * this is the tokenizer-training primitive voc1's coverage
    * analysis evaluates; production iterates the SAME plan with the
    * merged symbol table applied between rounds.
    *
    * Plan at 100 TB: one corpus scan; the word explode and the
    * pair transform both stay inside whole-stage codegen (no kernel —
    * `transform(sequence(1, len−1), i -> substring(w, i, 2))`), and
    * the one exchange carries (2-char pair, partial count): the pair
    * key space is bounded by the charset², so the aggregation state
    * is tiny regardless of corpus size, and the top-k is
    * TakeOrderedAndProject, never a global sort. Words shorter than
    * 2 chars are filtered BEFORE the transform (also keeps
    * `sequence(1, 0)`'s descending-step surprise out of the plan). */
  private def bpe1(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(BPE_TOP)
  }

  /** tok1's merge table — the SERVE-time vocabulary. These are bpe1's
    * actual top pairs on this corpus in rank order (count desc, pair
    * asc — bpe1's deterministic merge order), frozen as a literal the
    * way a trained tokenizer ships its merges file; the same constant
    * generates the oracle's replace chain so the two engines cannot
    * disagree on the vocabulary. */
  private[graft] val tok1Merges: Seq[(Char, Char)] = Seq(
    ('e', 'r'), ('i', 'n'), ('o', 'w'), ('o', 'r'),
    ('s', 't'), ('m', 'e'), ('t', 'o'), ('a', 't'))

  /** The symbol-merge chain applied to one word, as a SQL expression
    * over variable `w`: explode the word to space-separated symbols
    * (leading sentinel space so every symbol has both boundaries),
    * then apply each merge as a boundary-anchored string replace.
    * Both engines' `replace` is left-to-right non-overlapping, so the
    * merged segmentations are identical. `esc` is each dialect's
    * spelling of the char-explode regexp_replace. */
  private def mergeChain(esc: String): String =
    mergeChainK(esc, tok1Merges.size)

  /** [[mergeChain]] truncated to the first k merges (rank order IS
    * merge order) — tok2's sweep variable. k = 0 degenerates to the
    * raw character segmentation, the curve's exact anchor. */
  private def mergeChainK(esc: String, k: Int): String =
    tok1Merges.take(k).foldLeft(s"concat(' ', $esc)") { case (acc, (a, b)) =>
      s"replace($acc, ' $a $b ', ' $a$b ')"
    }

  /** tok1 — BPE tokenizer APPLY, the serve side of bpe1's training
    * side: re-segment every document with the frozen [[tok1Merges]] table
    * and report per-doc token economics (whitespace words, raw chars =
    * the token count BEFORE any merge, BPE tokens after the merges,
    * and the compression ratio — the "how many tokens will this cost
    * under MY tokenizer" estimator x3 approximates with a regex).
    *
    * Plan at 100 TB: there is no plan — one corpus scan, zero
    * exchanges, zero explodes. The whole merge chain is
    * `transform`/`aggregate` array algebra over codegen'd string
    * builtins (regexp_replace/replace/split), so tokenization runs at
    * scan speed per partition, which is exactly how a real tokenizer
    * pass is deployed (it's embarrassingly parallel; anything that
    * shuffles to tokenize is wrong). */
  /** tok1's per-word token count as a SQL expression over variable
    * `w` — exposed so the spec can replay it on fixture words (and
    * assert the kernel below never drifts from the SQL the oracle
    * states). */
  private[graft] val tok1PerWord: String =
    "size(split(trim(" + mergeChain("regexp_replace(w, '(.)', '$1 ')") + "), ' '))"

  /** The char-explode pattern, compiled ONCE: the kernels call it per
    * word per doc, and Pattern.compile per invocation is millions of
    * redundant compiles per corpus scan (r13 review). Same regex the
    * SQL form states, same engine. */
  private val CharExplode = java.util.regex.Pattern.compile("(.)")

  /** [[tok1Merges]] as precomputed replace literals (" a b ", " ab ")
    * — one allocation per JVM, not one per word per merge. */
  private val MergeLits: IndexedSeq[(String, String)] =
    tok1Merges.toIndexedSeq.map { case (a, b) => (s" $a $b ", s" $a$b ") }

  /** [[tok1PerWord]] as a local kernel function — java.util.regex
    * char-explode, java's left-to-right non-overlapping `replace`,
    * the same split/trim arithmetic (empty word → 1, the
    * split('')=[''] convention). Shared by the tok1 kernel and spec
    * replays; Round13OpsSpec asserts it equal to the SQL form on
    * edge-word fixtures so the kernel can never drift from what the
    * oracle states. */
  private[graft] def tok1PerWordLocal(w: String): Long =
    if (w.isEmpty) 1L
    else {
      var st = " " + CharExplode.matcher(w).replaceAll("$1 ")
      var m = 0
      while (m < MergeLits.length) {
        st = st.replace(MergeLits(m)._1, MergeLits(m)._2)
        m += 1
      }
      var spaces = 0L; var p = 0
      while (p < st.length) { if (st.charAt(p) == ' ') spaces += 1; p += 1 }
      spaces - 1L // tokens of " s1 s2 … sN " = spaces − 1
    }

  /** The tok1 transform over any (doc_id, text) relation — stateless
    * and per-row, so it runs UNCHANGED as a streaming projection
    * (spec-proven MemoryStream parity, the ck1 pattern). The merge
    * chain runs in a TYPED KERNEL (r13 — the pipe6/x9/tok2 boundary:
    * the per-word replace chain inside `transform`/`aggregate` HOFs
    * evaluated interpreted), in byte-lockstep with [[tok1PerWord]]
    * via the shared regex engine. */
  private[graft] def tok1Transform(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val words = text.split(" ", -1)
        // length(regexp_replace(text, ' ', '')) — code points
        var nc = 0L
        val cps = text.codePoints().iterator()
        while (cps.hasNext) if (cps.next() != ' ') nc += 1
        var bpe = 0L
        words.foreach(w => bpe += tok1PerWordLocal(w))
        (id, words.length.toLong, nc, bpe)
      })
      .toDF("doc_id", "ws_tokens", "n_chars", "bpe_tokens")
      .withColumn("compression",
        roundFp(col("n_chars").cast("double") / col("bpe_tokens"), 6))
  }

  private def tok1(s: SparkSession, d: String): DataFrame =
    tok1Transform(Tables.documents(s, d))

  /** tok2's merge-budget sweep — 0 (raw chars, the exact 10⁶-ppm
    * anchor) through the full [[tok1Merges]] table. */
  private[graft] val TOK2_BUDGETS = Seq(0, 2, 4, 6, 8)

  /** tok2 — the tokenizer merge-budget curve (the d16/pipe10
    * knob-measurement pattern on bpe1/tok1's axis): corpus token
    * cost and compression under the FIRST k merges of the frozen
    * table, for k = 0..8 — the vocabulary-size-vs-compression trade
    * a tokenizer design reads before committing a merge budget
    * (every added merge buys strictly non-increasing token count;
    * the curve shows where the corpus's returns flatten). Rank order
    * IS merge order (bpe1's count-desc training order), so prefix
    * budgets are exactly "stop training after k merges".
    *
    * Scale shape: ONE corpus scan through a TYPED KERNEL (r13 — the
    * buildSignatures/pipe6/x9 dense-string boundary: the previous
    * declarative form ran the per-word replace chains inside
    * `transform`/`aggregate` HOFs, which evaluate interpreted — 1.6 s
    * vs ~0.3 s kernel at sf0.1). The kernel applies the merge table
    * INCREMENTALLY — budgets are prefixes of one fold, so the five
    * variants cost one chain, not five — and emits ONE partial row
    * per partition; the |budgets|-row stack + ppm arithmetic are
    * corpus-size-free. Lockstep: the kernel uses the same
    * java.util.regex char-explode, java's left-to-right
    * non-overlapping `replace`, and the same split/trim arithmetic
    * the oracle SQL states — and the spec replays the SQL form
    * against kernel outputs. */
  private def tok2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budgets = TOK2_BUDGETS
    // the incremental fold below NEVER rewinds the merge index, so
    // budgets must ascend — an out-of-order list would silently
    // report the previous budget's counts (r13 review)
    require(budgets == budgets.sorted,
      s"TOK2_BUDGETS must be ascending, got $budgets")
    val merges = MergeLits
    val partial = Tables.documents(s, d)
      .select(col("text")).as[String]
      .mapPartitions { it =>
        val bt = new Array[Long](budgets.size)
        var nc = 0L
        it.foreach { text =>
          // length(regexp_replace(text, ' ', '')) — code points, the
          // UTF8String.numChars convention
          nc += text.codePoints().filter(_ != ' ').count()
          text.split(" ", -1).foreach { w =>
            if (w.isEmpty) {
              // size(split(trim(' '), ' ')) = 1 for the empty word,
              // at every budget (the declarative form's arithmetic)
              var j = 0; while (j < bt.length) { bt(j) += 1; j += 1 }
            } else {
              var st = " " + CharExplode.matcher(w).replaceAll("$1 ")
              var mi = 0
              var bi = 0
              while (bi < budgets.length) {
                while (mi < budgets(bi)) {
                  st = st.replace(merges(mi)._1, merges(mi)._2)
                  mi += 1
                }
                // tokens of " s1 s2 … sN " = spaces − 1
                var spaces = 0; var p = 0
                while (p < st.length) {
                  if (st.charAt(p) == ' ') spaces += 1; p += 1
                }
                bt(bi) += spaces - 1
                bi += 1
              }
            }
          }
        }
        Iterator.single((nc, bt.toSeq))
      }
      .toDF("nc", "bt")
    partial
      .agg(sum(col("nc")).as("n_chars"),
        budgets.indices.map(i =>
          sum(col("bt").getItem(i)).as(s"bt${budgets(i)}")): _*)
      .select(col("n_chars"), expr(
        s"""stack(${TOK2_BUDGETS.size}, ${TOK2_BUDGETS.map(k =>
          s"CAST($k AS BIGINT), bt$k").mkString(", ")})
           |AS (n_merges, bpe_tokens)""".stripMargin))
      .select(col("n_merges"), col("n_chars"), col("bpe_tokens"),
        expr("(1000000 * n_chars) div bpe_tokens").as("compression_ppm"))
  }

  /** rrf1 — hybrid retrieval fusion: reciprocal-rank-fuse the lexical
    * BM25 ranking (x11, the registered query VERBATIM) with the dense
    * cosine ranking for query vector 0 (s1, ditto) — the standard
    * two-tower RAG retrieval stack, where neither scorer's scale is
    * comparable so ranks, not scores, fuse: RRF(d) = Σ 1/(60+rank_d).
    * The reciprocal is computed as the exact integer `1000000 div
    * (60+rank)` ppm, so fusion is bit-stable cross-engine with no
    * float division anywhere; the oracle embeds the constituents' own
    * oracle SQL as CTEs, so the three rankings cannot drift apart.
    *
    * Plan at 100 TB: the constituent retrievals do all the heavy
    * lifting under their established plans (x11: query-term-filtered
    * tf agg + TakeOrderedAndProject; s1: broadcast queries over one
    * corpus scan); fusion itself runs on two ≤k-row ranked lists —
    * union + one k-row groupBy, no join at all, cost independent of
    * corpus size BY CONSTRUCTION. */
  private def rrf1(s: SparkSession, d: String): DataFrame = {
    val lex = TextOps.queries("x11_bm25")(s, d)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).as("lex_rank"),
        lit(0).as("vec_rank"))
    val vec = SimilarityOps.queries("s1_ann_brute")(s, d)
      .filter(col("qid") === 0)
      .select(col("nid").as("doc_id"), lit(0).as("lex_rank"),
        col("rank").as("vec_rank"))
    lex.union(vec)
      .groupBy(col("doc_id"))
      .agg(max(col("lex_rank")).cast("long").as("lex_rank"),
        max(col("vec_rank")).cast("long").as("vec_rank"))
      .withColumn("rrf_ppm",
        when(col("lex_rank") > 0, expr("1000000 div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
        when(col("vec_rank") > 0, expr("1000000 div (60 + vec_rank)"))
          .otherwise(lit(0L)))
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf_ppm").desc, col("doc_id").asc)).cast("long"))
  }

  /** idx1's posting-head length: the first P doc-ordered postings
    * published per term. */
  private val IDX1_HEAD = 5

  /** idx1 — inverted-index build: per term, document frequency,
    * collection frequency, and the head of its DOC-ORDERED posting
    * list — the index structure x11/qr1's BM25 and x8's contamination
    * probes conceptually query, built as a first-class artifact.
    * Postings are doc-ordered (how real indexes store them, so
    * multi-term queries merge-join postings without sorting) and the
    * published head is truncated at P: a term's FULL posting list is
    * corpus-sized for stopwords, so an index BUILD may aggregate it
    * (df/cf are scalar aggs) but must never collect it.
    *
    * Scale shape: one (doc, term) tf aggregation (map-side combine on
    * the corpus scan), persisted spillable for its two consumers;
    * term stats are a vocab-sized partial+final agg; the head is a
    * term-keyed row_number window that Spark 4's partial
    * WindowGroupLimit prunes to ≤P per term map-side BEFORE the
    * exchange (the cls3 shape) — so no shuffle ever carries more
    * than vocab·P posting rows. */
  private def idx1(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val head = tf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("rn") <= IDX1_HEAD)
      .groupBy(col("term"))
      // lpad makes lexicographic order = doc order, so the sorted
      // array is deterministic and engine-portable; strJoin flattens
      // it to a scalar — the harness contract (a3/a4 convention,
      // Fns.strJoin scaladoc): the driver's pandas compare cannot
      // sort rows holding ndarray cells
      .agg(strJoin(sort_array(collect_list(
        concat(lpad(col("doc_id").cast("string"), 6, "0"),
          lit("#"), col("tf"))))).as("head"))
    stats.join(head, Seq("term"))
  }

  /** idx2's published result-head length (first P matching docs in
    * doc order). */
  private val IDX2_HEAD = 5

  /** idx2 — conjunctive boolean retrieval over idx1's index shape:
    * for every query in the shared [[QUERIES]] suite, the documents
    * containing ALL of the query's terms (AND semantics — the other
    * half of a retrieval stack next to qr1's ranked OR), reported as
    * the match count plus the doc-ordered head. This is the postings-
    * intersection plan: presence postings for the queried terms only,
    * counted per (query, doc) against the query's term count.
    *
    * Scale shape: the union-of-terms `isin` filter pushes below the
    * presence distinct (non-query terms never leave the scan, the qr1
    * invariant), so postings are hits-sized; the query fanout join
    * broadcasts the |Q·terms| suite; the intersection is ONE
    * (query, doc)-keyed partial+final count equi-checked against the
    * broadcast per-query term count; the head is a query-keyed
    * row_number window pruned to ≤P map-side by Spark 4's partial
    * WindowGroupLimit (the idx1/cls3 shape). The match table persists
    * for its two consumers (count + head) — hits-sized, never the
    * corpus. */
  /** The conjunctive (AND) match set over the shared query suite —
    * idx2's core relation, factored out so qr3's pseudo-qrels reuse
    * the IDENTICAL semantics (one definition, two consumers). */
  private def conjMatches(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = QTERMS.toDF("query_id", "term").distinct()
    val nq = QUERIES.map { case (id, t) =>
      (id, t.split(" ").distinct.length.toLong) }.toDF("query_id", "n_terms")
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term").isin(TERMSET: _*))
      .distinct()
    postings.join(broadcast(q), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("hit_terms"))
      .join(broadcast(nq), Seq("query_id"))
      .filter(col("hit_terms") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
  }

  private def idx2(s: SparkSession, d: String): DataFrame = {
    val matches = conjMatches(s, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = matches.groupBy(col("query_id")).agg(count(lit(1)).as("n_docs"))
    val head = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("doc_id"))))
      .filter(col("rn") <= IDX2_HEAD)
      .groupBy(col("query_id"))
      // strJoin: scalar-only output, the harness contract (see idx1)
      .agg(strJoin(sort_array(collect_list(
        lpad(col("doc_id").cast("string"), 6, "0")))).as("head"))
    counts.join(head, Seq("query_id"))
  }

  /** idx3 — exact phrase retrieval over a POSITIONAL index: for each
    * two-word phrase in the shared [[QUERIES]] suite, the documents
    * where the words occur ADJACENT in order (idx2 is the bag-of-
    * words AND; this is the positional-postings intersection a real
    * index needs for quoted queries), with occurrence totals and the
    * doc-ordered head.
    *
    * Scale shape: ONE positional posting build (posexplode + the
    * union-of-terms `isin` pushed below everything — non-query terms
    * never leave the scan), persisted for its two sides of the
    * adjacency join; the phrase match is an equi-join on
    * (doc, position+1, second-word) — narrow int/string rows, hits-
    * sized; everything downstream is query-keyed aggregation and the
    * idx1/idx2 WindowGroupLimit head. */
  /** The exact-phrase match relation (query, doc, n_occ) — idx3's
    * core positional intersection, factored out so qr4's graded
    * qrels reuse the IDENTICAL semantics (the conjMatches precedent:
    * one definition, two consumers). */
  private def phraseMatches(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = QUERIES.map { case (id, t) =>
      val Array(a, b) = t.split(" "); (id, a, b) }
    val qdf = parts.toDF("query_id", "t1", "t2")
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(TERMSET: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val first = pos.join(broadcast(qdf), col("term") === col("t1"))
      .select(col("query_id"), col("t2"), col("doc_id"),
        (col("pos") + 1).as("p2"))
    first
      .join(pos.select(col("doc_id"), col("pos").as("p2"),
        col("term").as("t2")), Seq("doc_id", "p2", "t2"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  private def idx3(s: SparkSession, d: String): DataFrame = {
    val matches = phraseMatches(s, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = matches.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_occ")).as("n_occurrences"))
    val head = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("doc_id"))))
      .filter(col("rn") <= IDX2_HEAD)
      .groupBy(col("query_id"))
      // strJoin: scalar-only output, the harness contract (see idx1)
      .agg(strJoin(sort_array(collect_list(
        lpad(col("doc_id").cast("string"), 6, "0")))).as("head"))
    counts.join(head, Seq("query_id"))
  }

  /** idx4's maximum in-order position gap (1 = adjacent = idx3). */
  private[graft] val IDX4_WINDOW = 3L

  /** idx4 — proximity retrieval over the positional index: for each
    * two-word query in the shared [[QUERIES]] suite, the documents
    * where the words occur IN ORDER within [[IDX4_WINDOW]] positions
    * (idx3 is the exact-phrase special case, gap = 1; this is the
    * `"a NEAR/3 b"` operator a real retrieval stack offers between
    * bag-of-words AND and quoted phrase), with ordered-pair totals
    * and the doc-ordered head.
    *
    * Scale shape: identical to idx3 — ONE positional posting build
    * (union-of-terms `isin` pushed below the posexplode; non-query
    * terms never leave the scan), persisted for both sides; the
    * proximity match is an EQUI-join on (doc, second-word) over the
    * hits-sized postings with the gap predicate as a residual filter
    * (a banded range join is only worth it when per-(doc, term)
    * posting lists are huge; hits-sized postings make the equi-join
    * + filter the cheaper plan); downstream is the idx1/idx2/idx3
    * query-keyed agg + WindowGroupLimit head. */
  private def idx4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = QUERIES.map { case (id, t) =>
      val Array(a, b) = t.split(" "); (id, a, b) }
    val qdf = parts.toDF("query_id", "t1", "t2")
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(TERMSET: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val first = pos.join(broadcast(qdf), col("term") === col("t1"))
      .select(col("query_id"), col("t2"), col("doc_id"), col("pos").as("p1"))
    val matches = first
      .join(pos.select(col("doc_id"), col("pos").as("p2"),
        col("term").as("t2")), Seq("doc_id", "t2"))
      .filter(col("p2") > col("p1") && col("p2") <= col("p1") + IDX4_WINDOW)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = matches.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_pairs")).as("n_pair_occ"))
    val head = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("doc_id"))))
      .filter(col("rn") <= IDX2_HEAD)
      .groupBy(col("query_id"))
      // strJoin: scalar-only output, the harness contract (see idx1)
      .agg(strJoin(sort_array(collect_list(
        lpad(col("doc_id").cast("string"), 6, "0")))).as("head"))
    counts.join(head, Seq("query_id"))
  }

  /** qr3 — retrieval evaluation as a first-class query: per query,
    * the rank of the first CONJUNCTIVE match (idx2's AND semantics as
    * pseudo-qrels — deterministic relevance without human labels, the
    * standard weak-supervision eval) inside qr1's served BM25 top-3,
    * and its reciprocal in exact ppm. Summing rr_ppm div |Q| gives
    * MRR@3; the s6 composition rule — the evaluated ranking IS the
    * registered qr1 query, and the relevance set IS idx2's registered
    * match relation, so the eval can never drift from what's served.
    *
    * Scale shape: the constituents run under their established plans;
    * the eval itself is a LeftSemi of the |Q|·3 ranking against the
    * hits-sized match set + a |Q|-key agg — rankings-sized,
    * corpus-independent BY CONSTRUCTION. */
  /** qr5 — measured recall of champion-list pruning: idx5's pruned
    * top-3 held against qr1's exhaustive top-3, per the s6 rule that
    * an approximate operator ships WITH its error harness as data
    * (s6 does it for the ANN ladder; this does it for lexical
    * retrieval). Both rankings are the REGISTERED definitions run
    * as-is, so the recall number cannot drift from the operators it
    * grades. One row: queries, exhaustive pairs, champion hits,
    * recall ppm — read beside idx5's |Q|·C·|terms| cost bound, this
    * is the whole pruning trade on one line.
    *
    * Scale shape: the two constituent pipelines (their shapes are
    * theirs), then a rankings-sized (|Q|·3) left join and a 1-row
    * agg. */
  private def qr5(s: SparkSession, d: String): DataFrame =
    qr1(s, d).select(col("query_id"), col("doc_id"))
      .join(idx5(s, d).select(col("query_id"), col("doc_id"),
        lit(1L).as("hit")), Seq("query_id", "doc_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("n_queries"), col("n_pairs"), col("n_hit"),
        expr("(1000000 * n_hit) div n_pairs").as("recall_ppm"))

  private def qr3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hits = qr1(s, d)
      .join(conjMatches(s, d), Seq("query_id", "doc_id"), "left_semi")
      .groupBy(col("query_id")).agg(min(col("rnk")).as("first_rel_rank"))
    QUERIES.map(_._1).toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("first_rel_rank"))
      .select(col("query_id").cast("long").as("query_id"),
        col("first_rel_rank"),
        expr("""CAST(CASE WHEN first_rel_rank = 0 THEN 0
                ELSE 1000000 div first_rel_rank END AS BIGINT)""")
          .as("rr_ppm"))
  }

  /** voc2 — tokenizer fertility per language: tokens-per-word and
    * chars-per-token of the LIVE bpe1/tok1 tokenizer, rolled up by
    * lang — the standard multilingual-tokenizer audit (a vocab
    * trained on one language tokenizes the others at higher
    * fertility; this table is what decides whether the merge table
    * needs rebalancing before a multilingual run). Composed from the
    * REGISTERED tok1 query verbatim (the s6/rrf1 rule), so the audit
    * can never drift from the tokenizer it audits.
    *
    * Scale shape: tok1's one scan + a broadcast-joinable 2-column
    * lang attachment + a ≤|langs|-key agg. */
  private def voc2(s: SparkSession, d: String): DataFrame =
    tok1(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"),
        expr("(1000000 * bpe_tokens) div ws_tokens").as("fertility_ppm"),
        expr("(1000000 * n_chars) div bpe_tokens").as("chars_per_tok_ppm"))

  /** idx5's per-term champion-list length. An index-build knob: at
    * the gate corpus every query term matches ~80% of docs (stopword
    * regime, flat idf), and the measured min champion-depth of the
    * true top-3 podium is 24 — C=32 keeps recall 1.0 with margin
    * while still pruning ~92% of each posting list. Production sets
    * C from the same measurement at its own scale (Manning §7.1.3:
    * "r ... chosen to exceed k"). */
  private[graft] val IDX5_CHAMPIONS = 32

  /** idx5 — champion-list pruned BM25 (Manning IR §7.1.3 "champion
    * lists" / the static-pruning half of WAND): each term publishes
    * only its top-[[IDX5_CHAMPIONS]] postings by IMPACT — the term's
    * length-normalized BM25 tf contribution tf/(tf+k1·(1−b+b·dl/avgdl)),
    * computable at index-build time because within one term the idf
    * factor is a constant. Raw-tf champion ordering was measured at
    * 0.33 top-3 recall on the gate corpus (tf saturates at k1=1.2, so
    * dl-normalization dominates and tf ties break arbitrarily);
    * impact ordering ranks exactly what the scorer will score.
    * Queries score ONLY the union of their terms' champions, full
    * BM25 over those candidates, top-3 per query. qr1 is the
    * exhaustive form — its scoring work is proportional to ALL docs
    * containing any query term, which for a stopword-bearing query at
    * web scale is a constant fraction of the corpus; the champion
    * bound makes scoring |Q|·C·|terms|-sized BY CONSTRUCTION, the
    * trade every production engine takes. Pruning CAN still miss a
    * doc whose aggregate spans many weak terms — s6's measured-recall
    * discipline applies and the spec pins recall vs qr1.
    *
    * Plan at 100 TB: same one-scan hits relation as qr1 (persisted,
    * union-of-terms isin below the agg); the champion cut is a
    * term-keyed WindowGroupLimit (map-side prune to ≤C per term);
    * candidate set and the scoring restriction are hits-sized
    * LeftSemi probes; everything downstream is the qr1 shape. */
  private def idx5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE kernel pass + dl sentinels (the r16 qr1 shape): hits and
    // corpus stats both read the persisted pass instead of each
    // re-deriving a token relation from its own scan
    val qset = TERMSET.toSet
    val pass = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val probe = qset
        it.flatMap { case (id, text) =>
          val t = text.split(" ", -1)
          val dl = t.length.toLong
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i < t.length) {
            if (probe(t(i))) m.update(t(i), m.getOrElse(t(i), 0L) + 1L)
            i += 1
          }
          Iterator.single((id, dl, null: String, 0L)) ++
            m.iterator.map { case (w, n) => (id, dl, w, n) }
        }
      }
      .toDF("doc_id", "dl", "term", "tf")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hits = pass.filter(col("term").isNotNull)
    // 1-row corpus stats from the sentinel slice of the SAME persisted
    // pass — BOTH the champion cut and the final scorer consume it
    val stats = pass.filter(col("term").isNull)
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val champs = hits
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .withColumn("impact",
        col("tf") / (col("tf") + lit(1.2) * (lit(0.25) +
          lit(0.75) * col("dl") / col("avgdl"))))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("impact").desc, col("doc_id").asc)))
      .filter(col("crk") <= IDX5_CHAMPIONS)
      .select(col("term"), col("doc_id"))
    val q = QTERMS.toDF("query_id", "term")
    val cand = champs.join(broadcast(q), Seq("term"))
      .select(col("query_id"), col("doc_id"))
      .distinct()
    val df = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    hits.join(broadcast(df), Seq("term"))
      .join(broadcast(q), Seq("term"))
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(roundFp(sum(col("term_score")), 6).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= 3)
  }

  /** The rank-2 DCG discount log2(3), as ONE shared literal in both
    * engines (a library log2 could differ in the last ulp between
    * JVM and DuckDB; a parsed decimal literal cannot). Ranks 1 and 3
    * discount by exactly 1 and 2. */
  private val LOG2_3 = "CAST(1.5849625007211562 AS DOUBLE)"

  /** qr4 — nDCG@3 over qr1's ranking with graded pseudo-qrels from
    * the engine's own registered match relations (the s6/rrf1
    * composition rule, so the eval can never drift from its parts):
    * rel 2 = exact-phrase match (idx3's positional adjacency), rel 1
    * = bag-of-words AND match (idx2's conjunction), rel 0 otherwise —
    * phrase ⊆ conjunction, so the grades nest. DCG pivots the three
    * ranked gains into ONE fixed-order expression g1 + g2/log2(3) +
    * g3/2 (a 3-row float sum would be order-nondeterministic across
    * engines); IDCG comes from the rel-2/rel-1 census (ideal gain at
    * rank r is a CASE on n2, n1), nDCG = DCG/IDCG, both 6-dp pinned,
    * NULL when the query has no relevant docs.
    *
    * Plan at 100 TB: qr1's one-scan scoring pass + the two match
    * relations (each hits-sized, union-of-terms isin below their
    * aggs); the qrels join is rankings-sized (|Q|·3 rows probe the
    * match table); everything after is a ≤|Q|-row pivot. */
  private def qr4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rels = conjMatches(s, d)
      .join(phraseMatches(s, d).select(col("query_id"), col("doc_id"),
        lit(1L).as("ph")), Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        when(col("ph").isNotNull, 2L).otherwise(1L).as("rel"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gains = qr1(s, d)
      .join(rels, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("rnk"),
        expr("""CASE coalesce(rel, 0L) WHEN 2 THEN CAST(3 AS DOUBLE)
                WHEN 1 THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END""").as("gain"))
    val dcg = gains.groupBy(col("query_id"))
      .agg(max(when(col("rnk") === 1, col("gain"))).as("g1"),
        max(when(col("rnk") === 2, col("gain"))).as("g2"),
        max(when(col("rnk") === 3, col("gain"))).as("g3"))
    val nrel = rels.groupBy(col("query_id"))
      .agg(sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
    QUERIES.map(_._1).toDF("query_id")
      .join(dcg, Seq("query_id"), "left")
      .join(nrel, Seq("query_id"), "left")
      .na.fill(0.0, Seq("g1", "g2", "g3")).na.fill(0L, Seq("n2", "n1"))
      .select(col("query_id").cast("long").as("query_id"),
        col("n2"), col("n1"),
        expr(s"g1 + g2 / $LOG2_3 + g3 / CAST(2 AS DOUBLE)").as("dcgr"),
        expr(s"""(CASE WHEN n2 >= 1 THEN CAST(3 AS DOUBLE)
                       WHEN n2 + n1 >= 1 THEN CAST(1 AS DOUBLE)
                       ELSE CAST(0 AS DOUBLE) END)
                 + (CASE WHEN n2 >= 2 THEN CAST(3 AS DOUBLE)
                         WHEN n2 + n1 >= 2 THEN CAST(1 AS DOUBLE)
                         ELSE CAST(0 AS DOUBLE) END) / $LOG2_3
                 + (CASE WHEN n2 >= 3 THEN CAST(3 AS DOUBLE)
                         WHEN n2 + n1 >= 3 THEN CAST(1 AS DOUBLE)
                         ELSE CAST(0 AS DOUBLE) END)
                   / CAST(2 AS DOUBLE)""").as("idcg"))
      .select(col("query_id"), col("n2"), col("n1"),
        roundFp(col("dcgr"), 6).as("dcg"),
        when(col("idcg") > 0, roundFp(col("dcgr") / col("idcg"), 6))
          .as("ndcg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "al1_uncertain_topk" -> (al1 _),
    "qr4_ndcg" -> (qr4 _),
    "idx5_champion_topk" -> (idx5 _),
    "voc2_fertility" -> (voc2 _),
    "qr3_mrr" -> (qr3 _),
    "qr5_champion_recall" -> (qr5 _),
    "idx4_proximity" -> (idx4 _),
    "idx3_phrase" -> (idx3 _),
    "idx2_postings_and" -> (idx2 _),
    "idx1_inverted" -> (idx1 _),
    "rrf1_hybrid_fuse" -> (rrf1 _),
    "tok1_bpe_apply" -> (tok1 _),
    "tok2_merge_curve" -> (tok2 _),
    "qr1_batch_bm25" -> (qr1 _),
    "voc1_oov_rate" -> (voc1 _),
    "voc3_coverage_curve" -> (voc3 _),
    "cls1_nb_model" -> (cls1 _),
    "cls2_nb_confusion" -> (cls2 _),
    "cal1_margin_calibration" -> (cal1 _),
    "cls4_calibrated_filter" -> (cls4 _),
    "qr2_prf_expand" -> (qr2 _),
    "bpe1_pair_merge" -> (bpe1 _)
  )

  private val qValues = QTERMS
    .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
  private val qIn = TERMSET.map("'" + _ + "'").mkString(", ")
  private val phraseValues = QUERIES.map { case (id, t) =>
    val Array(a, b) = t.split(" "); s"($id, '$a', '$b')" }.mkString(", ")

  /** The tok1 BPE-apply SQL, factored out because voc2 restates it as
    * its per-doc CTE — one source of truth for the tokenizer oracle.
    * The replace chain is generated from the SAME MERGES constant as
    * the engine's expression, so the vocabularies cannot drift. */
  private lazy val TOK1_SQL = s"""
      WITH b AS (SELECT doc_id, string_split(text, ' ') AS t,
                   length(replace(text, ' ', '')) AS n_chars
                 FROM documents),
      c AS (SELECT doc_id,
              CAST(len(t) AS BIGINT) AS ws_tokens,
              CAST(n_chars AS BIGINT) AS n_chars,
              CAST(list_sum(list_transform(t, w ->
                len(string_split(trim(${mergeChain(
                  """regexp_replace(w, '(.)', '\1 ', 'g')""")}), ' ')))) AS BIGINT)
                AS bpe_tokens
            FROM b)
      SELECT doc_id, ws_tokens, n_chars, bpe_tokens,
        floor((CAST(n_chars AS DOUBLE) / bpe_tokens) * 1000000 + 0.5)
          / 1000000 AS compression
      FROM c"""

  /** The qr1 batch-BM25 SQL, factored out because qr2 restates it as
    * its feedback-set CTE — one source of truth for the BM25 oracle. */
  private val QR1_SQL = s"""
      WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
                 FROM (VALUES $qValues) v(query_id, term)),
      t AS (SELECT doc_id, len(string_split(text,' ')) AS dl,
                   unnest(string_split(text,' ')) AS term
            FROM documents),
      hits AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
               WHERE term IN ($qIn) GROUP BY 1, 2, 3),
      df AS (SELECT term, count(*) AS df FROM hits GROUP BY 1),
      stats AS (SELECT count(*) AS n,
                  sum(len(string_split(text,' '))) / count(*) AS avgdl
                FROM documents),
      sc AS (SELECT q.query_id, hits.doc_id,
               ((n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS term_score
             FROM hits JOIN df USING (term) JOIN q USING (term), stats),
      agg AS (SELECT query_id, doc_id,
                floor(sum(term_score)*1000000 + 0.5)/1000000 AS score
              FROM sc GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, score, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM agg)
      SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 3"""

  /** idx5's oracle, factored out because qr5's recall harness embeds
    * it verbatim (the QR1_SQL rule — one source of truth). */
  private val IDX5_SQL = s"""
      WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
                 FROM (VALUES $qValues) v(query_id, term)),
      t AS (SELECT doc_id, len(string_split(text,' ')) AS dl,
                   unnest(string_split(text,' ')) AS term
            FROM documents),
      hits AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
               WHERE term IN ($qIn) GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n,
                  sum(len(string_split(text,' '))) / count(*) AS avgdl
                FROM documents),
      ch AS (SELECT term, doc_id FROM (
               SELECT term, doc_id, row_number() OVER (PARTITION BY term
                 ORDER BY tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   DESC, doc_id) AS crk FROM hits, stats)
             WHERE crk <= $IDX5_CHAMPIONS),
      cand AS (SELECT DISTINCT q.query_id, ch.doc_id
               FROM ch JOIN q USING (term)),
      df AS (SELECT term, count(*) AS df FROM hits GROUP BY 1),
      sc AS (SELECT q.query_id, hits.doc_id,
               ((n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS term_score
             FROM hits JOIN df USING (term) JOIN q USING (term), stats
             WHERE EXISTS (SELECT 1 FROM cand
                           WHERE cand.query_id = q.query_id
                             AND cand.doc_id = hits.doc_id)),
      agg AS (SELECT query_id, doc_id,
                floor(sum(term_score)*1000000 + 0.5)/1000000 AS score
              FROM sc GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, score, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM agg)
      SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 3"""

  /** The cls2 model + per-doc score CTE chain (through `fin`),
    * factored out because cal1 restates it — one source of truth for
    * the NB scoring oracle. */
  private val NB_FIN_SQL = s"""t AS (SELECT lang,
                   unnest(string_split(text,' ')) AS term
                 FROM documents),
      lt AS (SELECT lang, term, count(*) AS c FROM t GROUP BY 1, 2),
      wt AS (SELECT lang, term, c,
               CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS tot
             FROM lt),
      rk AS (SELECT lang, term, c, tot, row_number() OVER (
               PARTITION BY lang ORDER BY c DESC, term) AS rnk FROM wt),
      model AS (SELECT lang AS m_lang, term,
                  CAST(length(bin(CAST((1000000 * c) // tot + 1 AS BIGINT)))
                    - 1 AS BIGINT) AS w
                FROM rk WHERE rnk <= $CLS_MV),
      p AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      pp AS (SELECT lang AS m_lang,
               CAST(length(bin(CAST((1000000 * nd) //
                 CAST(sum(nd) OVER () AS BIGINT) + 1 AS BIGINT)))
                 - 1 AS BIGINT) AS pw
             FROM p),
      tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS term
              FROM documents),
      sc AS (SELECT doc_id, tok.lang, m_lang,
               CAST(sum(w) AS BIGINT) AS hw
             FROM tok JOIN model USING (term) GROUP BY 1, 2, 3),
      fin AS (SELECT doc_id, lang, sc.m_lang, hw + pw AS score
              FROM sc JOIN pp ON sc.m_lang = pp.m_lang)"""

  val oracles: Map[String, String] = Map(
    // qr1's ranking CTE + idx2's conjunction CTEs + idx3's positional
    // CTEs embedded verbatim (the qr3 splice pattern); the same
    // fixed-order DCG pivot and shared log2(3) literal
    "qr4_ndcg" -> s"""
      WITH fb AS ($QR1_SQL),
      qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
             FROM (VALUES $qValues) q(query_id, term)),
      nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
      pp AS (SELECT DISTINCT doc_id, term FROM (
               SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents)
             WHERE term IN ($qIn)),
      mm AS (SELECT qt.query_id, pp.doc_id, count(*) AS hit
             FROM pp JOIN qt USING (term) GROUP BY 1, 2),
      cj AS (SELECT mm.query_id, mm.doc_id FROM mm JOIN nq USING (query_id)
             WHERE hit = n_terms),
      qp AS (SELECT CAST(query_id AS BIGINT) AS query_id, t1, t2
             FROM (VALUES $phraseValues) q(query_id, t1, t2)),
      tp AS (SELECT doc_id, i AS pos, l[i] AS term
             FROM (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents) t,
               unnest(generate_series(1, len(l))) AS u(i)
             WHERE l[i] IN ($qIn)),
      ff AS (SELECT qp.query_id, qp.t2, tp.doc_id, tp.pos + 1 AS p2
             FROM tp JOIN qp ON tp.term = qp.t1),
      ph AS (SELECT DISTINCT ff.query_id, ff.doc_id
             FROM ff JOIN tp p ON p.doc_id = ff.doc_id AND p.pos = ff.p2
               AND p.term = ff.t2),
      rels AS (SELECT cj.query_id, cj.doc_id,
                 CASE WHEN ph.doc_id IS NOT NULL THEN 2 ELSE 1 END AS rel
               FROM cj LEFT JOIN ph ON ph.query_id = cj.query_id
                 AND ph.doc_id = cj.doc_id),
      g AS (SELECT fb.query_id, fb.rnk,
              CASE coalesce(rels.rel, 0) WHEN 2 THEN CAST(3 AS DOUBLE)
                WHEN 1 THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS gain
            FROM fb LEFT JOIN rels ON rels.query_id = fb.query_id
              AND rels.doc_id = fb.doc_id),
      gg AS (SELECT query_id,
               max(CASE WHEN rnk = 1 THEN gain END) AS g1,
               max(CASE WHEN rnk = 2 THEN gain END) AS g2,
               max(CASE WHEN rnk = 3 THEN gain END) AS g3
             FROM g GROUP BY 1),
      nr AS (SELECT query_id,
               CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n2,
               CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n1
             FROM rels GROUP BY 1),
      al AS (SELECT DISTINCT query_id FROM qt),
      j AS (SELECT al.query_id,
              coalesce(g1, CAST(0 AS DOUBLE)) AS g1,
              coalesce(g2, CAST(0 AS DOUBLE)) AS g2,
              coalesce(g3, CAST(0 AS DOUBLE)) AS g3,
              coalesce(n2, 0) AS n2, coalesce(n1, 0) AS n1
            FROM al LEFT JOIN gg USING (query_id)
              LEFT JOIN nr USING (query_id)),
      k AS (SELECT query_id, n2, n1,
              g1 + g2 / $LOG2_3 + g3 / CAST(2 AS DOUBLE) AS dcgr,
              (CASE WHEN n2 >= 1 THEN CAST(3 AS DOUBLE)
                    WHEN n2 + n1 >= 1 THEN CAST(1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END)
              + (CASE WHEN n2 >= 2 THEN CAST(3 AS DOUBLE)
                      WHEN n2 + n1 >= 2 THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END) / $LOG2_3
              + (CASE WHEN n2 >= 3 THEN CAST(3 AS DOUBLE)
                      WHEN n2 + n1 >= 3 THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END)
                / CAST(2 AS DOUBLE) AS idcg
            FROM j)
      SELECT query_id, n2, n1,
        floor(dcgr * 1000000 + 0.5) / 1000000 AS dcg,
        CASE WHEN idcg > 0
             THEN floor(dcgr / idcg * 1000000 + 0.5) / 1000000 END AS ndcg
      FROM k""",
    // qr1's CTE chain with the champion-candidate restriction spliced
    // in; identical BM25 formula text, same (impact desc, doc)
    // champion cut and 6-dp pin
    "idx5_champion_topk" -> IDX5_SQL,
    // qr1's exhaustive ranking and idx5's champion ranking embedded
    // verbatim (the qr3 composition rule) — the recall number cannot
    // drift from the rankings it claims to compare
    "qr5_champion_recall" -> s"""
      WITH ex AS ($QR1_SQL),
      ch AS ($IDX5_SQL)
      SELECT CAST(count(DISTINCT ex.query_id) AS BIGINT) AS n_queries,
        count(*) AS n_pairs,
        CAST(sum(CASE WHEN ch.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        (1000000 * CAST(sum(CASE WHEN ch.doc_id IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS recall_ppm
      FROM ex LEFT JOIN ch ON ex.query_id = ch.query_id
        AND ex.doc_id = ch.doc_id""",
    // qr1's oracle SQL + idx2's match CTEs embedded verbatim (the
    // s6/rrf1 composition rule) — the eval cannot drift from its parts
    "qr3_mrr" -> s"""
      WITH fb AS ($QR1_SQL),
      qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
             FROM (VALUES $qValues) q(query_id, term)),
      nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
      p AS (SELECT DISTINCT doc_id, term FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
            WHERE term IN ($qIn)),
      mm AS (SELECT qt.query_id, p.doc_id, count(*) AS hit
             FROM p JOIN qt USING (term) GROUP BY 1, 2),
      m AS (SELECT mm.query_id, mm.doc_id FROM mm JOIN nq USING (query_id)
            WHERE hit = n_terms),
      fr AS (SELECT fb.query_id, CAST(min(rnk) AS BIGINT)
               AS first_rel_rank
             FROM fb JOIN m ON fb.query_id = m.query_id
               AND fb.doc_id = m.doc_id
             GROUP BY 1),
      al AS (SELECT DISTINCT query_id FROM qt)
      SELECT al.query_id,
        coalesce(first_rel_rank, 0) AS first_rel_rank,
        CAST(CASE WHEN coalesce(first_rel_rank, 0) = 0 THEN 0
             ELSE 1000000 // first_rel_rank END AS BIGINT) AS rr_ppm
      FROM al LEFT JOIN fr USING (query_id)""",
    // same positional postings (1-based there, 0-based here — only
    // position DIFFERENCES matter, so the shift cancels) and the same
    // in-order window predicate
    "idx4_proximity" -> s"""
      WITH qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, t1, t2
                  FROM (VALUES $phraseValues) q(query_id, t1, t2)),
      tp AS (SELECT doc_id, i AS pos, l[i] AS term
             FROM (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents) t,
               unnest(generate_series(1, len(l))) AS u(i)
             WHERE l[i] IN ($qIn)),
      f AS (SELECT qt.query_id, qt.t2, tp.doc_id, tp.pos AS p1
            FROM tp JOIN qt ON tp.term = qt.t1),
      m AS (SELECT f.query_id, f.doc_id, count(*) AS n_pairs
            FROM f JOIN tp p ON p.doc_id = f.doc_id AND p.term = f.t2
              AND p.pos > f.p1 AND p.pos <= f.p1 + $IDX4_WINDOW
            GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, row_number() OVER (
              PARTITION BY query_id ORDER BY doc_id) AS rn FROM m),
      h AS (SELECT query_id, array_to_string(
              list_sort(list(lpad(doc_id::VARCHAR, 6, '0'))), '|') AS head
            FROM r WHERE rn <= $IDX2_HEAD GROUP BY 1),
      c AS (SELECT query_id, count(*) AS n_docs,
              CAST(sum(n_pairs) AS BIGINT) AS n_pair_occ
            FROM m GROUP BY 1)
      SELECT c.query_id, c.n_docs, c.n_pair_occ, h.head
      FROM c JOIN h USING (query_id)""",
    // same positional postings (1-based there, 0-based here — only
    // ADJACENCY matters, the +1 join key is shift-invariant) and the
    // same (doc, pos+1, word2) phrase join
    "idx3_phrase" -> s"""
      WITH qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, t1, t2
                  FROM (VALUES $phraseValues) q(query_id, t1, t2)),
      tp AS (SELECT doc_id, i AS pos, l[i] AS term
             FROM (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents) t,
               unnest(generate_series(1, len(l))) AS u(i)
             WHERE l[i] IN ($qIn)),
      f AS (SELECT qt.query_id, qt.t2, tp.doc_id, tp.pos + 1 AS p2
            FROM tp JOIN qt ON tp.term = qt.t1),
      m AS (SELECT f.query_id, f.doc_id, count(*) AS n_occ
            FROM f JOIN tp p ON p.doc_id = f.doc_id AND p.pos = f.p2
              AND p.term = f.t2
            GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, row_number() OVER (
              PARTITION BY query_id ORDER BY doc_id) AS rn FROM m),
      h AS (SELECT query_id, array_to_string(
              list_sort(list(lpad(doc_id::VARCHAR, 6, '0'))), '|') AS head
            FROM r WHERE rn <= $IDX2_HEAD GROUP BY 1),
      c AS (SELECT query_id, count(*) AS n_docs,
              CAST(sum(n_occ) AS BIGINT) AS n_occurrences
            FROM m GROUP BY 1)
      SELECT c.query_id, c.n_docs, c.n_occurrences, h.head
      FROM c JOIN h USING (query_id)""",
    // same presence-postings intersection: per (query, doc) distinct
    // term hits equi-checked against the query's distinct term count
    "idx2_postings_and" -> s"""
      WITH qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
                  FROM (VALUES $qValues) q(query_id, term)),
      nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
      p AS (SELECT DISTINCT doc_id, term FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
            WHERE term IN ($qIn)),
      mm AS (SELECT qt.query_id, p.doc_id, count(*) AS hit
             FROM p JOIN qt USING (term) GROUP BY 1, 2),
      m AS (SELECT mm.query_id, mm.doc_id FROM mm JOIN nq USING (query_id)
            WHERE hit = n_terms),
      r AS (SELECT query_id, doc_id, row_number() OVER (
              PARTITION BY query_id ORDER BY doc_id) AS rn FROM m),
      h AS (SELECT query_id, array_to_string(
              list_sort(list(lpad(doc_id::VARCHAR, 6, '0'))), '|') AS head
            FROM r WHERE rn <= $IDX2_HEAD GROUP BY 1),
      c AS (SELECT query_id, count(*) AS n_docs FROM m GROUP BY 1)
      SELECT c.query_id, c.n_docs, h.head FROM c JOIN h USING (query_id)""",
    // doc-ordered head via the same row_number window; lpad makes the
    // list's lexicographic sort equal doc order on both engines
    "idx1_inverted" -> """
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
      s AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
            FROM tf GROUP BY 1),
      r AS (SELECT *, row_number() OVER (PARTITION BY term
              ORDER BY doc_id) AS rn FROM tf),
      h AS (SELECT term, array_to_string(
              list_sort(list(lpad(doc_id::VARCHAR, 6, '0')
                || '#' || tf::VARCHAR)), '|') AS head
            FROM r WHERE rn <= 5 GROUP BY term)
      SELECT s.term, s.df, s.cf, h.head FROM s JOIN h USING (term)""",
    // the constituent rankings are the x11/s1 oracle SQL embedded
    // verbatim as CTEs — fusion can never drift from its parts
    "rrf1_hybrid_fuse" -> s"""
      WITH lexq AS (${TextOps.oracles("x11_bm25")}),
      vecq AS (${SimilarityOps.oracles("s1_ann_brute")}),
      parts AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
            AS lex_rank,
          CAST(0 AS BIGINT) AS vec_rank
        FROM lexq
        UNION ALL
        SELECT nid AS doc_id, CAST(0 AS BIGINT) AS lex_rank,
          CAST(rank AS BIGINT) AS vec_rank
        FROM vecq WHERE qid = 0),
      fused AS (
        SELECT doc_id, CAST(max(lex_rank) AS BIGINT) AS lex_rank,
          CAST(max(vec_rank) AS BIGINT) AS vec_rank
        FROM parts GROUP BY doc_id),
      scored AS (
        SELECT doc_id, lex_rank, vec_rank,
          CAST((CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank)
                     ELSE 0 END) +
               (CASE WHEN vec_rank > 0 THEN 1000000 // (60 + vec_rank)
                     ELSE 0 END) AS BIGINT) AS rrf_ppm
        FROM fused)
      SELECT doc_id, lex_rank, vec_rank, rrf_ppm,
        CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
          AS fused_rank
      FROM scored""",
    // the replace chain is generated from the SAME MERGES constant as
    // the engine's expression — the vocabularies cannot drift
    "tok1_bpe_apply" -> TOK1_SQL,
    // the same (count desc, term) rank + running-coverage windows
    // over the vocabulary-sized tf relation; V rows join on
    // rank = least(V, |vocab|)
    "voc3_coverage_curve" -> s"""
      WITH tf AS (SELECT term, count(*) AS c FROM (
              SELECT unnest(string_split(text, ' ')) AS term
              FROM documents) GROUP BY 1),
      r AS (SELECT c,
              row_number() OVER (ORDER BY c DESC, term) AS rnk,
              sum(c) OVER (ORDER BY c DESC, term
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER () AS tot, count(*) OVER () AS n_terms
            FROM tf),
      v AS (SELECT unnest([${VOC3_SIZES.mkString(",")}]) AS vs)
      SELECT CAST(vs AS BIGINT) AS vocab_size,
        CAST(rnk AS BIGINT) AS n_terms_used,
        CAST(cum AS BIGINT) AS covered_tokens,
        CAST(tot AS BIGINT) AS total_tokens,
        (1000000 * CAST(cum AS BIGINT)) // CAST(tot AS BIGINT)
          AS coverage_ppm
      FROM r JOIN v ON r.rnk = least(v.vs, r.n_terms)""",
    // each budget's chain generated by the same mergeChainK — prefix
    // budgets cannot drift from the served table; UNION-ALL unpivot
    "tok2_merge_curve" -> s"""
      WITH b AS (SELECT string_split(text, ' ') AS t,
                   length(replace(text, ' ', '')) AS n_chars
                 FROM documents),
      c AS (SELECT CAST(sum(n_chars) AS BIGINT) AS n_chars,
        ${TOK2_BUDGETS.map(k =>
          "CAST(sum(list_sum(list_transform(t, w -> " +
            "len(string_split(trim(" +
            mergeChainK("""regexp_replace(w, '(.)', '\1 ', 'g')""", k) +
            "), ' '))))) AS BIGINT) AS bt" + k).mkString(", ")}
        FROM b),
      u AS (${TOK2_BUDGETS.map(k =>
        s"SELECT n_chars, CAST($k AS BIGINT) AS n_merges, bt$k AS bpe_tokens FROM c")
        .mkString(" UNION ALL ")})
      SELECT n_merges, n_chars, bpe_tokens,
        (1000000 * n_chars) // bpe_tokens AS compression_ppm
      FROM u""",
    // tok1's oracle embedded verbatim (the s6/rrf1 composition rule)
    // + the lang attachment and per-lang roll-up
    "voc2_fertility" -> s"""
      WITH t1 AS ($TOK1_SQL),
      j AS (SELECT d.lang, t1.ws_tokens, t1.bpe_tokens, t1.n_chars
            FROM t1 JOIN documents d ON t1.doc_id = d.doc_id)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
        CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
        (1000000 * CAST(sum(bpe_tokens) AS BIGINT))
          // CAST(sum(ws_tokens) AS BIGINT) AS fertility_ppm,
        (1000000 * CAST(sum(n_chars) AS BIGINT))
          // CAST(sum(bpe_tokens) AS BIGINT) AS chars_per_tok_ppm
      FROM j GROUP BY 1""",
    "qr1_batch_bm25" -> QR1_SQL,
    // the feedback set is qr1's result restated as a CTE; expansion
    // counts are DISTINCT (query, doc, term) presence integers
    "qr2_prf_expand" -> s"""
      WITH fb AS ($QR1_SQL),
      qx AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
             FROM (VALUES $qValues) v(query_id, term)),
      dt AS (SELECT DISTINCT fb.query_id, fb.doc_id, t.term
             FROM fb JOIN (SELECT doc_id,
                 unnest(string_split(text,' ')) AS term
               FROM documents) t ON fb.doc_id = t.doc_id),
      c AS (SELECT query_id, term, count(*) AS fb_df
            FROM dt GROUP BY 1, 2),
      ex AS (SELECT c.* FROM c LEFT JOIN qx
             ON c.query_id = qx.query_id AND c.term = qx.term
             WHERE qx.term IS NULL),
      r AS (SELECT query_id, term, fb_df, row_number() OVER (
              PARTITION BY query_id ORDER BY fb_df DESC, term) AS rnk
            FROM ex)
      SELECT query_id, term, fb_df, rnk FROM r WHERE rnk <= $QR2_TOP""",
    "voc1_oov_rate" -> s"""
      WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                 FROM documents),
      v AS (SELECT term FROM (
              SELECT term, count(*) AS c FROM t GROUP BY 1
              ORDER BY c DESC, term LIMIT $VOCAB_SIZE)),
      j AS (SELECT doc_id, CASE WHEN term IN (SELECT term FROM v)
                                THEN 0 ELSE 1 END AS ov FROM t)
      SELECT doc_id, count(*)::BIGINT AS n_tok,
        CAST(sum(ov) AS BIGINT) AS oov,
        (1000000 * CAST(sum(ov) AS BIGINT)) // count(*) AS oov_ppm
      FROM j GROUP BY doc_id""",
    "cls1_nb_model" -> """
      WITH t AS (SELECT lang, unnest(string_split(text,' ')) AS term
                 FROM documents),
      lt AS (SELECT lang, term, count(*) AS c FROM t GROUP BY 1, 2),
      wt AS (SELECT lang, term, c,
               CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS tot
             FROM lt),
      cp AS (SELECT lang, term, (1000000 * c) // tot AS cond_ppm FROM wt),
      r AS (SELECT lang, term, cond_ppm, row_number() OVER (
              PARTITION BY lang ORDER BY cond_ppm DESC, term) AS rnk
            FROM cp),
      p AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
      pp AS (SELECT lang,
               (1000000 * nd) // CAST(sum(nd) OVER () AS BIGINT)
                 AS prior_ppm FROM p)
      SELECT r.lang, prior_ppm, term, cond_ppm, rnk
      FROM r JOIN pp ON r.lang = pp.lang WHERE rnk <= 5""",
    // ilog2(x) = length(bin(x)) - 1 — exact in both engines; every
    // sum is pinned back to BIGINT before bin/arithmetic (DuckDB
    // integer sums ride HUGEINT)
    "cls2_nb_confusion" -> s"""
      WITH $NB_FIN_SQL,
      win AS (SELECT doc_id, lang, m_lang, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS r
              FROM fin)
      SELECT lang AS true_lang, m_lang AS pred_lang,
        count(*)::BIGINT AS n_docs
      FROM win WHERE r = 1 GROUP BY 1, 2""",
    // same fin relation, same margins, same cumulative-accuracy
    // threshold rule (smallest qualifying margin, strictest-band
    // fallback), same tail filter
    "cls4_calibrated_filter" -> s"""
      WITH $NB_FIN_SQL,
      win AS (SELECT doc_id, lang, m_lang, score, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS r,
              lead(score) OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS nxt
              FROM fin),
      mg AS (SELECT doc_id, lang, m_lang,
               CAST(score - nxt AS BIGINT) AS margin
             FROM win WHERE r = 1 AND nxt IS NOT NULL),
      cal AS (SELECT margin, count(*) AS n,
                sum(CASE WHEN lang = m_lang THEN 1 ELSE 0 END) AS k
              FROM mg GROUP BY 1),
      cum AS (SELECT margin,
                CAST(sum(n) OVER (ORDER BY margin DESC ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
                CAST(sum(k) OVER (ORDER BY margin DESC ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck
              FROM cal),
      thr AS (SELECT coalesce(
                min(CASE WHEN (1000000 * ck) // cn >= $CLS4_ACC_PPM
                      THEN margin END),
                max(margin)) AS thr FROM cum)
      SELECT m_lang AS pred_lang, count(*)::BIGINT AS n_kept,
        CAST(sum(CASE WHEN lang = m_lang THEN 1 ELSE 0 END) AS BIGINT)
          AS n_correct
      FROM mg, thr WHERE margin >= thr GROUP BY 1""",
    // same fin relation; the margin is exact BIGINT subtraction of
    // the top-2 scores under the same (score DESC, m_lang) order
    // cal1's window CTEs verbatim, bottom-K by (margin, doc) —
    // TakeOrderedAndProject's total order makes the LIMIT exact
    "al1_uncertain_topk" -> s"""
      WITH $NB_FIN_SQL,
      win AS (SELECT doc_id, lang, m_lang, score, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS r,
              lead(score) OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS nxt
              FROM fin),
      mg AS (SELECT doc_id, m_lang AS pred_lang,
               CAST(score - nxt AS BIGINT) AS margin,
               CASE WHEN lang = m_lang THEN 1 ELSE 0 END AS ok
             FROM win WHERE r = 1 AND nxt IS NOT NULL)
      SELECT doc_id, pred_lang, margin, CAST(ok AS BIGINT) AS ok
      FROM mg ORDER BY margin, doc_id LIMIT $AL1_K""",
    "cal1_margin_calibration" -> s"""
      WITH $NB_FIN_SQL,
      win AS (SELECT doc_id, lang, m_lang, score, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS r,
              lead(score) OVER (
                PARTITION BY doc_id ORDER BY score DESC, m_lang) AS nxt
              FROM fin),
      mg AS (SELECT CAST(score - nxt AS BIGINT) AS margin,
               CASE WHEN lang = m_lang THEN 1 ELSE 0 END AS ok
             FROM win WHERE r = 1 AND nxt IS NOT NULL)
      SELECT margin, count(*)::BIGINT AS n_docs,
        CAST(sum(ok) AS BIGINT) AS n_correct,
        (1000000 * CAST(sum(ok) AS BIGINT)) // count(*) AS acc_ppm
      FROM mg GROUP BY margin""",
    "bpe1_pair_merge" -> s"""
      WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents),
      f AS (SELECT w FROM wds WHERE length(w) >= 2),
      ix AS (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
             FROM f),
      pr AS (SELECT substring(w, CAST(i AS INT), 2) AS pair FROM ix)
      SELECT pair, count(*)::BIGINT AS cnt FROM pr
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT $BPE_TOP"""
  )
}
