package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}

/** Physical-plan regression checks — the properties that decide
  * 100 TB behavior, locked in as assertions so a refactor can't
  * silently lose them: predicate pushdown into the parquet scan,
  * column pruning, broadcast join selection, TakeOrderedAndProject for
  * top-k, partial+final hash aggregation, semi-join planning.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The physical plan TREE, unwrapped from AQE. Collecting nodes on
    * the tree (rather than grepping the string) treats
    * InMemoryTableScan as the leaf it is: a persisted relation's
    * definition re-prints in the string per consumer, but only
    * operators actually in the tree execute per consumer. */
  private def physical(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("equality filter is pushed into the parquet scan (p2)") {
    val p = plan(q("p2_eq_match"))
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("column pruning reaches the scan: a8 reads only doc_id,text") {
    val p = plan(q("a8_array_len"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (t1)") {
    val p = plan(q("t1_topk"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("flagship query broadcast-joins the filtered dimension (entry)") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("group-by count aggregates partial then final (a2)") {
    val p = plan(q("a2_group_count"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("semi-join stays a LeftSemi (j3) — no payload multiplication") {
    val p = plan(q("j3_semi_join"))
    assert(p.contains("LeftSemi"), p)
  }

  test("temperature-mix rate join is a broadcast; corpus is never " +
    "shuffled on source (sm6)") {
    val p = plan(q("sm6_temperature_mix"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("LSH ANN joins buckets with a broadcast equi-join (s2)") {
    val p = plan(q("s2_ann_lsh"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("session window plans native UpdatingSessionsExec path (w3)") {
    val p = plan(q("w3_session_window"))
    assert(p.toLowerCase.contains("session"), p)
  }

  test("phone cleaning stays inside whole-stage codegen (f1) — the " +
    "native format_phone expression, not a 64KB-overflow fallback") {
    val df = q("f1_phone_clean")
    val exec = df.queryExecution.executedPlan
    // "*(n)" in the simple string marks WholeStageCodegen stages; check
    // the tree for the real node
    assert(exec.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      .isDefined, exec.toString)
    assert(exec.toString.contains("static_invoke(graft.functions.PhoneFormat.format("),
      exec.toString)
    // the generated stage must actually compile, and the interpreted path
    // must give the same rows, null numbers included. A Dataset keeps the
    // plan it first made, so each path builds its own
    def withNulls = q("f1_phone_clean").withColumn("null_safe",
      graft.osm.CleanFns.formatPhone(when(col("c_custkey") % 5 =!= 0, col("raw_phone"))))
    val ((interpreted, interpretedStaged), (generated, generatedStaged)) = onBothPaths {
      val d = withNulls
      val rows = d.collect().map(_.toString).sorted.toSeq
      (rows, physical(d).collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
      }.exists(_.contains("static_invoke(graft.functions.PhoneFormat.format(")))
    }
    assert(!interpretedStaged, "the interpreted path ran a whole-stage stage")
    assert(generatedStaged, "the generated path ran no whole-stage stage calling the kernel")
    assert(interpreted == generated)
    assert(interpreted.length == df.count())
    assert(interpreted.count(_.endsWith(",null]")) == df.filter(col("c_custkey") % 5 === 0).count())
  }

  test("anti-join stays a LeftAnti (j6) — no payload, no multiplication") {
    val p = plan(q("j6_anti_join"))
    assert(p.contains("LeftAnti"), p)
  }

  test("IVF ANN never falls back to a cartesian product (s3)") {
    val p = plan(q("s3_ann_ivf"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("geo binning aggregates partial then final on the cell key (geo1)") {
    val p = plan(q("geo1_bbox_bin"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("PII redaction reads only doc_id,text (column pruning, x6)") {
    val p = plan(q("x6_pii_redact"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("corpus n-gram top-k plans TakeOrderedAndProject (x7)") {
    val p = plan(q("x7_top_ngrams"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("grid-binned overlap join is an equi-join — never a nested " +
    "loop or cartesian (r3)") {
    val p = plan(q("r3_interval_overlap"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bloom pre-join keeps the exact LeftSemi after the probe (j7)") {
    val p = plan(q("j7_bloom_prejoin"))
    assert(p.contains("LeftSemi"), p)
  }

  test("knn self-join never degenerates to a cartesian product (s4); " +
    "at test scale the tiny corpus may legitimately broadcast — the " +
    "shuffle-on-bucket-key property holds once size estimates exceed " +
    "the broadcast threshold") {
    val p = plan(q("s4_knn_join"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("self-join shuffles once and reuses the exchange for the " +
    "second side (j5) — asserted on the FINAL adaptive plan with the " +
    "broadcast path disabled (at real scale the table exceeds the " +
    "threshold and this SMJ shape is what runs)") {
    // restore whatever the suite was running with, not a hardcoded
    // default — a changed session config must survive this test
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = q("j5_self_join")
      df.collect() // AQE only materializes exchange reuse at runtime
      val p = plan(df)
      assert(p.contains("ReusedExchange"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("global hash sample plans TakeOrderedAndProject — per-task " +
    "heaps, no global sort (sm5)") {
    val p = plan(q("sm5_global_sample"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("grouping sets expand once then aggregate partial+final (g8)") {
    val p = plan(q("g8_grouping_sets"))
    assert(p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("bloom probe is the native might_contain expression inside " +
    "whole-stage codegen — not a codegen-opaque UDF (j7)") {
    val df = q("j7_bloom_prejoin")
    df.collect() // AQE only shows codegen stage markers on the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF("), p)
    // the Filter carrying the probe sits inside a WholeStageCodegen
    // stage ("*(n)" prefix in the simple string)
    assert(p.linesIterator.exists(l =>
      l.contains("might_contain") && l.contains("*(")), p)
  }

  test("global quantile binning never global-sorts the fact table (w8) " +
    "— cut-points come from one aggregation, bins from a broadcast " +
    "range join") {
    val p = plan(q("w8_global_bin"))
    // a global SortExec prints as "Sort [...], true, 0"
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isEmpty, p)
    assert(!p.contains("Window"), p)
  }

  test("contamination check joins LeftSemi and counts with a plain " +
    "partial+final agg — no row multiplication, no distinct-agg " +
    "Expand (x8)") {
    val p = plan(q("x8_contamination"))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("Expand"), p)
  }

  test("BM25 top-10 plans TakeOrderedAndProject with the query-term " +
    "filter applied before the tf aggregation (x11) — never a global " +
    "sort, never a corpus-wide term agg, and the corpus explode sits " +
    "behind ONE shared cache, not once per consumer") {
    val df = q("x11_bm25")
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isEmpty, p)
    // the isin filter is its own operator under the tf aggregation
    // (the persisted hits definition prints inside InMemoryRelation):
    // non-query terms never enter the agg
    assert(p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("hash,join,merge")), p)
    // the explode exists only inside the cached hits definition — the
    // operator TREE (where InMemoryTableScan is a leaf) has none, so
    // no consumer can re-run the corpus tokenize (a dropped persist
    // puts GenerateExec back in the tree and fails here)
    assert(physical(df).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, p)
  }

  test("tf-idf term join carries no forced broadcast (x10) — with " +
    "auto-broadcast disabled it degrades to a merge join, proving the " +
    "vocabulary-sized df side is never hint-broadcast past the " +
    "planner's size check (AQE elects broadcast only when it fits)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = q("x10_tfidf")
      val p = plan(df)
      assert(p.contains("SortMergeJoin"), p)
      // the only broadcast left is the intended 1-row N cross join
      assert(!p.contains("BroadcastHashJoin"), p)
      // the corpus explode lives only inside tf's cached definition —
      // no GenerateExec in the operator tree means no consumer can
      // re-run it (a dropped persist fails here)
      assert(physical(df).collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.isEmpty, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j8's join keys carry the salt — with broadcast disabled the " +
    "sort-merge join hashes on (suppkey, salt), so a hot supplier " +
    "spreads over J8_SALTS shuffle partitions instead of one task") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = q("j8_salted_join")
      val smj = physical(df).collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, plan(df))
      val keyNames = smj.head.leftKeys.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
      }).toSet
      assert(keyNames.contains("fsalt") && keyNames.contains("l_suppkey"),
        s"join keys $keyNames\n" + plan(df))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lr1's serve pass is exchange-free (model-as-literals scoring " +
    "is a pure projection) and the training gradient's one exchange " +
    "carries only narrow (dim, partial) rows — vectors never shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val serve = q("lr1_logreg")
    assert(physical(serve).collect {
      case e: ShuffleExchangeExec => e }.isEmpty, plan(serve))
    val (e, w) = operators.SimilarityOps.lrTrain(spark, sf)
    // inspect pre-execution (post-AQE the exchange hides inside a
    // ShuffleQueryStage leaf, which tree collect does not enter)
    val grad = operators.SimilarityOps.lrGrad(e, w)
    val ex = physical(grad).collect { case x: ShuffleExchangeExec => x }
    assert(ex.nonEmpty, plan(grad))
    ex.foreach { x =>
      assert(!x.output.exists(a => a.dataType.isInstanceOf[ArrayType] ||
        a.dataType == StringType),
        s"wide column crosses the gradient exchange: ${x.output}\n" +
          plan(grad))
    }
  }

  test("PQ ANN shuffles only narrow ADC rows (s5) — no cartesian, no " +
    "sort-merge join, and no exchange in the plan ever carries an " +
    "embedding array (vectors are re-read only for the broadcast " +
    "shortlist probe, never shuffled)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = q("s5_ann_pq")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    def physical(d: DataFrame): SparkPlan =
      d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    val ex = physical(df).collect { case e: ShuffleExchangeExec => e }
    ex.foreach(e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        physical(df).toString))
  }

  test("IVF-PQ ANN (s8): the fused index build feeds the candidate " +
    "stage shuffle-free — the only exchanges in the whole query are " +
    "the two hash(qid) windows over narrow candidate rows, and no " +
    "exchange ever carries an array (codes and embeddings both stay " +
    "where they were computed)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = q("s8_ann_ivfpq")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val phys = physical(df)
    val ex = phys.collect { case e: ShuffleExchangeExec => e }
    // shortlist window + final top-k window, both hash(qid); the
    // kernel's (cell, code) output reaches its broadcast-join
    // candidate stage without any exchange
    assert(ex.size <= 2, phys.toString)
    ex.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        phys.toString)
      assert(e.outputPartitioning.toString.contains("qid"), phys.toString)
    }
  }

  test("repeated-span detection never shuffles span text at corpus " +
    "volume (d9) — the candidate aggregation's exchanges carry only " +
    "the 8-byte hash, and every string-carrying exchange in the final " +
    "plan sits above the bloom probe filter (candidate volume only)") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    def physical(df: DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    val candPlan = physical(
      graft.operators.DedupOps.d9CandidateHashes(spark, sf))
    val candEx = candPlan.collect { case e: ShuffleExchangeExec => e }
    assert(candEx.nonEmpty, candPlan.toString)
    candEx.foreach(e =>
      assert(!e.output.exists(_.dataType == StringType), candPlan.toString))
    val fin = physical(q("d9_substring_spans"))
    val strEx = fin.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.dataType == StringType) => e
    }
    assert(strEx.nonEmpty, fin.toString)
    strEx.foreach(e =>
      assert(e.collectFirst {
        case f: FilterExec if f.condition.toString.contains("might_contain") => f
      }.isDefined, fin.toString))
  }

  test("sequence packing shuffles once, on the shard key, and no " +
    "exchange ever carries the document text (pk1)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val phys = q("pk1_sequence_pack").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val ex = phys.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length == 1, phys.toString)
    assert(!ex.head.output.exists(_.dataType == StringType), phys.toString)
  }

  test("document chunking is a pure narrow pipeline — ZERO exchanges, " +
    "so it runs at parquet-scan speed at any corpus size (ck1)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // unwrap AQE: if a future edit introduced a shuffle, the plan gets
    // wrapped in AdaptiveSparkPlanExec (a leaf to collect) and an
    // un-unwrapped assertion would pass vacuously
    val phys = q("ck1_chunk_overlap").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    assert(phys.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      phys.toString)
  }

  test("the composed pretraining path shuffles exactly twice — the " +
    "dedup fingerprint exchange (the LAST time text moves) and the " +
    "pack shard exchange, which is string-free (pipe2)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val phys = q("pipe2_chunk_pack").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val ex = phys.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length == 2, phys.toString)
    // collect is pre-order: head is the pack exchange nearest the root
    assert(!ex.head.output.exists(_.dataType == StringType), phys.toString)
  }

  test("data card never shuffles document text: dup window + two-level " +
    "agg cascade, every exchange text-free (pipe3)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val phys = q("pipe3_data_card").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val ex = phys.collect { case e: ShuffleExchangeExec => e }
    // fp window + (source, lang) partial agg + (source) final agg
    assert(ex.length <= 3, phys.toString)
    assert(ex.nonEmpty, phys.toString)
    // whitelist by TYPE, not name: the only strings any exchange may
    // carry are the bounded card dimensions (source, lang) and the
    // 32-char hex md5 fingerprint — a renamed or derived text column
    // is caught here where a name == "text" check would miss it
    import org.apache.spark.sql.types.StringType
    val allowedStrings = Set("source", "lang", "fp")
    val rogue = ex.flatMap(_.output.filter(a =>
      a.dataType == StringType && !allowedStrings(a.name)))
    assert(rogue.isEmpty,
      s"unexpected string columns cross an exchange: " +
        s"${rogue.map(_.name).mkString(",")}\n" + phys.toString)
  }

  test("x13's intersection never plans a cartesian, and no exchange " +
    "carries a string wider than the source label — shingle text stays " +
    "inside the scan stage, only (source, 8-byte hash) shuffles") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // recurse into the persisted relation's cached plan — the shared
    // shingle-set subtree hides its distinct exchange behind an
    // InMemoryTableScan leaf, and that exchange is exactly the one the
    // no-text-shuffle claim is about
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val unwrapped = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      unwrapped.collect { case e: ShuffleExchangeExec => e } ++
        unwrapped.collect { case im: InMemoryTableScanExec => im }
          .flatMap(im => exchanges(im.relation.cachedPlan))
    }
    val phys = physical(q("x13_source_overlap"))
    val s = phys.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    val ex = exchanges(phys)
    assert(ex.nonEmpty, s)
    // the only string any KEYED exchange may carry is the bounded
    // source label (src_a/src_b after the self-join renames): hash
    // exchanges are where the corpus-volume shingle relation travels,
    // and it must move as (source, 8-byte hash) only. A ROUND-ROBIN
    // exchange is the r16 conditional ingest spread (fires only when
    // the parquet scan has fewer splits than executors — the sf
    // ladder's single-file case, never a corpus-scale scan) and is
    // bounded by RAW INPUT bytes, so text may ride it.
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val keyed = ex.filterNot(
      _.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
    val allowed = Set("source", "src_a", "src_b")
    val rogue = keyed.flatMap(_.output.filter(a =>
      a.dataType == StringType && !allowed(a.name)))
    assert(rogue.isEmpty,
      s"string columns cross a keyed exchange: ${rogue.map(_.name).mkString(",")}\n$s")
  }

  test("bigram-LM scoring tokenizes the corpus EXACTLY once — the " +
    "cached tf feeds both the model branch and the scoring join, so " +
    "no kernel sits in the operator tree (exchange reuse cannot " +
    "unify the consumers: each join key infers a different isnotnull " +
    "pushdown) — and the scoring join carries no broadcast hint, " +
    "degrading to sort-merge with the broadcast path disabled (x12)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = q("x12_bigram_lm")
      val p = plan(df)
      // the tokenize kernel lives only inside tf's cached definition —
      // no MapPartitionsExec in the operator tree means no consumer
      // can re-run it (a dropped persist fails here)
      assert(physical(df).collect {
        case m: org.apache.spark.sql.execution.MapPartitionsExec => m
      }.isEmpty, p)
      // a forced broadcast hint would survive threshold = -1; a
      // SortMergeJoin here proves the joins degrade gracefully
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental dedup probes exact fingerprints with a LeftSemi " +
    "and the directional band join never degenerates to a cartesian " +
    "(d10)") {
    // the registered query checkpoints its result (the plan would be
    // an RDD scan) — assert on the pre-checkpoint plan
    val p = plan(graft.operators.DedupOps.d10Plan(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cls2 serves via broadcast model/prior probes — the corpus " +
    "never sort-merges against the fixed-size model") {
    // the serve pass rides the memo_nb_scores checkpoint as of r17
    // (cls2's own plan is a checkpoint scan) — assert on the
    // pre-checkpoint BUILD plan, the d10Plan convention above
    val p = plan(graft.operators.RetrievalOps.buildNbDocScores(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bpe1's top-k is TakeOrderedAndProject over the bounded pair " +
    "aggregate, never a global sort, and plans no join at all") {
    val p = plan(q("bpe1_pair_merge"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"), p)
  }

  test("d11: document text never crosses a shuffle — every shuffle " +
    "exchange carries only ids/hashes/ints, and the rewrite join " +
    "broadcasts the bad-index lists") {
    val df = q("d11_line_dedup")
    df.count() // let AQE finalize the join selection
    val shuffles = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val strCols = e.output.filter(
        _.dataType == org.apache.spark.sql.types.StringType)
      assert(strCols.isEmpty,
        s"shuffle carries string columns ${strCols.map(_.name)}")
    }
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("tok1 tokenizes at scan speed: one file scan, zero exchanges, " +
    "zero explodes — the whole merge chain is in-row") {
    val df = q("tok1_bpe_apply")
    val p = physical(df)
    assert(p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, plan(df))
    assert(p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, plan(df))
    assert(p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.size == 1, plan(df))
  }

  test("x15's vocabulary head cut is TakeOrderedAndProject — the " +
    "vocabulary is never globally sorted") {
    val p = plan(q("x15_zipf"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dsir1's vocabulary-sized LLR join carries NO broadcast hint — " +
    "it degrades to a term-keyed merge join when broadcast is off " +
    "(a forced hint would survive the threshold)") {
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val p = plan(q("dsir1_importance"))
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      // restore BOTH keys symmetrically — unset only what was unset,
      // so a session-level override set by another suite survives
      prev.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevAqe.fold(
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  test("er1's distinct-name pair join is a keyed equi-join — never a " +
    "cartesian or nested loop") {
    val p = plan(q("er1_fuzzy_block"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("emb2's Gram matrix shuffles ONCE, and the exchange carries " +
    "only narrow scalar rows — never embedding vectors (the matmul-" +
    "by-partial-aggregation shape)") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val phys = physical(q("emb2_gram"))
    val ex = phys.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length == 1, phys.toString)
    assert(!ex.head.output.exists(_.dataType.isInstanceOf[ArrayType]),
      phys.toString)
    // the partial aggregate sits BELOW the exchange: each task
    // collapses to <= 2080 rows before anything moves
    assert(ex.head.collectFirst { case h: HashAggregateExec => h }.isDefined,
      phys.toString)
  }

  test("x16's fingerprint exchanges carry only 8-byte keys and " +
    "counts — document text never crosses a shuffle (the d11/d9 " +
    "no-string-shuffle invariant)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val phys = physical(q("x16_winnow"))
    spark.catalog.clearCache()
    phys.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.output.exists(a => a.dataType == StringType ||
        a.dataType.isInstanceOf[ArrayType]), phys.toString)
    }
  }

  test("idx1's posting head prunes map-side via WindowGroupLimit — " +
    "the rank shuffle never carries a stopword's full posting list") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val phys = physical(q("idx1_inverted"))
    spark.catalog.clearCache()
    assert(phys.collectFirst { case w: WindowGroupLimitExec => w }.isDefined,
      phys.toString)
  }

  test("att1's analytic window is user-partitioned — never the " +
    "single-partition global window that serializes the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    val phys = physical(q("att1_last_touch"))
    val ws = phys.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, phys.toString)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty, phys.toString))
  }

  test("ts1/att2/w11: every analytic window in the round-9c event " +
    "operators is key-partitioned — the gap-fill, credit and rolling " +
    "frames never serialize through one task") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // persisted subtrees hide their windows inside InMemoryRelation —
    // descend into cached plans so a persist can't blind the pin
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    def allWindows(p: SparkPlan): Seq[WindowExec] =
      p.collect { case w: WindowExec => w } ++
        p.collect { case s: InMemoryTableScanExec =>
          allWindows(unwrap(s.relation.cachedPlan))
        }.flatten
    Seq("ts1_gapfill", "att2_linear_credit", "w11_rolling_z").foreach { n =>
      val phys = physical(q(n))
      spark.catalog.clearCache()
      val ws = allWindows(phys)
      assert(ws.nonEmpty, s"$n: ${phys.toString}")
      ws.foreach(w => assert(w.partitionSpec.nonEmpty, s"$n: ${phys.toString}"))
    }
  }

  test("emb3's per-dim stats join back as a broadcast — the corpus " +
    "never sort-merge-joins a 64-row dimension") {
    val p = plan(q("emb3_standardize"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gr3's top-k is TakeOrderedAndProject and the wedge join is a " +
    "keyed equi-join, never a cartesian (the one nested-loop is the " +
    "broadcast of the 1-row cap — the w9 anchor pattern)") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = q("gr3_link_predict")
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // any BNLJ must carry the broadcast 1-row cap, nothing bigger
    physical(df).foreach {
      case b: BroadcastNestedLoopJoinExec =>
        assert(b.right.output.map(_.name) == Seq("cap") ||
          b.left.output.map(_.name) == Seq("cap"), b.toString)
      case _ => ()
    }
    spark.catalog.clearCache()
  }

  test("d12's candidate scoring joins stay keyed equi-joins — never " +
    "a cartesian (the d2 verify-path shape)") {
    val p = plan(q("d12_containment"))
    spark.catalog.clearCache()
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("idx2's query fanout and term-count check ride broadcast " +
    "joins — the suite dimension never shuffles the postings") {
    val p = plan(q("idx2_postings_and"))
    spark.catalog.clearCache()
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("qr2's feedback-doc fetch is a broadcast join against the " +
    "corpus scan — the |Q|·3 feedback set probes the docs, corpus " +
    "text never shuffles for it") {
    val p = plan(q("qr2_prf_expand"))
    spark.catalog.clearCache()
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("idx4's proximity head prunes map-side via WindowGroupLimit " +
    "and the adjacency join stays a keyed equi-join — never a " +
    "cartesian over postings") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = q("idx4_proximity")
    val p = plan(df)
    assert(physical(df).collectFirst {
      case w: WindowGroupLimitExec => w }.isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("emb6's 1024-row sign matrix rides a broadcast join — the " +
    "exploded corpus never sort-merge-joins a literal dimension") {
    val p = plan(q("emb6_rand_proj"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cls5's assignment runs at scan speed — centroids inline as " +
    "literals, so the plan has NO join at all") {
    val p = plan(q("cls5_rocchio"))
    assert(!p.contains("Join"), p)
    // and the confusion agg is partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("seq1's sequence window is user-partitioned — the transition " +
    "lag never serializes the event stream through one task") {
    import org.apache.spark.sql.execution.window.WindowExec
    val phys = physical(q("seq1_transition"))
    val ws = phys.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, phys.toString)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty, phys.toString))
  }

  test("x20's function-word head is TakeOrderedAndProject and the " +
    "moment/head attachments are broadcasts — the (source, term) " +
    "relation never shuffles for a 20-row dimension") {
    val p = plan(q("x20_burrows_delta"))
    spark.catalog.clearCache()
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x21's gram exchanges carry only 8-byte keys and counts — " +
    "document text never crosses a KEYED shuffle (the x16/d11 " +
    "invariant; the r16 kernel's conditional ingest spread is a " +
    "round-robin bounded by raw input bytes that never fires on a " +
    "corpus-scale scan — the x13 narrowing)") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val phys = physical(q("x21_dup_ngrams"))
    spark.catalog.clearCache()
    phys.collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .foreach { e =>
        assert(!e.output.exists(a => a.dataType == StringType ||
          a.dataType.isInstanceOf[ArrayType]), phys.toString)
      }
  }

  test("sm8's rank window is lang-partitioned and the data-derived k " +
    "rides a broadcast — never a global window or a shuffled 1-row " +
    "dimension") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = q("sm8_class_balance")
    val ws = physical(df).collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty))
    assert(!plan(df).contains("SortMergeJoin"), plan(df))
  }

  test("g11's probe join broadcasts the 64-cell sketch and the exact " +
    "top-10 head is TakeOrderedAndProject — the sketch never shuffles " +
    "the token stream a second time") {
    val p = plan(q("g11_cms_freq"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("er4's catalog sweep is ONE broadcast nested-loop of the " +
    "fixed probe head (a deliberate K-row broadcast product, the " +
    "cls3 shape) — and the probe head is TakeOrderedAndProject") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = q("er4_blocking_eval")
    val nl = physical(df)
      .collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nl.length == 1, plan(df))
    assert(plan(df).contains("TakeOrderedAndProject"), plan(df))
  }

  test("pipe8's quota join is a broadcast and the corpus-side running " +
    "sum is source-partitioned — the only unpartitioned windows are " +
    "the quota branch's, which run on the |sources|-row aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = q("pipe8_budget_fill")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val ws = physical(df).collect { case w: WindowExec => w }
    assert(ws.exists(_.partitionSpec.nonEmpty), p)
    // any unpartitioned window must sit above an aggregate (the
    // quota branch) — never directly over the scored corpus
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty, p)
    }
  }

  test("voc3's unpartitioned windows ride ONLY the bounded top-K head " +
    "(VERDICT r12 #1): every empty-partition WindowExec has a " +
    "TakeOrderedAndProject/GlobalLimit below it, the head is " +
    "max(VOC3_SIZES) rows, and totals come from an aggregate — " +
    "never a vocabulary-sized window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec, GlobalLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = q("voc3_coverage_curve")
    val ws = physical(df).collect { case w: WindowExec => w }
    assert(ws.nonEmpty, plan(df))
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      val bounded = w.collectFirst {
        case t: TakeOrderedAndProjectExec => t
        case l: GlobalLimitExec => l
      }
      assert(bounded.nonEmpty,
        s"unpartitioned window with no limit head below it:\n$w")
    }
    // and the head cut itself planned as TakeOrderedAndProject (or a
    // limit), never a global sort of the vocabulary
    assert(plan(df).contains("TakeOrderedAndProject") ||
      physical(df).collectFirst { case l: GlobalLimitExec => l }.nonEmpty,
      plan(df))
  }

  /** Repo-wide ratchet (VERDICT r12 #2): an unpartitioned Window
    * serializes its ENTIRE input through one task's sort, so it is
    * only ever acceptable over a relation whose size is bounded by
    * something other than the corpus — and each such case must say
    * its bound OUT LOUD below. The map is exact-set-checked in both
    * directions: a new query sneaking in a full-relation window fails
    * here the round it lands (the voc3 class — r12's finding, where
    * the window rode the whole VOCABULARY, which grows with the
    * corpus), and a whitelist entry whose window disappears goes
    * stale-red so the list can't rot into a blanket waiver. */
  private val boundedUnpartitionedWindows: Map[String, String] = Map(
    // al1/cal1/cls2 left this map in r17: nbDocScores' |langs|-row
    // prior window moved behind the memo_nb_scores checkpoint (the
    // build is hand-audited where defined, like the coEdges memo);
    // their remaining windows are doc_id-partitioned
    "an3_tcloseness" -> ("global-EMD windows ride the densified " +
      "≤|segments|·|priorities| grid (≤25 rows at any corpus size)"),
    "cls1_nb_model" -> ("prior total over the |langs|-row aggregate"),
    "cls4_calibrated_filter" -> ("threshold cumsum over the " +
      "margin-domain aggregate — bounded by the ilog2 score range " +
      "(~±40 rows); nbDocScores' prior window moved behind the memo"),
    "d17_cluster_histogram" -> ("share window over the ≤|distinct " +
      "cluster sizes| histogram: k distinct sizes need k(k+1)/2 ≤ " +
      "Σ sizes = |docs in clusters| members, so k = O(√docs) narrow rows"),
    "dq4_benford" -> "total window over the 9-row digit relation",
    "gr6_degree_hist" -> ("share total over the ≤64-row log2 degree " +
      "bucket aggregate"),
    "gr3_link_predict" -> ("wedge-budget cap cumsum over the DEGREE " +
      "HISTOGRAM: k distinct degrees satisfy k(k+1)/2 ≤ Σdeg = 2m, " +
      "so ≤2√m two-long rows (~2·10⁶ at 10¹² edges)"),
    "imp1_loo_impact" -> ("grand totals over the |sources|-row " +
      "aggregate"),
    "pipe7_token_budget" -> ("quota windows over the |sources|-row " +
      "token-mass relation"),
    "pipe8_budget_fill" -> ("pipe7's quota branch (|sources| rows); " +
      "the corpus side is source-partitioned — asserted by the pipe8 " +
      "plan test above"),
    "rrf1_hybrid_fuse" -> ("rank/fusion windows over the ≤k-row " +
      "constituent rankings (x11/s1 are top-k by construction)"),
    "sm6_temperature_mix" -> ("mixture-rate windows over the " +
      "|sources|-row aggregate"),
    "sm7_systematic_sample" -> ("exclusive scan over ≤SM7_BUCKETS=1024 " +
      "bucket totals; per-row cumsum is bucket-partitioned"),
    "voc3_coverage_curve" -> ("rank/coverage over the " +
      "max(VOC3_SIZES)=32-row orderBy+limit head (TakeOrderedAndProject)"),
    "w16_streaks" -> ("calendar-mean window over the dense ≤|days| " +
      "grid (~365 rows/year at any corpus size)"),
    "w17_interarrival" -> ("share window over the ≤64-row log2 gap " +
      "bucket aggregate"),
    "x15_zipf" -> ("rank window over the X15_TOP-row orderBy+limit " +
      "head (TakeOrderedAndProject)"))

  test("ratchet: every unpartitioned Window rides a relation with a " +
    "stated non-corpus bound — exact set match, both directions") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    // persisted subtrees are substituted with InMemoryRelation in the
    // optimized plan (gr3's cap histogram hides there), so the walk
    // descends into cachedPlan physical trees too. localCheckpoint'd
    // memo builds (coEdges, pipe memos) truncate to LogicalRDD and
    // stay invisible — those builds are hand-audited where defined.
    def physWins(p: SparkPlan): Int = {
      val here = p.collect { case w: WindowExec if w.partitionSpec.isEmpty => 1 }.sum
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => physWins(a.executedPlan)
        case t: InMemoryTableScanExec => physWins(t.relation.cachedPlan)
      }.sum
      here + nested
    }
    val withWin = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, sf)
        val opt = df.queryExecution.optimizedPlan
        val logical = opt.collect {
          case w: LWindow if w.partitionSpec.isEmpty => 1
        }.sum
        val cached = opt.collect {
          case r: InMemoryRelation => physWins(r.cachedPlan)
        }.sum
        if (logical + cached > 0) Some(name) else None
    }.toSet
    val unexplained = withWin -- boundedUnpartitionedWindows.keySet
    assert(unexplained.isEmpty,
      s"queries with an unpartitioned Window and NO stated bound: " +
        s"${unexplained.toSeq.sorted.mkString(", ")}")
    val stale = boundedUnpartitionedWindows.keySet -- withWin
    assert(stale.isEmpty,
      s"whitelist entries whose unpartitioned Window no longer exists " +
        s"(remove them): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("the conditional ingest spread is a NO-OP on an input that " +
    "already carries enough partitions (ADVICE r16: at spec scale the " +
    "single-split scan always fires the spread, so the x13/x21 " +
    "round-robin exemptions alone could not pin the corpus-scale " +
    "no-round-robin invariant)") {
    val par = spark.sparkContext.defaultParallelism
    // pre-partitioned input: the helper must return the SAME plan —
    // reference equality, the strongest "unchanged" there is
    val wide = spark.range(1000).toDF("x").repartition(par)
    assert(Tables.spreadIfNarrow(spark, wide) eq wide,
      "spreadIfNarrow rewrote a plan that already feeds the kernel")
    val wider = spark.range(1000).toDF("x").repartition(par + 3)
    assert(Tables.spreadIfNarrow(spark, wider) eq wider,
      "spreadIfNarrow rewrote an over-partitioned plan")
    // narrow input: the spread fires and declares exactly
    // defaultParallelism via round-robin
    val narrow = spark.range(1000).toDF("x").coalesce(1)
    val spread = Tables.spreadIfNarrow(spark, narrow)
    assert(!(spread eq narrow), "single-partition input was not spread")
    assert(spread.rdd.getNumPartitions == par)
  }
}
