package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** gr5's determinism laws (VERDICT r16 #2).
  *
  * Background: an r16 A/B scratch harness that REIMPLEMENTED gr5
  * inline produced 558 communities vs the oracle-pinned 556 when a
  * join hint was added — never root-caused, and "a join strategy
  * changed an LPA answer" is exactly the nondeterminism class
  * (tie-breaking on arrival order) that must be pinned by a law, not
  * a note. The SHIPPED form's per-round transform is a pure function
  * of the (v, l, c) multiset — `count` then a lexicographic
  * `max(struct(c, −l))` argmax, no row_number over an
  * arrival-ordered window, no first()/head-of-group — so no physical
  * join strategy can move it. These laws pin that property against
  * the shipped `gr5Labels`/`lpaRound`, not a reimplementation (the
  * r16 divergence is thereby attributed to the throwaway harness).
  */
class GraphLawSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  // the oracle's own gate SF: a non-trivial wedge stream for gr3
  private val gateSf = "/root/testdata/sf0.01"

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def under[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("gr5 labels are invariant under forced join strategies " +
    "(broadcast vs shuffle-hash vs sort-merge)") {
    // three physical regimes for every equi-join in the trajectory:
    // (a) broadcast wherever size allows (generous threshold),
    // (b) no broadcast, shuffled-hash preferred,
    // (c) no broadcast, sort-merge forced.
    val bcast = under(
      "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString) {
      labelSet(GraphOps.gr5Labels(spark, sf))
    }
    val shj = under(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false") {
      labelSet(GraphOps.gr5Labels(spark, sf))
    }
    val smj = under(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      labelSet(GraphOps.gr5Labels(spark, sf))
    }
    assert(bcast.nonEmpty)
    assert(bcast == shj, "broadcast vs shuffled-hash labels diverge")
    assert(bcast == smj, "broadcast vs sort-merge labels diverge")
    // and the published histogram grain agrees with the labels
    val hist = SparkEntry.queries("gr5_communities")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fromLabels = bcast.groupBy(_._2).map { case (l, m) => (l, m.size.toLong) }
    assert(hist == fromLabels,
      "gr5's histogram disagrees with the label trajectory")
  }

  test("gr5's round-1 identity collapse (groupBy.min) equals the " +
    "generic LPA round on identity labels") {
    import graft.Tables
    // the same symmetric view gr5 consumes, derived independently of
    // the memo so the law doesn't depend on artifact state
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val e = ip.select(col("o"), col("p").as("pa"))
      .join(ip.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val sym = e.select(col("pa").as("v"), col("pb").as("n"))
      .union(e.select(col("pb").as("v"), col("pa").as("n")))
    val identity = sym.select(col("v")).distinct()
      .select(col("v"), col("v").as("l"))
    val generic = labelSet(GraphOps.lpaRound(sym, identity))
    val collapsed = labelSet(
      sym.groupBy(col("v")).agg(min(col("n")).as("l")))
    assert(generic.nonEmpty)
    assert(generic == collapsed,
      "identity-label collapse is not the generic round")
  }

  test("gr7's round-1 collapse (degree filter off the artifact) " +
    "equals the generic peel round on the full node set") {
    import graft.Tables
    // the peel relation derived independently of the memo (the gr5
    // law's posture): symmetric edges + degree table from scratch
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val e = ip.select(col("o"), col("p").as("pa"))
      .join(ip.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val ed = e.select(col("pa").as("n"), col("pb").as("m"))
      .union(e.select(col("pb").as("n"), col("pa").as("m")))
    val deg = ed.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // any k in the observed degree range exercises both kept and
    // dropped nodes; use the p25 mechanism gr7 itself uses
    val k = deg.agg(expr("CAST(floor(percentile(deg, 0.25)) AS BIGINT)"))
      .head().getLong(0)
    val allNodes = deg.select(col("n"))
    val generic = ed
      .join(allNodes, Seq("n"))
      .join(allNodes.select(col("n").as("m")), Seq("m"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k)
      .select(col("n")).collect().map(_.getLong(0)).toSet
    val collapsed = deg.filter(col("deg") >= k)
      .select(col("n")).collect().map(_.getLong(0)).toSet
    assert(generic.nonEmpty)
    assert(generic == collapsed,
      "round-1 degree-filter collapse is not the generic peel round")
  }

  test("gr3's broadcast anti join equals the bloom-split form " +
    "(r18 — definite U settled = anti-join-all, ORDER included)") {
    // the gate-scale corpus so the wedge stream is non-trivial;
    // collect ordered rows, not sets: the top-K ORDER is part of the
    // contract
    def rows(bcast: Boolean): Seq[(Long, Long, Long)] =
      GraphOps.gr3TopK(spark, gateSf, bcastAnti = bcast)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val split = rows(bcast = false) // the r17 shipped shape
    assert(split.nonEmpty)
    assert(rows(bcast = true) == split,
      "gr3 broadcast-anti diverges from the bloom-split form")
    spark.catalog.clearCache() // the split path persisted its cn
  }

  test("a graph query's formatted plan explains on the engine's " +
    "session: gr3's split path shows the bloom probe it filters by") {
    val plan = GraphOps.gr3TopK(spark, sf, bcastAnti = false).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    spark.catalog.clearCache() // building the split path persisted its cn
    assert(plan.contains("might_contain"), plan)
  }

  test("gr3's broadcast gate prices an edge at the hash-relation cost, " +
    "not its 16 raw bytes: a threshold between 16 and 48 B/edge takes " +
    "the bloom-split path") {
    val nEdges = GraphOps.artifacts(spark, sf).nEdges
    assert(nEdges > 0 && GraphOps.GR3_BCAST_BYTES_PER_EDGE > 32L)
    spark.catalog.clearCache()
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet.toSet
    val base = persisted()
    // only the split path persists its pair counts
    val split = under(
      "spark.sql.autoBroadcastJoinThreshold" -> (32L * nEdges).toString) {
      SparkEntry.queries("gr3_link_predict")(spark, sf)
        .queryExecution.toRdd.count()
      (persisted() -- base).nonEmpty
    }
    spark.catalog.clearCache()
    assert(split, "gr3 broadcast an edge list priced over the threshold")
  }

  test("gr5's round-0→1 frontier is the FULL node set (r18 — the " +
    "frontier-only-LPA NO-GO proof: identity labels + no self-loops " +
    "⇒ every node's label changes in round 1, so at GR5_ROUNDS = 2 " +
    "frontier plumbing is a no-op; re-examine if the depth changes)") {
    assert(GraphOps.GR5_ROUNDS == 2,
      "GR5_ROUNDS changed — the frontier-only NO-GO must be re-proved")
    import graft.Tables
    val gateSf = "/root/testdata/sf0.01"
    val ip = Tables.lineitem(spark, gateSf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val e = ip.select(col("o"), col("p").as("pa"))
      .join(ip.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val sym = e.select(col("pa").as("v"), col("pb").as("n"))
      .union(e.select(col("pb").as("v"), col("pa").as("n")))
    // label₁(v) = min neighbor id; unchanged would mean = v
    val unchanged = sym.groupBy(col("v")).agg(min(col("n")).as("l"))
      .filter(col("l") === col("v")).count()
    val nodes = sym.select(col("v")).distinct().count()
    assert(nodes > 0)
    assert(unchanged == 0L,
      s"$unchanged of $nodes nodes kept their identity label in round 1")
  }
}
