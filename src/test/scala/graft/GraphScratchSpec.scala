package graft

import graft.operators.GraphOps

/** The graph scratch-cache protocol (VERDICT r15 #3/#4): several
  * graph queries persist transient edge-/node-sized frames that
  * their returned lazy plans consume at the caller's
  * materialization. The protocol replaces the r15 comment-documented
  * leak: every such persist is REGISTERED, the next graph query's
  * entry releases its predecessor's blocks, and a long-lived driver
  * can release eagerly via [[GraphOps.releaseScratch]]. Queries that
  * materialize their result inside the body (gr5/gr7/gr8) release
  * their own scratch and leave nothing registered.
  *
  * Observation point: `sc.getPersistentRDDs` — unpersist(false)
  * removes the entry from the map synchronously (only block deletion
  * is async), so the assertions are race-free. The memoized edge
  * artifacts (checkpointed edges/degrees) are corpus-version state
  * with a registered owner of their own (the edge memo) and form the
  * BASELINE the deltas are measured against.
  */
class GraphScratchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): Unit = {
    SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count(); ()
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("lazy graph queries register their scratch persists and " +
    "releaseScratch returns the storage catalog to baseline") {
    primeMemo("memo_copurchase_edges", sf)
    GraphOps.releaseScratch(spark)
    val base = persistedIds
    // every lazy-plan query that persists scratch: after a standalone
    // run the blocks exist (registered, resident), after release the
    // catalog is byte-for-byte back to the memo baseline
    for (q <- Seq("gr1_pagerank", "gr2_triangles", "gr6_degree_hist")) {
      run(q)
      assert((persistedIds -- base).nonEmpty,
        s"$q should have registered scratch persists while resident")
      GraphOps.releaseScratch(spark)
      assert((persistedIds -- base).isEmpty,
        s"$q leaked persists past releaseScratch: ${persistedIds -- base}")
    }
    // gr3 (r18): the broadcast-anti path consumes its pair counts
    // exactly once and persists NOTHING — the cn persist exists only
    // on the bloom-split path (edges past the broadcast threshold),
    // where it is registered and released like the rest
    run("gr3_link_predict")
    assert((persistedIds -- base).isEmpty,
      s"gr3's bcast-anti path should persist nothing: ${persistedIds -- base}")
    GraphOps.gr3TopK(spark, sf, bcastAnti = false)
      .queryExecution.toRdd.count()
    assert((persistedIds -- base).nonEmpty,
      "gr3's split path should register its cn persist while resident")
    GraphOps.releaseScratch(spark)
    assert((persistedIds -- base).isEmpty,
      s"gr3 split path leaked past releaseScratch: ${persistedIds -- base}")
  }

  test("the next graph query's entry releases its predecessor's " +
    "scratch (the owned-entry handshake)") {
    primeMemo("memo_copurchase_edges", sf)
    GraphOps.releaseScratch(spark)
    val base = persistedIds
    run("gr2_triangles")
    assert((persistedIds -- base).nonEmpty,
      "gr2 should leave registered scratch resident")
    // gr4 persists nothing itself, so the only storage-catalog effect
    // of entering it is the release of gr2's registered blocks
    run("gr4_assortativity")
    assert((persistedIds -- base).isEmpty,
      s"gr4's entry did not release gr2's scratch: ${persistedIds -- base}")
  }

  test("the registry is per session: a graph query in a second session " +
    "leaves the first session's registered scratch in place") {
    primeMemo("memo_copurchase_edges", sf)
    GraphOps.releaseScratch(spark)
    val base = persistedIds
    run("gr2_triangles")
    val first = persistedIds -- base
    assert(first.nonEmpty, "gr2 should leave registered scratch resident")
    val other = spark.newSession()
    try {
      // gr2 registers the second session's own scratch, gr4's entry
      // releases it: neither touches the first session's blocks
      for (q <- Seq("gr2_triangles", "gr4_assortativity")) {
        SparkEntry.queries(q)(other, sf).queryExecution.toRdd.count()
        assert(first.subsetOf(persistedIds),
          s"$q in a second session released the first session's scratch: " +
            s"${first -- persistedIds}")
      }
    } finally GraphOps.releaseScratch(other)
    assert(first.subsetOf(persistedIds))
    GraphOps.releaseScratch(spark)
    assert((persistedIds & first).isEmpty,
      s"releasing the first session left its scratch: ${persistedIds & first}")
  }

  test("self-releasing queries (gr5/gr7/gr8) leave the catalog clean " +
    "modulo gr5's own materialized result") {
    primeMemo("memo_copurchase_edges", sf)
    GraphOps.releaseScratch(spark)
    val base = persistedIds
    for (q <- Seq("gr7_kcore", "gr8_hop_histogram")) {
      run(q)
      assert((persistedIds -- base).isEmpty,
        s"$q left scratch resident: ${persistedIds -- base}")
    }
    // gr5 returns an eagerly PERSISTED histogram: exactly ONE net
    // block — the result the caller holds — and no scratch. It must
    // be a CacheManager persist, not a localCheckpoint (ADVICE r16:
    // checkpoint blocks are invisible to spark.catalog.clearCache(),
    // so Bench's three interleaved passes accumulated three
    // unreleasable histogram RDDs per round) — so clearCache() must
    // return the catalog to baseline.
    run("gr5_communities")
    val net = persistedIds -- base
    assert(net.size <= 1, s"gr5 left scratch beyond its result: $net")
    spark.catalog.clearCache()
    // the memo artifacts are checkpoints, not cache entries — they
    // survive clearCache; only gr5's result block must release
    assert((persistedIds -- base).isEmpty,
      s"gr5's result block is not clearCache-reachable: ${persistedIds -- base}")
  }
}
