package graft

/** Who releases the graph family's per-query scratch. gr1, gr2 and
  * gr3's bloom-split path persist an edge-/node-sized frame that the
  * returned LAZY plan reads more than once at the caller's
  * materialization; like every other persisting query they leave it
  * for the caller's `spark.catalog.clearCache()` (ScratchLeakSpec pins
  * the list). Building a graph query never touches another query's
  * blocks, so graph queries may be built, interleaved and materialized
  * concurrently on one session. Queries that materialize their result
  * inside the body (gr5/gr7/gr8) release their own scratch.
  *
  * Observation point: `sc.getPersistentRDDs` — unpersist(false)
  * removes the entry from the map synchronously (only block deletion
  * is async), so the assertions are race-free. The memoized edge
  * artifacts (checkpointed edges/degrees) are corpus-version state
  * owned by the edge memo and form the BASELINE the deltas are
  * measured against.
  */
class GraphScratchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): Unit = {
    SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count(); ()
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("building other graph queries leaves a materialized graph " +
    "query's scratch resident; the caller's clearCache releases it") {
    primeMemo("memo_copurchase_edges", sf)
    spark.catalog.clearCache()
    val base = persistedIds
    run("gr2_triangles")
    val gr2 = persistedIds -- base
    assert(gr2.nonEmpty, "gr2 should leave its oriented edges persisted")
    // gr1 persists its own edges while building; gr6 persists nothing
    for (q <- Seq("gr1_pagerank", "gr6_degree_hist")) {
      SparkEntry.queries(q)(spark, sf)
      assert(gr2.subsetOf(persistedIds),
        s"building $q released gr2's scratch: ${gr2 -- persistedIds}")
    }
    spark.catalog.clearCache()
    assert((persistedIds -- base).isEmpty,
      s"graph scratch is not clearCache-reachable: ${persistedIds -- base}")
  }

  test("gr1 and gr2 materialized from two threads on one session give " +
    "their single-thread answers") {
    primeMemo("memo_copurchase_edges", sf)
    def answer(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
    val qs = Seq("gr1_pagerank", "gr2_triangles")
    val alone = qs.map(q => q -> answer(q)).toMap
    spark.catalog.clearCache()
    val got = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = qs.map { q =>
      new Thread(() =>
        try got.put(q, answer(q)) catch { case t: Throwable => failed.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    spark.catalog.clearCache()
    assert(failed.isEmpty, s"a concurrent graph query failed: ${failed.peek()}")
    for (q <- qs) {
      assert(alone(q).nonEmpty)
      assert(got.get(q) == alone(q), s"$q differs when run beside the other")
    }
  }

  test("self-releasing queries (gr5/gr7/gr8) leave the catalog clean " +
    "modulo gr5's own materialized result") {
    primeMemo("memo_copurchase_edges", sf)
    spark.catalog.clearCache()
    val base = persistedIds
    for (q <- Seq("gr7_kcore", "gr8_hop_histogram")) {
      run(q)
      assert((persistedIds -- base).isEmpty,
        s"$q left scratch resident: ${persistedIds -- base}")
    }
    // gr5 returns an eagerly PERSISTED histogram: exactly ONE net
    // block — the result the caller holds — and no scratch. It must
    // be a CacheManager persist, not a localCheckpoint: checkpoint
    // blocks are invisible to spark.catalog.clearCache(), so Bench's
    // interleaved passes would accumulate one unreleasable histogram
    // RDD per pass — so clearCache() must return the catalog to
    // baseline.
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
