package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Memo, Tables}

/** Link-analysis over the graph implicit in the relational data: the
  * customer↔supplier bipartite graph, where an edge means "this
  * customer's orders included a line from this supplier" (distinct
  * (o_custkey, l_suppkey) pairs through the orders⋈lineitem join).
  *
  * gr1 runs PageRank over it in INTEGER arithmetic: ranks live in
  * micro-units (10^6 = rank 1.0), a node pushes `rank div degree` to
  * each neighbor (floor division — the dropped remainder is
  * deterministic), and damping applies as the exact rational
  * 85/100: r' = 150000 + (85 · Σin) div 100. No float ever appears,
  * so the fixpoint trajectory is bit-identical in any engine and the
  * DuckDB oracle replays both push rounds exactly — the same
  * portability strategy km1/lr1 use quantized longs for, taken to its
  * all-integer limit.
  *
  * Shape at 100 TB: each push round is one equi-join of the edge list
  * with the (node, rank) table plus one partial-aggregated groupBy —
  * the canonical distributed sparse mat-vec. Edges and ranks shuffle
  * as narrow id/long rows; degrees ride the edge rows; the edge list
  * is built once, persisted, and consumed by every round (PageRank is
  * inherently multi-pass, so the reuse is memory-local rescans, not
  * parquet re-reads). Iteration count is fixed (2 bipartite rounds =
  * one full cust→supp→cust cycle) — production runs more rounds of
  * the SAME plan; nothing about the shape changes. */
object GraphOps {

  private val GR_UNIT = 1000000L // rank 1.0 in micro-units

  /** Per-session memo of the part co-purchase edge list (pa < pb,
    * distinct), keyed by (session, dir). gr2/gr3/gr4/gr5 all analyze
    * the SAME graph, and a real pipeline materializes its edge list
    * exactly once per corpus version — the d2 signature-memo
    * discipline applied to graphs. The stored relation is narrow
    * (id, id) rows only ("checkpoint edges, never the corpus"),
    * eagerly localCheckpoint'ed so the blocks live in executor
    * storage with lineage truncated and survive the
    * catalog.clearCache() between bench queries. The ×10 probe
    * motivated it: four co-purchase queries paid four identical
    * edge-build exchanges per run. */
  private val edgeMemo = Memo[EdgeArtifacts]("lineitem")

  /** The once-per-corpus-version graph artifacts every co-purchase
    * query shares, so no query pays a `count()` or a bloom `head()`
    * over its own relation per run, and no query rebuilds the degree
    * table:
    *   - `edges`   — the distinct (pa < pb) edge list, checkpointed
    *   - `nEdges`  — its count, taken once over the checkpoint
    *   - `degrees` — the (p, deg) node-degree table, checkpointed
    *     (node-sized; distinct degree values are ≤ 2√m, nodes ≤ 2m)
    *   - `bloom`   — a bloom over `xxhash64(pa, pb)` of the CANONICAL
    *     id-ordered edge keys, sized from nEdges; gr2 probes it
    *     map-side to prune wedges, gr3 in ANTI form to prove
    *     non-edges. One sketch serves both because both probe with
    *     the id-canonical pair key.
    * All four are corpus-version state a production pipeline
    * materializes once per graph build — the d2 signature-memo
    * discipline — and all are edge-/node-sized, never corpus-sized. */
  private[graft] case class EdgeArtifacts(edges: DataFrame, nEdges: Long,
      degrees: DataFrame, bloom: Array[Byte], symEdges: DataFrame)

  /** The shared co-purchase artifacts — see [[edgeMemo]]. Bench primes
    * them as the `memo_copurchase_edges` line so their one-time cost
    * never lands on whichever of gr2–gr8 runs first. */
  private[graft] def artifacts(s: SparkSession, d: String): EdgeArtifacts =
    edgeMemo.get(s, d) {
      // each step is timed to stderr: the memo line is the graph
      // family's largest bench entry and the ×100 probe's one
      // over-ceiling number rode an unattributed internal step.
      // JOIN form, kept after a measured bucket-collect NO-GO (r15,
      // SCALE.md): a per-order collect_set + kernel pair enumeration
      // cut the build (one lineitem exchange instead of two + SMJ,
      // byte-equivalent output) — but every JOIN-shaped consumer of
      // the resulting checkpoint ran 3-6× slower at ×10 (gr4
      // 0.94→5.9 s, gr3 2.2→9.1 s; bisected by swapping only this
      // step). A checkpoint's cost to consumers depends on the
      // physical provenance of its blocks, not just their logical
      // content — so the (o,p) distinct + self-join + cross-order
      // distinct stays. Skew is bounded by lines-per-order (≤7 in
      // TPC-H shape); the self-join reuses the distinct's exchange.
      // r16: the (o,p) pre-distinct is gone — it was redundant (the
      // cross-order distinct below dedupes every duplicate pair the
      // raw join can emit, and pa < pb already drops self-pairs from
      // a twice-listed part), and it cost a full hash(o,p) exchange +
      // aggregation of the lineitem projection BEFORE the join's own
      // hash(o) exchange. Two exchanges remain: one on o (written
      // once, read by both self-join sides via exchange reuse) and
      // the final pair distinct — at ×100 this deletes a 60M-row
      // exchange + agg. Pair volume is unchanged in practice:
      // per-order duplicate parts are rare in TPC-H shape, and the
      // cross-order duplicates the final distinct removes dominate.
      // r16 late: the self-join is HINTED shuffle-hash — SMJ sorted
      // both 2-column sides for nothing (the join's output feeds a
      // hash distinct, order discarded). Measured same-window quiet:
      // edges 2.86 → 2.13 s at sf0.1; ×100 neutral (alternating
      // A/B/A/B trials SHJ 51.1/76.6 vs SMJ 73.6/53.0 — the box
      // oscillates, means within noise, mins 51 vs 53). Memory
      // posture at cluster scale: the build side per task is the
      // 2-long lineitem projection ÷ shuffle partitions, which AQE
      // sizes to its partition-byte target — config-bounded, not
      // data-bounded — and AQE skew-splitting applies to SHJ the
      // same as SMJ (order fanout ≤7 anyway). The checkpoint's
      // partitioning is unchanged (the final pair distinct owns it),
      // so the r15 consumer-provenance lesson is not in play.
      val e = Memo.timed("memo_copurchase", "edges") {
        val ip = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        ip.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
          .join(ip.select(col("o"), col("p").as("pb")), Seq("o"))
          .filter(col("pa") < col("pb"))
          .select(col("pa"), col("pb"))
          .distinct()
          .localCheckpoint(true)
      }
      // the census count is one in-memory pass over the fresh
      // checkpoint; it then sizes the bloom, so neither consumers nor
      // the sketch ever re-count the relation
      val n = Memo.timed("memo_copurchase", "count")(e.count())
      System.err.println(
        s"[graft]   memo_copurchase/edges.n          $n " +
          s"(parts ${e.rdd.getNumPartitions})")
      // NO-GO (r18, measured): running degrees and bloom as two
      // concurrent jobs (guide §2.6 — they are independent consumers
      // of the edge checkpoint) won −0.58 s same-window at sf0.1
      // (latency-bound regime, 3.82→3.24) but LOST at ×100: the
      // degrees+bloom section ran 29.0 s serial vs 64.6 s overlapped
      // (bloom 20.1→64.6 — at 120M edges both jobs are memory-
      // bandwidth-bound, eight 110 MB bloom partials churning against
      // a 240M-row shuffle agg, so "idle cores" was the wrong model).
      // The ×100 regime is the one this memo line is judged in
      // (family dec2), so the steps stay serial.
      val deg = Memo.timed("memo_copurchase", "degrees") {
        e.select(explode(array(col("pa"), col("pb"))).as("p"))
          .groupBy(col("p")).agg(count(lit(1)).as("deg"))
          .localCheckpoint(true)
      }
      // the sketch build is one distributed aggregation (no key
      // collect), via stat.bloomFilter so bits are sized optimally
      // from (n, fpp). CAUTION, measured at ×100: every bloom build in
      // Spark 4 (stat.bloomFilter delegates to bloom_filter_agg)
      // silently CLAMPS its sketch at
      // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
      // — at the 64M-bit default a 120M-edge filter saturates to
      // fpp ≈ 1 and prunes NOTHING (gr2's closing join ate all 4.1B
      // wedges, 608 s). GraftSession raises both caps; past even the
      // raised cap a bloom degrades gracefully (less pruning, never
      // wrong answers — the exact join decides), which is the
      // documented 10¹²-edge posture in SCALE.md.
      val bf = Memo.timed("memo_copurchase", "bloom") {
        // bloom_filter_agg over zero rows returns NULL, not an empty
        // sketch, so an empty edge list gets its (empty) filter here
        val bfFilter =
          if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, 0.03)
          else {
            // cap the PARTIAL-sketch count, measured at ×100: every scan
            // task materializes its own full-size partial sketch —
            // optimalNumOfBits(n, 0.03)/8 bytes, ~110 MB at 120M edges —
            // so 32 tasks allocated, serialized, shuffled and OR-merged
            // 3.5 GB for ONE final 110 MB filter (48.9 s, ≈ the whole
            // edge build). The checkpointed blocks coalesce WITHOUT a
            // shuffle; one task per ~16M keys keeps the putLong scan
            // parallel (~50 ns/key ⇒ ≤ ~1 s/task) while merge volume
            // stops growing with the partition count. At sf ladders
            // this collapses to one task — the sketch is ~1 MB there.
            val nParts = math.max(1L, math.min(
              s.sparkContext.defaultParallelism.toLong,
              (n + (16L << 20) - 1) / (16L << 20))).toInt
            e.coalesce(nParts)
              .select(xxhash64(col("pa"), col("pb")).as("k"))
              .stat.bloomFilter("k", n, 0.03)
          }
        val bos = new java.io.ByteArrayOutputStream()
        bfFilter.writeTo(bos)
        bos.toByteArray
      }
      // the SYMMETRIC orientation as shared state (r15): gr3's wedge
      // stream and gr5/gr7/gr8's round loops all consume both edge
      // orientations, and each used to union + persist its own copy —
      // three separate materializations of the same 2·|E| relation in
      // one suite run. Shared as a VIEW over the edge checkpoint, NOT
      // a second checkpoint: a scan re-derives the union from the
      // memory-resident edge blocks (two projections, no shuffle —
      // scan-speed), where a materialized copy DOUBLED the memo's
      // permanent residency and at ×10 pushed the suite's broadcast
      // builds into driver-memory exhaustion (gr3/gr4 OOM'd in the
      // r15 gate run; local mode shares one heap between storage and
      // broadcast build, and a cluster executor is no roomier).
      val sym = e.select(col("pa").as("u"), col("pb").as("v"))
        .union(e.select(col("pb").as("u"), col("pa").as("v")))
      EdgeArtifacts(e, n, deg, bf, sym)
    }

  private def coEdges(s: SparkSession, d: String): DataFrame =
    artifacts(s, d).edges

  /** Distinct bipartite edges with both endpoint degrees attached —
    * built once per query, reused by every push round. Both rounds
    * read it inside the caller's one materialization, so it persists
    * and the caller's `spark.catalog.clearCache()` releases it. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NO-GO, measured: attaching degrees by a partial-agged count +
    // join needs the base relation persisted for three consumers, and
    // that extra pass cost more than both window sorts (2.90 → 4.47 s
    // at sf0.1). The window form streams one materialization through
    // two exchanges.
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey").as("sup")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("sup"))
      .distinct()
      .withColumn("dc", count(lit(1)).over(Window.partitionBy(col("c"))))
      .withColumn("ds", count(lit(1)).over(Window.partitionBy(col("sup"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** gr1 — two integer-PageRank push rounds (cust→supp→cust), final
    * customer ranks in micro-units. */
  private def gr1(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    // round 1: every customer starts at GR_UNIT; push cust→supp
    val rs = e
      .select(col("sup"), expr(s"$GR_UNIT div dc").as("m"))
      .groupBy(col("sup")).agg(sum(col("m")).as("in_s"))
      .select(col("sup"),
        (lit(150000L) + expr("(85 * in_s) div 100")).as("r_s"))
    // round 2: push supp→cust under the round-1 supplier ranks
    e.join(rs, Seq("sup"))
      .select(col("c"), expr("r_s div ds").as("m"))
      .groupBy(col("c")).agg(sum(col("m")).as("in_c"))
      .select(col("c").as("custkey"),
        (lit(150000L) + expr("(85 * in_c) div 100")).as("rank_u"))
  }

  /** gr2 — triangle census of the part co-purchase graph (parts are
    * adjacent when some order contains both): node/edge/wedge/triangle
    * counts and the global clustering coefficient 3·T/W — the
    * standard structural summary of an item-similarity graph.
    *
    * Scale design — DEGREE-ORDERED ORIENTATION (the classic
    * distributed triangle-counting trick, e.g. Suri & Vassilvitskii's
    * MR-friendly variant): orient every edge from its lower-(deg,id)
    * endpoint to the higher one. Every triangle then has EXACTLY ONE
    * source node with two out-edges, so counting = enumerate out-edge
    * pairs (wedges) and close them against the directed edge set —
    * and out-degrees are bounded by O(√m) regardless of the raw
    * degree distribution, so the enumerated-wedge count is
    * O(m^{3/2}), not Σdeg² (a hub with raw degree 10^6 would
    * otherwise contribute 10^12 wedges; oriented it contributes only
    * pairs of HIGHER-ordered neighbors). The edge pair-explosion from
    * orders is bounded by lines-per-order (≤7 in TPC-H shape), and
    * the co-purchase self-join shuffles on the order key it already
    * groups by. The one-row output rides constant-size aggregates.
    *
    * The oracle states the naive a<b<c triple-join semantics; the
    * orientation is an exact bijection on triangles, so the counts
    * hash-match by construction. */
  private def gr2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val art = artifacts(s, d)
    val deg = art.degrees
    val withDeg = art.edges
      .join(deg.select(col("p").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("p").as("pb"), col("deg").as("db")), Seq("pb"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    // two consumers (the wedge kernel and the closing join) in one
    // materialization; the caller's clearCache releases it
    val dir = withDeg.select(
        when(aFirst, col("pa")).otherwise(col("pb")).as("u"),
        when(aFirst, col("pb")).otherwise(col("pa")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The wedge stream dwarfs the edge list (sf0.1: 41M oriented
    // wedges vs 1.2M edges, ~4.6% closing into triangles), so
    // shuffling every wedge to the exact closing join is the
    // bottleneck. j7's shape fixes it: the memoized edge bloom
    // (hashed id-canonical pair key; a collision is only a bloom
    // false positive — the EXACT join still decides) prunes ~95% of
    // the wedges MAP-SIDE, before they ever reach an exchange.
    // Enumeration itself is a typed kernel (r14): one exchange of the
    // directed edges on u, then per-source out-neighbor pairs in a
    // tight primitive loop with the broadcast bloom probed in-task —
    // the d2/mmr1 boundary (dense per-pair hashing is ~4-10x slower
    // as interpreted join+filter rows than as a JIT'd loop). Rows
    // arrive sorted (u, dv, v), so i<j pairs are emitted already in
    // the (deg, id) orientation order the closing join keys on.
    //
    // NO-GO (r18, measured at all three scales): packing the hit pair
    // into one long through the closing exchange (gr3's r18 trick,
    // same idsPack gate — kernel emits `b<<32|c`, the edge side packs
    // the same key, SHJ builds a long-keyed relation) moved NOTHING:
    // same-window A/B gr2 2.16->2.35 s and 1.79->1.94 s at sf0.1,
    // 6.56->6.69 s at x10, 110.2->114.2 s at x100. gr2 is bound by
    // the enumeration+probe kernel itself (the bloom is L3-resident
    // on this box; hits are ~5% of wedges so the closing exchange is
    // second-order), and the pack added a constant for plan/projection
    // overhead it never earned back. The x100 second-decade ratio is
    // wedge physics: enumerated oriented wedges measured 41M (sf0.1)
    // -> 4.1B (x100), x10 per decade, and the degree-ordered
    // orientation is already the exact-counting optimum — no exact
    // algorithm emits fewer wedges, so dec2 tracks the wedge growth,
    // not a plan defect.
    val bfB = s.sparkContext.broadcast(art.bloom)
    val hits = dir
      .repartition(col("u"))
      .sortWithinPartitions(col("u"), col("dv"), col("v"))
      .select(col("u"), col("v")).as[(Long, Long)]
      .mapPartitions { it =>
        // probe key replays xxhash64(lo, hi) exactly: seed 42, each
        // long folded via XXH64.hashLong — asserted in Round9OpsSpec
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bfB.value)
        val rows = it.buffered
        new Iterator[Iterator[(Long, Long)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[(Long, Long)] = {
            val u = rows.head._1
            var n = 0
            var vs = new Array[Long](8)
            while (rows.hasNext && rows.head._1 == u) {
              if (n == vs.length) vs = java.util.Arrays.copyOf(vs, n * 2)
              vs(n) = rows.next()._2; n += 1
            }
            if (n < 2) Iterator.empty
            else {
              val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              var i = 0
              while (i < n - 1) {
                val b = vs(i)
                var j = i + 1
                while (j < n) {
                  val c = vs(j)
                  val lo = if (b < c) b else c
                  val hi = if (b < c) c else b
                  if (bf.mightContainLong(XXH64.hashLong(hi,
                      XXH64.hashLong(lo, 42L))))
                    out += ((b, c))
                  j += 1
                }
                i += 1
              }
              out.iterator
            }
          }
        }.flatten
      }
    // closing join must be INNER, not semi: distinct wedges sharing
    // the same (b,c) from different u are DIFFERENT triangles, and
    // the directed edge set is unique-keyed so inner cannot duplicate.
    // SHUFFLE_HASH on the edge side: the surviving-wedge probe side
    // is the larger relation by construction (bloom hits ~ triangles
    // + fpp*wedges), and a sort-merge join would SORT it — the x100
    // probe measured the sort dominating; hashing the edge side
    // streams the probe side unsorted.
    val triCount = hits.toDF("b", "c")
      .join(dir.select(col("u").as("b"), col("v").as("c"))
        .hint("shuffle_hash"), Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val census = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum((deg * (deg - 1)) div 2)").as("n_wedges"))
    census.crossJoin(triCount)
      .select(col("n_nodes"), lit(art.nEdges).as("n_edges"), col("n_wedges"),
        col("n_triangles"),
        graft.functions.Fns.roundFp(
          lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("gcc"))
  }

  /** gr3's wedge budget: the witness degree cap is the LARGEST `cap`
    * such that Σ_{deg(w) ≤ cap} deg(w)·(deg(w)−1) ≤ B·|edges| — i.e.
    * the enumerated-wedge volume is bounded to a fixed multiple of
    * the edge count BY CONSTRUCTION, for every degree distribution
    * (VERDICT r12 #3: the previous fixed 0.25-quantile cap let wedge
    * volume grow with graph DENSITY — the quantile degree itself
    * rises as the graph densifies, so a ×10 edge replication cost
    * ×10.8 in wedges and 9.52× in time). A common neighbor only
    * counts as link evidence if its degree is ≤ cap (hub filtering —
    * the standard link-prediction discipline: a node adjacent to
    * everything carries no signal, and Adamic-Adar weights it ~0
    * anyway; here it is dropped outright). The cap is still DERIVED
    * from the observed degree distribution (the r3 autotune
    * principle: an absolute degree constant is wrong for every graph
    * but the one it was tuned on), but through a budget that is
    * linear in m, so wedge work is Θ(B·m) — never Θ(quantile²·n).
    * The minimum-degree bucket is ALWAYS admitted (floor guarantee:
    * this graph's minimum degree is ~40, so a strict budget on a
    * dense graph could otherwise silently empty the operator). */
  private[graft] val GR3_WEDGE_BUDGET = 8L
  private val GR3_TOP = 20

  /** gr3 — common-neighbor link prediction on gr2's part co-purchase
    * graph: the top-K NON-adjacent part pairs by number of shared
    * low-degree neighbors — "frequently co-purchased with the same
    * things, never yet together", the classic structural
    * recommendation candidate list.
    *
    * Scale design: (1) wedge volume is bounded by the witness cap —
    * only nodes with deg ≤ cap generate neighbor pairs, and the cap
    * is budget-derived ([[GR3_WEDGE_BUDGET]]) so the enumerated
    * stream is ≤ B·m rows no matter the raw degree distribution (a
    * hub never multiplies; gr2's orientation trick doesn't apply
    * here because common-NEIGHBOR counts need every wedge at its
    * center, not one per triangle). The cap itself rides the DEGREE
    * HISTOGRAM — one partial+final agg of the nodes-sized degree
    * table down to (deg, n) rows, then a running Σ n·deg·(deg−1) in
    * ascending-degree order. That window is unpartitioned but
    * provably bounded: distinct degree values k satisfy
    * k(k+1)/2 ≤ Σ_w deg(w) = 2m, so k ≤ 2√m (~2·10⁶ rows of two
    * longs at 10¹² edges — kilobyte-scale per row count, never the
    * corpus). The 1-row cap broadcasts back — never a driver
    * round-trip. (2) The "not already an edge" filter is
    * gr2's bloom used in ANTI form, split exactly: a bloom MISS
    * proves non-membership (bloom has no false negatives), so those
    * pairs skip the join entirely; only the ~|edges|-proportional
    * bloom HITS shuffle into the exact left-anti join that settles
    * false positives. (3) The final top-K is (cnt desc, a, c) via
    * TakeOrderedAndProject — never a global sort. */
  private def gr3(s: SparkSession, d: String): DataFrame = {
    val art = artifacts(s, d) // memoized: edges + count + degrees + bloom
    // r18 (§2.4/§3.1, measured — see OPTIMIZATION_r18.md): when the
    // edge list fits the session broadcast threshold, ONE map-side
    // broadcast anti join replaces the r17 persist + bloom split +
    // union tail (a full cn materialization pass plus three extra
    // stages). definite ∪ settled ≡ anti-join-all by the bloom's
    // no-false-negative law, so the split only earns its stages when
    // edges CANNOT broadcast — at 10¹² edges the gate is false and
    // the split path below stays the shape. Catalyst additionally
    // pushes the LeftAnti below the count aggregate (join condition
    // references only grouping keys), so known-edge wedges are
    // dropped map-side BEFORE the pair exchange — the exchange
    // carries only non-edge candidate pairs.
    // Same-window A/B at sf0.1: 6.46 -> 5.45 s full-query (and the
    // stepwise probe put the r17 tail at ~2 s of persist+branches).
    // NO-GO (r18, measured): packing the (a,c) pair into one long
    // through the exchange (31-bit id gate) was plan-identical in
    // shape but flat in three same-window pairs at sf0.1/x10 — and
    // the gate is false at true 10¹²-edge ids anyway; reverted.
    gr3TopK(s, d, bcastAnti = art.nEdges * GR3_BCAST_BYTES_PER_EDGE <=
      s.sessionState.conf.autoBroadcastJoinThreshold)
  }

  /** gr3's broadcast-gate size per edge: a broadcast hash relation of
    * 2-long UnsafeRows costs 3-5× the 16 raw bytes (row header + hash
    * map), so 48 B keeps the forced broadcast within the threshold. */
  private[graft] val GR3_BCAST_BYTES_PER_EDGE = 48L

  /** [[gr3]] with the anti-join gate explicit, so the law spec can
    * force both shapes and pin them row-identical (r18). */
  private[graft] def gr3TopK(s: SparkSession, d: String,
      bcastAnti: Boolean): DataFrame = {
    val art = artifacts(s, d)
    val sym = art.symEdges
      .select(col("u").as("w"), col("v").as("n"))
    val deg = art.degrees.select(col("p").as("w"), col("deg"))
    val nEdges = art.nEdges
    // largest cap whose admitted wedge mass fits the budget; the
    // PER-TERM product already rides decimal(38,0) (cast BEFORE the
    // multiply — a hub of degree ≥ ~3·10⁹, realizable at 10¹² edges,
    // would wrap the long product n·deg·(deg−1) negative and admit
    // itself through the budget test), and the running sum inherits
    // the decimal, mirroring DuckDB's HUGEINT
    val byDeg = org.apache.spark.sql.expressions.Window.orderBy(col("deg").asc)
    val cap = deg.groupBy(col("deg")).agg(count(lit(1)).as("n"))
      .withColumn("wcum",
        sum(col("n").cast("decimal(38,0)") * col("deg") *
          (col("deg") - lit(1L))).over(byDeg.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .agg(greatest(
        coalesce(
          max(when(col("wcum") <= lit(GR3_WEDGE_BUDGET * nEdges), col("deg"))),
          lit(0L)),
        min(col("deg"))).as("cap"))
    val wit = sym.join(
        deg.crossJoin(broadcast(cap)).filter(col("deg") <= col("cap"))
          .select(col("w")), Seq("w"))
    // wedge enumeration IN a typed kernel (r16 — gr2's r14 pattern
    // applied to the center-anchored stream): one exchange of the
    // admitted (w, n) rows on w, per-witness neighbor arrays built
    // from the in-partition sort, i<j pairs emitted through a LAZY
    // iterator (a witness's pair fan-out is capped by the budget but
    // never buffered). The r15 SMJ self-join paid the same exchange
    // plus two sorted probe sides and interpreted join rows — the
    // d2/mmr1 kernel boundary again. Rows arrive (w, n) ascending, so
    // pairs are born a < c and each (a, c) counts once per witness —
    // exactly the join form's x.n < y.n semantics. wit itself is
    // consumed ONCE (both pair sides come from the same neighbor
    // array), so its r15 persist is gone with the second consumer.
    import s.implicits._
    val wedges = wit
      .repartition(col("w"))
      .sortWithinPartitions(col("w"), col("n"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Iterator[(Long, Long)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[(Long, Long)] = {
            var n = 0
            var vs = new Array[Long](8)
            val w = rows.head._1
            while (rows.hasNext && rows.head._1 == w) {
              if (n == vs.length) vs = java.util.Arrays.copyOf(vs, n * 2)
              vs(n) = rows.next()._2; n += 1
            }
            if (n < 2) Iterator.empty
            else new Iterator[(Long, Long)] {
              private var i = 0
              private var j = 1
              private val m = n
              private val a = vs
              def hasNext: Boolean = i < m - 1
              def next(): (Long, Long) = {
                val p = (a(i), a(j))
                j += 1
                if (j == m) { i += 1; j = i + 1 }
                p
              }
            }
          }
        }.flatten
      }
      .toDF("a", "c")
    val cn = wedges
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("cn"))
    val edgesAC = art.edges.select(col("pa").as("a"), col("pb").as("c"))
    val nonEdges =
      if (bcastAnti) cn.join(broadcast(edgesAC), Seq("a", "c"), "left_anti")
      else {
        // persist the counted candidates BEFORE the bloom split: both
        // branches read this aggregate, nothing makes them share its
        // exchange, and a regression bisect found the formatted plan
        // enumerating the whole wedge stream once per branch. One
        // materialization, both filters read it memory-locally, and
        // the caller's clearCache releases it.
        val cnP = cn.persist(StorageLevel.MEMORY_AND_DISK)
        val isMaybeEdge = call_function("might_contain", lit(art.bloom),
          xxhash64(col("a"), col("c")))
        cnP.filter(!isMaybeEdge)
          .union(cnP.filter(isMaybeEdge)
            .join(edgesAC, Seq("a", "c"), "left_anti"))
      }
    nonEdges
      .orderBy(col("cn").desc, col("a").asc, col("c").asc)
      .limit(GR3_TOP)
  }

  /** gr4 — degree assortativity of the part co-purchase graph: the
    * Pearson correlation between the degrees at the two endpoints of
    * every edge (Newman's r, the standard one-number summary of
    * whether hubs attach to hubs or to leaves — disassortative
    * item graphs need different partitioning/caching strategies than
    * assortative social ones, so a curation pipeline computes this
    * before picking a neighborhood-join plan).
    *
    * Determinism: all four moments (edge count, Σdeg, Σdeg²,
    * Σdeg·deg) are EXACT integer sums; the single float division at
    * the end is one fixed expression over those longs, identical in
    * any IEEE-754 engine, then 6-dp rounded — the gr2 gcc
    * convention. Both edge orientations enter symmetrically, so the
    * x- and y-moments coincide and only one set is aggregated.
    *
    * Plan at 100 TB: the degree table is one partial+final agg on
    * the node key; attaching degrees to edges is two equi-joins of
    * narrow (id, id) rows against the (id, long) degree table —
    * shuffles carry ids and longs only, never payloads — and the
    * moments ride a constant-size final aggregate. No window, no
    * wedge stream: unlike gr2/gr3 this is strictly edge-linear. */
  private def gr4(s: SparkSession, d: String): DataFrame = {
    val art = artifacts(s, d) // memoized: edges + degrees
    val e = art.edges
    val deg = art.degrees
    val m = e
      .join(deg.select(col("p").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("p").as("pb"), col("deg").as("db")), Seq("pb"))
      .agg(
        count(lit(1)).as("m"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
        sum(col("da") * col("db")).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    // r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) over the 2m endpoint
    // pairs; the denominator is 0 only for a degree-regular graph —
    // NULL then, identically on both engines
    nodes.crossJoin(m).select(
      col("n_nodes"), col("m").as("n_edges"),
      graft.functions.Fns.roundFp(
        expr("""CASE WHEN CAST(2 * m AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx = 0 THEN NULL
                ELSE (CAST(2 * m AS DOUBLE) * (2 * sxy)
                       - CAST(sx AS DOUBLE) * sx)
                     / (CAST(2 * m AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx) END"""), 6)
        .as("assortativity"))
  }

  /** gr5's synchronous label-propagation depth. Two rounds is one
    * full adopt-then-consolidate cycle on the co-purchase graph
    * (round 1 collapses every node onto its minimum neighbor id,
    * round 2 votes over those seeds); production iterates the SAME
    * plan to convergence — nothing about the shape changes with
    * depth, exactly the gr1 argument. */
  private[graft] val GR5_ROUNDS = 2

  /** gr5 — community sizes by synchronous label propagation
    * (Raghavan et al. '07) over the part co-purchase graph: labels
    * init to node ids; each round every node adopts the most
    * frequent label among its NEIGHBORS, ties to the smallest label
    * — the deterministic variant of LPA (classic async LPA breaks
    * ties randomly; the (count desc, label asc) argmax is what makes
    * the whole trajectory replayable in any engine). Complements d7:
    * connected components answer "what is transitively linked",
    * communities answer "what is DENSELY linked" — the clustering a
    * catalog/curation pass actually wants.
    *
    * Plan at 100 TB: each round is one equi-join of the symmetric
    * edge list with the (node, label) table, a (node, label) count
    * agg, and a per-node argmax — the gr1 sparse-mat-vec shape with
    * an argmax instead of a sum. The argmax is `max(struct(c, −l))`
    * over two colocated aggregations, NOT a row_number window (r16:
    * the window form paid an exchange on (v,l) for the count agg
    * plus an exchange AND a full sort on v for the window; one
    * explicit repartition on v feeds both aggs shuffle-free and
    * nothing ever sorts). The persisted symmetric list is
    * pre-partitioned and pre-sorted on the join key, so every round
    * reuses its layout from cache and only the (node, label) side
    * moves. Output is the community-size histogram — |labels|-sized,
    * not corpus-sized. */
  /** One synchronous-LPA round over `sym` (directed (v, n) rows, both
    * orientations): every node adopts the (count desc, label asc)
    * argmax of its neighbors' labels. Factored out so the law specs
    * can pin it directly: `GraphLawSpec` asserts the round-1
    * algebraic collapse in [[gr5]] equals this generic round on
    * identity labels, and that the whole trajectory is invariant
    * under forced join strategies (VERDICT r16 #2 — an r16 scratch
    * harness REIMPLEMENTING gr5 saw a 558-vs-556 community divergence
    * under a join hint; the shipped form is a pure function of the
    * (v, l, c) multiset, so no join strategy can move it, and the law
    * now pins that).
    *
    * Shape (r17): count and argmax run as TWO hash aggregations with
    * map-side partial aggregation — the (v, l) partial agg compresses
    * the joined edge stream INSIDE the join tasks before anything
    * exchanges (after round 1 labels have collapsed onto attractor
    * ids, so neighbors repeat labels heavily and the partial agg
    * removes that duplication), then the counted (v, l) rows — at
    * most one per node per DISTINCT neighbor label, ≪ 2·|E| —
    * exchange once more for the per-node argmax. The r16 form
    * exchanged the RAW 2·|E| joined rows via an explicit
    * repartition(v) so both aggs could run shuffle-free on top; at
    * ×100 that raw exchange is the spill-prone line, and the partial
    * aggs cut exchanged volume by the label-duplication factor
    * exactly where it matters. Measured same-window A/B at ×100
    * (240M-row rounds, min-of-2): two-phase 54.6 s vs raw-repartition
    * 116.9 s vs the r16 shipped form 69.2 s; at sf0.1/×10 the
    * two-phase form pays a small constant premium (~+0.6 s sf0.1,
    * ~+1.3 s ×10 same-window) because the doubled agg boundary costs
    * more than the (tiny) raw exchange it replaces — the ×100 spill
    * physics, not the small-scale overhead, is what the shape is
    * chosen for, and dec2 falls ~6.5 → ~4.6 in the same window. */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym
      .join(labels.select(col("v").as("n"), col("l")), Seq("n"))
      .groupBy(col("v"), col("l")).agg(count(lit(1)).as("c"))
      .groupBy(col("v"))
      // lexicographic struct max = (count desc, label asc) argmax:
      // ids are positive longs, so −l orders ties to the SMALLEST
      // label — the deterministic-LPA tiebreak the oracle replays
      .agg(max(struct(col("c"), (lit(0L) - col("l")).as("nl"))).as("m"))
      .select(col("v"), (lit(0L) - col("m.nl")).as("l"))

  /** The final (node, label) table after [[GR5_ROUNDS]] synchronous
    * rounds — the lazy plan [[gr5]] aggregates and the law specs
    * materialize directly.
    *
    * Round 1 is the IDENTITY-LABEL collapse: with labels initialized
    * to node ids, every neighbor label is distinct (ids are unique),
    * so every (v, l) count is exactly 1 and the (count desc, label
    * asc) argmax degenerates to min neighbor id — one partial-agged
    * `groupBy(v).min(n)` over the edge view, no join, no count agg,
    * no exchange of raw joined rows (the generic round spent a full
    * 2·|E| join + count cycle mapping n→n through the identity
    * table). `GraphLawSpec` pins the collapse ≡ the generic round on
    * identity labels. Rounds 2+ run [[lpaRound]] unchanged.
    *
    * The symmetric view is consumed ONCE per round as a plain scan
    * (round 1's agg; round 2's join — the node-sized label table is
    * the build/broadcast side), so it re-derives from the
    * memory-resident edge checkpoint at scan speed and a persist
    * would be a net loss — the measured gr7/gr8 adjudication
    * (commit `9fc21f9`), which the r16 form predated: its persist +
    * repartition + sort layout existed to feed per-round SMJs that
    * the collapsed round count no longer issues. At production round
    * counts (R ≫ 2) with label tables past the broadcast threshold,
    * re-materializing the hash(n) layout pays for itself again —
    * that trade is round-count arithmetic, not a shape change. */
  private[graft] def gr5Labels(s: SparkSession, d: String): DataFrame = {
    val art = artifacts(s, d)
    val sym = art.symEdges
      .select(col("u").as("v"), col("v").as("n"))
    // round 1: identity-label collapse (see scaladoc)
    var labels = sym.groupBy(col("v")).agg(min(col("n")).as("l"))
    for (_ <- 2 to GR5_ROUNDS) labels = lpaRound(sym, labels)
    labels
  }

  // NO-GO (r18, proved — VERDICT r16 #3 / r17 #4, frontier-only LPA):
  // "only nodes whose label changed last round emit" is a NO-OP at
  // GR5_ROUNDS = 2. The round-0→1 frontier is provably the FULL node
  // set: labels initialize to node ids, the edge list has no
  // self-loops (pa < pb strict), and ids are unique, so round 1's
  // min-neighbor label satisfies label₁(v) = min{id(n) : n ∈ N(v)} ≠
  // id(v) for EVERY node with a neighbor — every node changes, round
  // 2 must re-emit every edge, and there is no round 3. GraphLawSpec
  // pins the frontier's fullness on the gate corpus so a future
  // GR5_ROUNDS change re-opens the question visibly. At production
  // depth (R ≫ 2) the win is real but needs DELTA maintenance of the
  // per-(v,l) count table (subtract the old label's contribution, add
  // the new — plain frontier-only emission is WRONG for LPA because a
  // node's argmax needs all neighbor votes, not just changed ones);
  // that is round-count-dependent machinery the 2-round bench shape
  // cannot measure, recorded here instead of shipped speculatively.

  private def gr5(s: SparkSession, d: String): DataFrame = {
    // materialize the rounds HERE (the gr7/gr8 posture): the output
    // is the community histogram — |labels|-sized, bounded by nodes.
    // persist + count, NOT localCheckpoint (ADVICE r16): checkpoint
    // blocks are invisible to spark.catalog.clearCache() and leaked
    // one histogram per bench pass; persisted blocks release under
    // the caller's clearCache (Bench/Verify) and on LRU pressure,
    // and a lost block recomputes via lineage from the checkpointed
    // memo artifacts.
    val out = gr5Labels(s, d)
      .groupBy(col("l")).agg(count(lit(1)).as("n_members"))
      .select(col("l").as("community"), col("n_members"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** gr6 — log2-bucketed degree distribution of the co-purchase
    * graph: per bucket b = ⌊log2 deg⌋ (the cls2/x15 `length(bin())−1`
    * integer-log trick — no libm), node count, total degree mass and
    * node-share ppm. The power-law diagnostic every skew decision
    * reads BEFORE running: j8's salting factor, gr3's witness
    * quantile, AQE's skew-join threshold are all tuned off exactly
    * this histogram — publishing it makes the skew policy data-driven
    * instead of folklore.
    *
    * Plan at 100 TB: degrees are one partial+final agg over the
    * memoized edge list (narrow id/long rows); the bucket agg
    * collapses to ≤64 rows and the share's total is a window over
    * them (the w12/w17 idiom) — nothing downstream of the degree agg
    * depends on graph size, and nothing persists. */
  private def gr6(s: SparkSession, d: String): DataFrame =
    artifacts(s, d).degrees // memoized degrees
      .select(expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("bucket"),
        col("deg"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_mass"))
      .withColumn("tot", sum(col("n_nodes"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("bucket"), col("n_nodes"), col("deg_mass"),
        expr("(1000000 * n_nodes) div tot").as("share_ppm"))

  /** gr7's peel threshold quantile and round budget. */
  private val GR7_Q = 0.25
  private[graft] val GR7_ROUNDS = 6

  /** gr7 — bounded-round k-core peeling profile: iteratively remove
    * nodes whose degree INSIDE the surviving subgraph falls below k,
    * and report the survivor census after each of [[GR7_ROUNDS]]
    * rounds (Seidman's k-core; the batch "peel" formulation
    * Montresor et al. distribute). k is data-derived — the p25 of the
    * degree distribution (gr3's percentile mechanism) — because the
    * co-purchase graph is near-regular: any fixed k is either
    * no-op (k ≤ min degree) or total. The TRAJECTORY is the result:
    * this graph's cascade collapses to an EMPTY core (removing the
    * low-degree quartile undermines everyone else — measured
    * 200→152→46→0 at gate sf), which is the finding: cohesion is
    * uniform, there is no elite subgraph, and neighborhood-join
    * plans can't count on a dense nucleus. A fixpoint reached before
    * round R carries forward without re-running rounds (peel of a
    * fixpoint is itself — counts are equal iff sets are equal
    * because peeling is monotone ⊆-decreasing).
    *
    * Scale shape: per round, two node-set semi-joins against the
    * memoized symmetric edge list + one partial-aggregated degree
    * count — the gr5 per-round shape; node sets are catalog-sized
    * and eagerly checkpointed (never the corpus), and the round
    * census rows return as a literal relation (w13's bounded-state
    * discipline). */
  private def gr7(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val art = artifacts(s, d)
    // the shared symmetric view, UNPERSISTED (r16, measured): gr7's
    // rounds only SCAN it — the per-round semi-joins probe with
    // broadcast node sets — so re-deriving the union from the
    // memory-resident edge checkpoint per round is scan-speed, and
    // the r15 persist's materialization pass was a net loss
    // (3.62 → 2.70 s honest-cold at sf0.1). Contrast gr5, whose
    // rounds JOIN on the view's key and keep their persist.
    val ed = art.symEdges
      .select(col("u").as("n"), col("v").as("m"))
    val deg = art.degrees.select(col("p").as("n"), col("deg"))
    val k = deg
      .agg(expr(s"CAST(floor(percentile(deg, $GR7_Q)) AS BIGINT)"))
      .head().getLong(0) // 1-row scalar fetch: loop control is driver-side
    // per-round sets ride persist + count, not an eager checkpoint +
    // count (r15): the count MATERIALIZES the persisted set, so every
    // round costs one job instead of two, and the loop's fixpoint
    // count comes free with the materialization. Lineage depth is
    // bounded by GR7_ROUNDS over checkpointed inputs — cluster-safe
    // (a lost partition recomputes from the edge checkpoint), unlike
    // executor-pinned checkpoint blocks. The superseded round's set
    // unpersists once its successor is materialized.
    // round 0's census is one agg over the memoized degree table; the
    // set itself is never joined anymore (round 1 collapses onto the
    // degree filter below), so it no longer persists — unpersist on
    // the unpersisted frame is a no-op when round 1 replaces it
    var cur = deg.select(col("n"))
    var prev = cur.count()
    val census = Seq.newBuilder[(Long, Long, Long)]
    census += ((0L, k, prev))
    var r = 1
    var fixed = false
    while (r <= GR7_ROUNDS) {
      if (!fixed) {
        // round 1 collapses algebraically (r17 — the gr5 round-1
        // discipline): cur is the FULL node set, so both membership
        // joins are identities and the in-subgraph degree IS the
        // memoized degree table — survivors read straight off
        // art.degrees and the 2·|E| join+agg pass the generic round
        // spends re-deriving deg never runs. GraphLawSpec pins the
        // collapse row-identical to the generic round on all nodes.
        val nxt = (if (r == 1)
            deg.filter(col("deg") >= k).select(col("n"))
          else ed
            .join(cur.select(col("n")), Seq("n"))
            .join(cur.select(col("n").as("m")), Seq("m"))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
            .filter(col("d") >= k)
            .select(col("n")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cnt = nxt.count()
        fixed = cnt == prev // monotone ⊆: equal counts ⟺ equal sets
        cur.unpersist(false)
        cur = nxt
        prev = cnt
      }
      census += ((r.toLong, k, prev))
      r += 1
    }
    cur.unpersist(false)
    census.result().toDF("peel_round", "k", "n_nodes")
  }

  /** gr8's round budget: hop distances beyond [[GR8_HOPS]] collapse
    * into the unreached row (hop = −1) together with genuinely
    * disconnected nodes — a diameter probe, not a full APSP. */
  private[graft] val GR8_HOPS = 3

  /** gr8 — landmark BFS hop histogram: breadth-first distances from
    * one data-derived landmark (the minimum part id in the graph)
    * over the memoized co-purchase graph, reported as nodes-per-hop
    * with population shares; everything not reached within
    * [[GR8_HOPS]] rounds lands in the hop −1 row. This is the
    * small-world/diameter diagnostic beside gr6's degree view: it
    * measures how fast neighborhoods saturate — the number that
    * decides whether multi-hop expansions (gr3's wedges, graph
    * feature joins) are tractable or explosive on this graph.
    *
    * Scale shape: textbook distributed frontier BFS (the Pregel
    * iteration as per-round joins): each round equi-joins the
    * frontier against the symmetric edge list, dedups, and
    * anti-joins the visited set — frontier/visited are node-sized
    * and eagerly checkpointed per round (gr7's discipline: checkpoint
    * node sets, never the corpus); the census is driver-side bounded
    * state (one long per round — w13's rule) returned as a literal
    * relation, so every hop row exists even when a frontier dies
    * early. Rounds are a compile-time constant, so the whole query
    * is [[GR8_HOPS]] shuffles regardless of data volume. */
  private def gr8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val art = artifacts(s, d)
    // the shared symmetric view, UNPERSISTED (r16, measured — the
    // gr7 adjudication): each hop SCANS it once against a broadcast
    // frontier, so the checkpoint re-derivation is scan-speed and
    // the persist's materialization pass cost more than it saved
    // (2.40 → 2.05 s honest-cold at sf0.1)
    val sym = art.symEdges
      .select(col("u").as("w"), col("v").as("n"))
    // node ids come from the memoized (already distinct, checkpointed)
    // degree table — the census + landmark are one 2-agg pass over it
    val nodes = art.degrees.select(col("p"))
    val r0 = nodes.agg(count(lit(1)), min(col("p"))).head()
    val tot = r0.getLong(0)
    val lm = r0.getLong(1)
    // frontier/visited ride persist, not eager checkpoints (r15, the
    // gr7 discipline): the frontier's count materializes it in the
    // same job, and the UNIONED visited set stays lazy — the next
    // hop's anti-join materializes it as a side effect — so a hop
    // costs one job instead of three. Sets are node-sized; lineage
    // is bounded by GR8_HOPS over the edge checkpoint. Every per-hop
    // persist is collected and released once the census is complete
    // (ADVICE r15: the loop used to leak ~2·GR8_HOPS+1 node-sized
    // blocks to the caller's clearCache while only sym released) —
    // the census is driver-side state, so nothing downstream of the
    // return reads these blocks.
    val hopScratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var visited = s.createDataset(Seq(lm)).toDF("p")
      .persist(StorageLevel.MEMORY_AND_DISK)
    hopScratch += visited
    var frontier = visited
    var reached = 1L
    val census = Seq.newBuilder[(Long, Long)]
    census += ((0L, 1L))
    for (h <- 1 to GR8_HOPS) {
      val nxt = sym.join(frontier.select(col("p").as("w")), Seq("w"))
        .select(col("n").as("p")).distinct()
        .join(visited, Seq("p"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      hopScratch += nxt
      val cnt = nxt.count()
      census += ((h.toLong, cnt))
      visited = visited.union(nxt)
        .persist(StorageLevel.MEMORY_AND_DISK)
      hopScratch += visited
      frontier = nxt
      reached += cnt
    }
    hopScratch.foreach(_.unpersist(false))
    (census.result() :+ ((-1L, tot - reached)))
      .toDF("hop", "n_nodes")
      .select(col("hop"), col("n_nodes"),
        expr(s"(1000000 * n_nodes) div $tot").as("share_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gr8_hop_histogram" -> gr8 _,
    "gr7_kcore" -> gr7 _,
    "gr6_degree_hist" -> gr6 _,
    "gr3_link_predict" -> gr3 _,
    "gr1_pagerank" -> gr1 _,
    "gr2_triangles" -> gr2 _,
    "gr4_assortativity" -> gr4 _,
    "gr5_communities" -> gr5 _
  )

  /** gr7's oracle: the same peel unrolled as [[GR7_ROUNDS]] generated
    * CTEs (each round filters the previous survivor set by in-subgraph
    * degree ≥ k) — the SQL is built from the ONE round template so
    * engine and oracle can never disagree on the recurrence; the
    * percentile threshold uses the proven percentile ≡ quantile_cont
    * pairing (w8/ppl1/g4). */
  private val GR7_SQL: String = {
    // every s_r is referenced three times (both sides of round r+1's
    // subgraph-degree join + its census row) — MATERIALIZED, or
    // DuckDB's CTE inlining expands the edge-build subtree ~2^R-fold
    // (the d7 min-label lesson; surfaced at sf0.1 as a temp-spill
    // blow-up in the r10 cross-sf verify)
    val rounds = (1 to GR7_ROUNDS).map { r =>
      s"""s$r AS MATERIALIZED (SELECT ed.n FROM ed
           JOIN s${r - 1} x ON ed.n = x.n
           JOIN s${r - 1} y ON ed.m = y.n, kk
           GROUP BY ed.n, kk.k HAVING count(*) >= kk.k)"""
    }.mkString(",\n      ")
    val sel = (0 to GR7_ROUNDS).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS peel_round, k,
            (SELECT count(*) FROM s$r) AS n_nodes FROM kk"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      ed AS MATERIALIZED (SELECT pa AS n, pb AS m FROM e
             UNION ALL SELECT pb AS n, pa AS m FROM e),
      dg AS (SELECT n, count(*) AS deg FROM ed GROUP BY 1),
      kk AS MATERIALIZED (SELECT CAST(floor(quantile_cont(deg, $GR7_Q))
               AS BIGINT) AS k FROM dg),
      s0 AS MATERIALIZED (SELECT n FROM dg),
      $rounds
      $sel"""
  }

  /** gr8's oracle: the BFS unrolled as [[GR8_HOPS]] generated
    * frontier CTEs (d_h = neighbors of d_{h−1} minus the visited
    * union v_{h−1}) — built from the ONE round template, gr7's
    * anti-drift discipline; the unreached row is total minus the
    * frontier sum. */
  private val GR8_SQL: String = {
    // d_h / v_h are each referenced by round h+1 AND the census —
    // MATERIALIZED for the same inlining-blow-up reason as GR7_SQL
    val rounds = (1 to GR8_HOPS).map { h =>
      s"""d$h AS MATERIALIZED (SELECT DISTINCT s.n AS p FROM sym s
           JOIN d${h - 1} f ON s.w = f.p
           WHERE s.n NOT IN (SELECT p FROM v${h - 1})),
      v$h AS MATERIALIZED (SELECT p FROM v${h - 1}
           UNION SELECT p FROM d$h)"""
    }.mkString(",\n      ")
    val reachSel = (0 to GR8_HOPS).map { h =>
      s"""SELECT CAST($h AS BIGINT) AS hop,
            (SELECT count(*) FROM d$h) AS n_nodes"""
    }.mkString("\n      UNION ALL ")
    val reachedSum = (0 to GR8_HOPS)
      .map(h => s"(SELECT count(*) FROM d$h)").mkString(" - ")
    s"""
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      sym AS MATERIALIZED (SELECT pa AS w, pb AS n FROM e
              UNION ALL SELECT pb, pa FROM e),
      nodes AS MATERIALIZED (SELECT DISTINCT w AS p FROM sym),
      d0 AS MATERIALIZED (SELECT min(p) AS p FROM nodes),
      v0 AS MATERIALIZED (SELECT p FROM d0),
      $rounds,
      hist AS (
      $reachSel
      UNION ALL SELECT CAST(-1 AS BIGINT),
        (SELECT count(*) FROM nodes) - $reachedSum)
      SELECT hop, n_nodes,
        (1000000 * n_nodes) // (SELECT count(*) FROM nodes)
          AS share_ppm
      FROM hist"""
  }

  val oracles: Map[String, String] = Map(
    "gr8_hop_histogram" -> GR8_SQL,
    "gr7_kcore" -> GR7_SQL,
    // same edge derivation as gr4's oracle, same integer-log2 buckets
    "gr6_degree_hist" -> """
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      d AS (SELECT p, count(*) AS deg FROM
              (SELECT pa AS p FROM e UNION ALL SELECT pb FROM e) u
            GROUP BY p),
      b AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
              count(*) AS n_nodes, CAST(sum(deg) AS BIGINT) AS deg_mass
            FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS tot FROM b)
      SELECT bucket, n_nodes, deg_mass,
        (1000000 * n_nodes) // tot AS share_ppm
      FROM b, t""",
    // exact replay of both integer push rounds; sums over BIGINT ride
    // DuckDB's HUGEINT and are pinned back to BIGINT before the
    // damping arithmetic
    "gr1_pagerank" -> s"""
      WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      dc AS (SELECT c, count(*) AS dc FROM e GROUP BY c),
      ds AS (SELECT sup, count(*) AS ds FROM e GROUP BY sup),
      r1 AS (SELECT e.sup,
               150000 + (85 * CAST(sum($GR_UNIT // dc.dc) AS BIGINT)) // 100
                 AS r_s
             FROM e JOIN dc ON e.c = dc.c GROUP BY e.sup),
      r2 AS (SELECT e.c,
               150000 + (85 * CAST(sum(r1.r_s // ds.ds) AS BIGINT)) // 100
                 AS r_c
             FROM e JOIN r1 ON e.sup = r1.sup JOIN ds ON e.sup = ds.sup
             GROUP BY e.c)
      SELECT c AS custkey, CAST(r_c AS BIGINT) AS rank_u FROM r2""",
    // same wedge-budget witness cap and anti-join; the bloom split
    // is invisible to semantics (the exact join settles every hit).
    // The per-term product n·deg·(deg−1) is cast to HUGEINT BEFORE
    // multiplying (ADVICE r13: DuckDB's window SUM widens to HUGEINT,
    // but the TERM itself evaluated in BIGINT and would error on a
    // ≥3·10⁹-degree hub before the sum ever saw it) — now genuinely
    // symmetric with the engine's cast-before-multiply decimal(38,0)
    "gr3_link_predict" -> s"""
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS w, pb AS n FROM e
              UNION ALL SELECT pb, pa FROM e),
      dg AS (SELECT w, count(*) AS deg FROM sym GROUP BY 1),
      ecnt AS (SELECT count(*) AS m FROM e),
      hc AS (SELECT deg, sum(n::HUGEINT * deg * (deg - 1)) OVER
               (ORDER BY deg ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS wcum
             FROM (SELECT deg, count(*) AS n FROM dg GROUP BY 1)),
      cap AS (SELECT CAST(greatest(
                coalesce(max(CASE WHEN wcum <= $GR3_WEDGE_BUDGET * m
                  THEN deg END), 0),
                (SELECT min(deg) FROM dg)) AS BIGINT) AS cap
              FROM hc, ecnt),
      wit AS (SELECT s.w, s.n FROM sym s JOIN dg ON s.w = dg.w, cap
              WHERE dg.deg <= cap.cap),
      pr AS (SELECT x.n AS a, y.n AS c FROM wit x JOIN wit y
             ON x.w = y.w AND x.n < y.n),
      cn AS (SELECT a, c, count(*) AS cn FROM pr GROUP BY 1, 2),
      ne AS (SELECT cn.* FROM cn LEFT JOIN e
             ON cn.a = e.pa AND cn.c = e.pb
             WHERE e.pa IS NULL)
      SELECT a, c, cn FROM ne ORDER BY cn DESC, a, c LIMIT $GR3_TOP""",
    // naive a<b<c triple-join statement of the triangle census; the
    // engine's degree-orientation is a bijection on triangles, so the
    // counts agree exactly. 3.0 enters as CAST(3 AS DOUBLE): DuckDB
    // parses the literal 3.0 as DECIMAL, which would change the
    // division type
    "gr2_triangles" -> """
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      d AS (SELECT p, count(*) AS deg FROM
              (SELECT pa AS p FROM e UNION ALL SELECT pb FROM e) u
            GROUP BY p),
      tri AS (SELECT count(*) AS t FROM e e1
              JOIN e e2 ON e1.pb = e2.pa
              JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
      census AS (SELECT count(*) AS n_nodes,
                   CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
                 FROM d),
      ne AS (SELECT count(*) AS n_edges FROM e)
      SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
        floor(CAST(3 AS DOUBLE) * t / n_wedges * 1000000 + 0.5)/1000000
          AS gcc
      FROM census, ne, tri""",
    // the same exact-integer endpoint-degree moments; the one float
    // expression is stated identically (cast order pinned) so both
    // engines run the same IEEE-754 ops before the 6-dp round
    "gr4_assortativity" -> """
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      d AS (SELECT p, count(*) AS deg FROM
              (SELECT pa AS p FROM e UNION ALL SELECT pb FROM e) u
            GROUP BY p),
      mo AS (SELECT count(*) AS m,
               CAST(sum(da.deg + db.deg) AS BIGINT) AS sx,
               CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT)
                 AS sxx,
               CAST(sum(da.deg * db.deg) AS BIGINT) AS sxy
             FROM e JOIN d da ON e.pa = da.p JOIN d db ON e.pb = db.p),
      nn AS (SELECT count(*) AS n_nodes FROM d)
      SELECT n_nodes, m AS n_edges,
        floor(CASE WHEN CAST(2 * m AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx = 0 THEN NULL
              ELSE (CAST(2 * m AS DOUBLE) * (2 * sxy)
                          - CAST(sx AS DOUBLE) * sx)
                   / (CAST(2 * m AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx) END
              * 1000000 + 0.5) / 1000000 AS assortativity
      FROM nn, mo""",
    // both synchronous LPA rounds unrolled (the gr1/km1 replay
    // technique); the (count desc, label asc) argmax is stated as
    // the same row_number on both sides
    "gr5_communities" -> s"""
      WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM ip a JOIN ip b
            ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS v, pb AS n FROM e
              UNION ALL SELECT pb, pa FROM e),
      l0 AS (SELECT DISTINCT v, v AS l FROM sym),
      ${(1 to GR5_ROUNDS).map { r =>
        s"""c$r AS (SELECT s.v, p.l, count(*) AS c
             FROM sym s JOIN l${r - 1} p ON s.n = p.v GROUP BY 1, 2),
      r$r AS (SELECT v, l, row_number() OVER (
               PARTITION BY v ORDER BY c DESC, l) AS rk FROM c$r),
      l$r AS (SELECT v, l FROM r$r WHERE rk = 1)"""
      }.mkString(",\n      ")}
      SELECT l AS community, count(*)::BIGINT AS n_members
      FROM l$GR5_ROUNDS GROUP BY l"""
  )
}
