package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.Dot
import graft.functions.Fns._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * s1 is the exact baseline: broadcast the (small) query set, one
  * pipelined pass over the corpus, per-query top-k via
  * row_number-over-window — at 100 TB this is "scan once, keep a heap
  * per query", the optimal exact shape.
  *
  * s2 is the scale path: random-hyperplane LSH. Every vector gets a
  * 6-bit bucket (sign pattern against 6 fixed pseudo-random
  * hyperplanes); the candidate join is an equi-join on the bucket, so
  * the quadratic pair space never materializes. Hyperplanes are
  * md5-derived constants — precomputed once on the driver
  * ([[graft.functions.Fns.md5LongLocal]]) and shipped as a literal, so
  * executors do zero hashing per row; the oracle recomputes the same
  * constants in SQL.
  */
object SimilarityOps {

  private val DIMS = 64
  private val PLANES = 6
  private val K = 5

  /** plane(p)(d) = ((md5Long("p:d") mod 2000) - 1000) / 1000.0 — fixed
    * pseudo-random coefficients in [-1, 1), identical in the oracle. */
  private def planeCoefs: Seq[Seq[Double]] =
    (0 until PLANES).map { p =>
      (0 until DIMS).map { d =>
        ((md5LongLocal(s"$p:$d") % 2000L) - 1000L) / 1000.0
      }
    }

  /** Sign-bit bucket of a double-array embedding against the planes —
    * statically unrolled per plane (literal coefficient arrays +
    * [[graft.functions.Fns.dotNative]]) so the whole bucket computation
    * is one codegen'd expression. Dots are rounded to 9 places (portable
    * floor form) before the sign test so that sub-ulp accumulation
    * differences can't flip a bucket bit across engines.
    */
  private def bucketOf(emb: Column): Column =
    planeCoefs.zipWithIndex.map { case (coefs, pl) =>
      when(roundFp(dotNative(emb, typedlit(coefs)), 9) >= 0, lit(1L << pl))
        .otherwise(lit(0L))
    }.reduceLeft(_ + _)

  private def queriesAndCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", l2Native(col("emb")))
    (e.filter(col("vec_id") < 10), e)
  }

  /** Thresholded similarity edges (i < j, cos ≥ thresh) from the LSH
    * bucket self-join — s4's candidate generation re-used as the edge
    * producer for embedding-space dedup clustering
    * ([[DedupOps]] d8). Same scale shape as s4: both sides shuffle on
    * the bucket key, candidate space confined per bucket. NaN cosines
    * (zero-norm vectors) pass the threshold under SQL comparison
    * semantics (Spark and DuckDB both order NaN greatest). */
  private[graft] def bucketEdges(s: SparkSession, d: String,
      thresh: Double): DataFrame = {
    val (_, corpus) = queriesAndCorpus(s, d)
    val cb = corpus.withColumn("bucket", bucketOf(col("emb")))
    cb.select(col("bucket"), col("vec_id").as("qid"),
      col("emb").as("qemb"), col("nrm").as("qnrm"))
      .join(cb, Seq("bucket"))
      .filter(col("qid") < col("vec_id"))
      .select(col("qid").as("i"), col("vec_id").as("j"), cosPrecomp.as("cos"))
      .filter(col("cos") >= thresh)
  }

  /** SQL fragments for oracles that re-derive the bucket table
    * (shared with [[DedupOps]] d8). */
  private[operators] def bucketSqlCtes: String =
    s"pl AS ($PLANES_SQL),\n      e AS ($EMB_SQL),\n      b AS ($BUCKET_SQL)"

  /** ANSI division throws on a zero divisor — a zero-norm vector must
    * score NaN (matching the kernel variant and DuckDB's 0/0). */
  private def cosPrecomp: Column = {
    val prod = col("qnrm") * col("nrm")
    when(prod === 0.0, lit(Double.NaN))
      .otherwise(roundFp(dotNative(col("qemb"), col("emb")) / prod, 6))
  }

  /** Shared per-query top-k over scored (qid, nid, cos) candidates:
    * rank with the deterministic (cos desc, nid) tiebreak, keep k.
    * ONE definition on purpose — all four ANN variants and their
    * oracle SQL must tie-break identically, or a drifted copy would
    * silently hash-mismatch. */
  private def topNeighbors(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))

  /** s1 — exact brute-force cosine top-k: broadcast 10 query vectors,
    * single corpus scan, rank with a deterministic tiebreak.
    *
    * NO-GO (r18, measured): memoizing this ranking per corpus version
    * (`memo_s1_truth`, the nb-memo pattern; consumers s1 + s6's
    * ground truth) priced WORSE than the duplicate pass it removed —
    * same-window partial bench: before s1 0.374 + s6 3.465 = 3.84 s;
    * after memo 1.404 + s1 0.015 + s6 2.973 = 4.39 s. The structural
    * reason: a single-shot memo line EXPOSES the embeddings-path
    * cold-start (first parquet scan + codegen) that min-of-3 hides
    * in the consumers' pass-1, and the one duplicated warm pass
    * (~0.37 s) is too cheap to pay for it — the r17 bm25-memo
    * precedent exactly. The nb memo survived the same accounting
    * because it deleted THREE expensive duplicate passes. At a true
    * 100 TB evaluation the ground-truth ranking is corpus-version
    * state a harness materializes once — but that is a deployment
    * choice, not a bench win, and the memo bar here stays "consumer
    * savings must beat the priced build". */
  private def s1(s: SparkSession, d: String): DataFrame = {
    val (q, corpus) = queriesAndCorpus(s, d)
    val scored = corpus
      .join(broadcast(q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos"))
    topNeighbors(scored, K)
  }

  /** s2 — LSH-bucketed ANN: equi-join query bucket to corpus bucket,
    * exact cosine re-rank inside the bucket only. Recall < 1 by design;
    * the bucket join is the 100 TB shape (shuffle on a 6-bit key with
    * AQE handling skew, no cross join anywhere). */
  private def s2(s: SparkSession, d: String): DataFrame = {
    val (q, corpus) = queriesAndCorpus(s, d)
    val cb = corpus.withColumn("bucket", bucketOf(col("emb")))
    val qb = q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("nrm").as("qnrm"))
      .withColumn("bucket", bucketOf(col("qemb")))
    topNeighbors(cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos")), 3)
  }

  /** s3 — IVF-style ANN (the other scale path SURVEY names next to
    * LSH): a fixed coarse quantizer assigns every vector to its
    * nearest-centroid cell; queries probe their [[S3_NPROBE]] nearest
    * cells and re-rank exactly inside them.
    *
    * Centroids here are the first 4 corpus vectors (deterministic so
    * the oracle replays them; in production they come from a driver-
    * side k-means sample — same plan shape). The assignment is one
    * broadcast-join pass (4 codegen'd dot products per row, no
    * shuffle); the probe is an equi-join on the int cell id. At 100 TB:
    * centroid table ≪ broadcast limit, assignment is scan-speed, and
    * the candidate space is |cell| instead of |corpus|.
    */
  /** Probes per query for s3 — the IVF recall knob. nprobe=2 lifts
    * fixture recall@3 from 18-20/30 to 25/30 at every sf (s6 records
    * the curve: the np1 row sits next to the served np2 row) for a
    * ≤nprobe× candidate-count cost — measured in NewOpsSpec, which
    * pins both the strict recall improvement and the candidate bound. */
  private val S3_NPROBE = 2

  private def s3(s: SparkSession, d: String): DataFrame =
    s3Probe(s, d, S3_NPROBE)

  /** The scored (pre-top-k) candidate set of [[s3Probe]] — exposed so
    * the recall/cost spec can measure candidate growth per probe. */
  private[graft] def s3Candidates(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val (_, corpus) = queriesAndCorpus(s, d)
    // centroid columns take the qemb/qnrm names so the shared cosine
    // contract (cosPrecomp: zero-norm→NaN, round 6) applies verbatim
    val cents = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    def ranked(src: DataFrame) = src
      .join(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cid"),
        cosPrecomp.as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("cid").asc)))
    // every corpus vector lives in exactly ONE cell …
    val assigned = ranked(corpus).filter(col("rn") === 1)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cid").as("cell"))
    // … while a QUERY probes its nprobe nearest cells. The query
    // branch ranks only the 10 query vectors (filter below the
    // centroid join), so multi-probe never rescans the corpus; a
    // query's probed cells are distinct and corpus membership is
    // unique, so the probe join cannot duplicate a (qid, nid)
    // candidate — no distinct needed.
    val q = ranked(corpus.filter(col("vec_id") < 10))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"), col("cid").as("cell"),
        col("rn").as("prn"))
    // prn (the probed cell's rank for this query) rides along so a
    // MULTI-PROBE candidate set can serve every smaller probe count
    // by filtering — candidates at nprobe=k are exactly prn <= k.
    // topNeighbors drops it from served output; s6 uses it to
    // evaluate np1 and np2 from ONE corpus assignment pass.
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos"),
        col("prn"))
  }

  /** s3 with an explicit probe count (s6 reports np=1 beside the
    * served [[S3_NPROBE]] so the recall/cost curve is in the output). */
  private[graft] def s3Probe(s: SparkSession, d: String,
      nprobe: Int): DataFrame =
    topNeighbors(s3Candidates(s, d, nprobe), 3)

  /** s4 — k-NN self-join: EVERY corpus vector gets its top-3
    * neighbors from its own LSH bucket — the all-pairs companion to
    * s2 (s2 answers a small query set; s4 builds the neighbor graph
    * that clustering / semantic-dedup consumes). No broadcast: the
    * "query" side IS the corpus, so both sides shuffle on the bucket
    * key, the quadratic cost is confined per bucket, and AQE splits a
    * skewed bucket at runtime. At 100 TB this is the only viable
    * all-pairs shape — the exact variant is a cartesian join by
    * definition. */
  private def s4(s: SparkSession, d: String): DataFrame = {
    val (_, corpus) = queriesAndCorpus(s, d)
    val cb = corpus.withColumn("bucket", bucketOf(col("emb")))
    topNeighbors(cb.select(col("bucket"), col("vec_id").as("qid"),
      col("emb").as("qemb"), col("nrm").as("qnrm"))
      .join(cb, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos")), 3)
  }

  // ---- s5: product quantization -----------------------------------

  private val PQ_M = 8         // subspaces (64 dims = 8 × 8)
  private val PQ_SUB = 8       // dims per subspace
  private val PQ_KS = 16       // centroids per codebook
  private val PQ_SHORTLIST = 10

  /** floor-half-up to 9 places — the driver-side twin of
    * [[graft.functions.Fns.roundFp]] (same IEEE ops as both engines). */
  private def round9local(x: Double): Double =
    math.floor(x * 1e9 + 0.5) / 1e9

  /** The PQ "model": per-subspace codebooks plus the query-side ADC
    * score tables, computed on the driver from a CONSTANT-size fetch
    * (the 16 lowest-id corpus vectors as centroids + the 10 query
    * vectors — 26 rows ≈ 7 KB at ANY corpus size). This is the PQ
    * contract, not a shortcut: codebooks are model parameters, trained
    * on a bounded sample and shipped to every task as literals; the
    * corpus-sized work (encode, ADC scan) stays fully distributed.
    * Centroid choice is deterministic (like s3's) so the DuckDB oracle
    * replays it; a production k-means would swap in here with the
    * same plan shape.
    *
    * Scores are the expanded form `|c|² − 2·x·c` — `|x|²` is constant
    * per (vector, subspace), so dropping it preserves every argmin and
    * every ADC ordering while halving the arithmetic. All sums run
    * sequentially (k = 0..7) so driver, Spark and DuckDB produce
    * bit-identical doubles before the portable round. */
  private def pqModel(s: SparkSession, d: String)
      : (Array[Array[Array[Double]]], Array[Array[Double]],
         Map[Long, Seq[Seq[Double]]], Map[Long, Seq[Double]]) = {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .filter(col("vec_id") < math.max(PQ_KS, 10).toLong)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val cents = Array.tabulate(PQ_M, PQ_KS) { (m, c) =>
      vecs(c.toLong).slice(m * PQ_SUB, (m + 1) * PQ_SUB).toArray
    }
    val cn2 = Array.tabulate(PQ_M, PQ_KS)((m, c) => Dot.dot(cents(m)(c), cents(m)(c)))
    val dt = (0L until 10L).map { qid =>
      qid -> (0 until PQ_M).map { m =>
        val qsub = vecs(qid).slice(m * PQ_SUB, (m + 1) * PQ_SUB).toArray
        (0 until PQ_KS).map(c => round9local(cn2(m)(c) - 2.0 * Dot.dot(qsub, cents(m)(c))))
      }
    }.toMap
    (cents, cn2, dt, vecs)
  }

  /** PQ-encode the corpus: per subspace, the centroid minimizing the
    * (rounded) score, ties to the smallest centroid id. A typed
    * kernel, not an expression tree — the declarative form is 128
    * unrolled dot products per row, which balloons the plan into a
    * Janino-hostile megabyte (measured 2.3 s vs 0.3 s at sf0.001,
    * nearly all compile time); the kernel runs the identical
    * sequential FP ops (k = 0..7 accumulate, round 9, strict-less
    * argmin == the oracle's row_number(d asc, cid asc)) at scan speed
    * with the KB-size codebook in the task closure. Output is the
    * narrow (vec_id, 8 small ints) code table — nothing else ever
    * leaves the scan. */
  private def pqEncode(s: SparkSession, corpus: DataFrame,
      cents: Array[Array[Array[Double]]],
      cn2: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    corpus.select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        val v = emb.toArray
        val code = Array.tabulate(PQ_M) { m =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < PQ_KS) {
            val cent = cents(m)(c)
            var dot = 0.0
            var k = 0
            while (k < PQ_SUB) { dot += v(m * PQ_SUB + k) * cent(k); k += 1 }
            val d = round9local(cn2(m)(c) - 2.0 * dot)
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
        (id, code.toSeq)
      })
      .toDF("nid", "code")
  }

  /** s5 — product-quantization ANN: encode every corpus vector as an
    * 8-byte code (32× smaller than 64 float32 dims — at 100 TB of
    * embeddings the code table is ~3 TB, a scannable index), scan
    * codes with asymmetric-distance lookups against the broadcast
    * score tables, shortlist top-10 per query, then re-rank the
    * shortlist EXACTLY against full-precision vectors.
    *
    * Scale shape: the ADC scan shuffles only (qid, nid, adc) — 24
    * narrow bytes per candidate row, never a vector and never a code;
    * full-precision embeddings are touched again only for the ~100
    * shortlisted ids (a broadcast semi-probe of the corpus scan — at
    * cluster scale a vec_id-partitioned layout prunes that second
    * read to the matching files). Reported cosines are therefore
    * exact; only WHICH ids make the shortlist is approximate. */
  private def s5(s: SparkSession, d: String): DataFrame = {
    val (cents, cn2, dt, _) = pqModel(s, d)
    val (q, corpus) = queriesAndCorpus(s, d)
    val dtLit = typedlit(dt)
    val adc = pqEncode(s, corpus, cents, cn2)
      .join(broadcast(q.select(col("vec_id").as("qid"))),
        col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        roundFp(aggregate(
          zip_with(col("code"), element_at(dtLit, col("qid")),
            (c, row) => get(row, c)),
          lit(0.0), (acc, x) => acc + x), 6).as("adc"))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc").asc, col("nid").asc)))
      .filter(col("rn") <= PQ_SHORTLIST)
      .select(col("qid"), col("nid"))
    val scored = corpus.select(col("vec_id").as("nid"), col("emb"), col("nrm"))
      .join(broadcast(short), "nid")
      .join(broadcast(q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))), "qid")
      .select(col("qid"), col("nid"), cosPrecomp.as("cos"))
    topNeighbors(scored, 3)
  }

  // ---- s8: IVF-PQ — the composed scale path ------------------------

  /** floor-half-up to 6 places — the driver/kernel twin of
    * [[graft.functions.Fns.roundFp]] at the cosine contract's width. */
  private def round6local(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  /** Sequential-sum L2 norm — the kernel twin of [[l2Native]]. */
  private def nrmLocal(v: Array[Double]): Double = math.sqrt(Dot.dot(v, v))

  /** One fused corpus pass emitting every vector's coarse IVF cell AND
    * its PQ code — the index build of [[s8]]. Both models ride the task
    * closure as literals (4 coarse centroids ≈ 2 KB, 8×16 codebooks ≈
    * 8 KB — the s5/s7 bounded-model convention), so the build is
    * scan-speed: no join, no window, no exchange of anything
    * corpus-sized. Compare s3's assignment, which pays a corpus×4
    * centroid-join and a row_number window (an exchange of 4·|corpus|
    * rows) to compute the SAME cells — correct, but the join form
    * exists there to share plan shape with the query side; an index
    * build at 100 TB wants the model shipped to the scan, and
    * [[IvfPqSpec]] pins this form row-identical to the declarative
    * model-as-join twin so the two can never drift.
    *
    * FP contracts mirrored exactly (the oracle replays both): the
    * coarse cell is argmax of floor-round-6 cosine (ties to the
    * smallest centroid id, NaN greatest — zero-norm vectors score NaN
    * like [[cosPrecomp]]); the code entry per subspace is the strict
    * argmin of the round-9 expanded score, exactly [[pqEncode]]'s
    * loop. All accumulations are sequential left-to-right — the
    * [[Dot]] order. */
  private def ivfpqEncode(s: SparkSession, corpus: DataFrame,
      centEmb: Array[Array[Double]], centNrm: Array[Double],
      cents: Array[Array[Array[Double]]],
      cn2: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    corpus.select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        val v = emb.toArray
        val nrm = nrmLocal(v)
        var cell = 0
        var bestCos = 0.0
        var c = 0
        while (c < centEmb.length) {
          val prod = centNrm(c) * nrm
          val cos =
            if (prod == 0.0) Double.NaN else round6local(Dot.dot(v, centEmb(c)) / prod)
          // NaN-greatest, strict-greater keeps the smallest cid on ties
          if (c == 0 || java.lang.Double.compare(cos, bestCos) > 0) {
            bestCos = cos; cell = c
          }
          c += 1
        }
        val code = Array.tabulate(PQ_M) { m =>
          var best = 0
          var bestD = Double.MaxValue
          var cc = 0
          while (cc < PQ_KS) {
            val cent = cents(m)(cc)
            var dot = 0.0
            var k = 0
            while (k < PQ_SUB) { dot += v(m * PQ_SUB + k) * cent(k); k += 1 }
            val dd = round9local(cn2(m)(cc) - 2.0 * dot)
            if (dd < bestD) { bestD = dd; best = cc }
            cc += 1
          }
          best
        }
        (id, cell, code.toSeq)
      })
      .toDF("nid", "cell", "code")
  }

  /** The probed (qid, cell) pairs for the 10 query vectors, computed on
    * the driver from the [[pqModel]] fetch (10×4 cosines ≈ nothing —
    * the query side of an IVF index is model-sized by definition).
    * Same argsort contract as s3's query branch: cosine desc with NaN
    * greatest, ties to the smallest centroid id, top [[S3_NPROBE]]. */
  private def s8QueryCells(vecs: Map[Long, Seq[Double]]): Seq[(Long, Int)] = {
    val centEmb = Array.tabulate(4)(c => vecs(c.toLong).toArray)
    val centNrm = centEmb.map(nrmLocal)
    (0L until 10L).flatMap { qid =>
      val q = vecs(qid).toArray
      val qn = nrmLocal(q)
      (0 until 4).map { c =>
        val prod = centNrm(c) * qn
        (c, if (prod == 0.0) Double.NaN else round6local(Dot.dot(centEmb(c), q) / prod))
      }.sortWith { (a, b) =>
        val cmp = java.lang.Double.compare(a._2, b._2)
        if (cmp != 0) cmp > 0 else a._1 < b._1
      }.take(S3_NPROBE).map(t => (qid, t._1))
    }
  }

  /** The IVF-PQ serve path over a prepared (nid, cell, code) index and
    * a (qid, cell) probe table: ADC-score only the candidates sharing
    * a probed cell, shortlist top-[[PQ_SHORTLIST]] per query by ADC,
    * re-rank the shortlist EXACTLY against full-precision vectors.
    * Factored so [[s8]] (kernel index) and the declarative twin in
    * [[IvfPqSpec]] run the identical downstream plan. */
  private[graft] def ivfpqServe(s: SparkSession, d: String,
      index: DataFrame, qcells: DataFrame,
      dtLit: Column): DataFrame = {
    val (q, corpus) = queriesAndCorpus(s, d)
    val adc = index
      .join(broadcast(qcells), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        roundFp(aggregate(
          zip_with(col("code"), element_at(dtLit, col("qid")),
            (c, row) => get(row, c)),
          lit(0.0), (acc, x) => acc + x), 6).as("adc"))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc").asc, col("nid").asc)))
      .filter(col("rn") <= PQ_SHORTLIST)
      .select(col("qid"), col("nid"))
    val scored = corpus.select(col("vec_id").as("nid"), col("emb"), col("nrm"))
      .join(broadcast(short), "nid")
      .join(broadcast(q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))), "qid")
      .select(col("qid"), col("nid"), cosPrecomp.as("cos"))
    topNeighbors(scored, 3)
  }

  /** s8 — IVF-PQ ANN, the composed production scale path (FAISS's
    * IVFADC): s3's coarse quantizer confines the candidate space to
    * the probed cells, s5's product quantization scans those
    * candidates as 8-byte codes instead of 256-byte vectors, and the
    * shortlist re-ranks exactly — so at 100 TB of embeddings the
    * serve path reads (a) a ~3 TB code+cell table pruned to
    * nprobe/nlist of its cells by the equi-join, (b) the
    * full-precision rows of ~100 shortlisted ids, and nothing else.
    * Both approximations compose transparently: WHICH ids surface is
    * approximate (cell pruning × ADC ordering), every reported cosine
    * is exact, and s6's recall report prices the composition against
    * the same ground truth as its constituents.
    *
    * Plan shape: ONE kernel corpus pass builds cells + codes with the
    * models as task-closure literals ([[ivfpqEncode]] — no join, no
    * window, nothing corpus-sized exchanges before the candidate
    * stage); the only exchange in the whole query is the shortlist
    * window's hash(qid) over narrow (qid, nid, adc) candidate rows,
    * already confined to probed cells. Centroids and codebooks are
    * deterministic bounded fetches (the s3/s5 convention) so the
    * DuckDB oracle replays assignment, encode, ADC and re-rank
    * bit-for-bit. */
  private def s8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cents, cn2, dt, vecs) = pqModel(s, d)
    val (_, corpus) = queriesAndCorpus(s, d)
    val centEmb = Array.tabulate(4)(c => vecs(c.toLong).toArray)
    val centNrm = centEmb.map(nrmLocal)
    val index = ivfpqEncode(s, corpus, centEmb, centNrm, cents, cn2)
    val qcells = s8QueryCells(vecs).toDF("qid", "cell")
    ivfpqServe(s, d, index, qcells, typedlit(dt))
  }

  /** The declarative model-as-join twin of [[s8]]'s index build —
    * coarse cells via the s3 centroid-join + row_number idiom, codes
    * via [[pqEncode]] — exposed only for [[IvfPqSpec]], which pins it
    * row-identical to the kernel form (the FnsSpec/PipeKernelLawSpec
    * discipline: every kernel has a declarative twin). */
  private[graft] def s8DeclarativeTwin(s: SparkSession, d: String): DataFrame = {
    val (cents, cn2, dt, _) = pqModel(s, d)
    val (_, corpus) = queriesAndCorpus(s, d)
    val cents4 = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
    val ranked = corpus
      .join(broadcast(cents4))
      .select(col("vec_id"), col("cid"), cosPrecomp.as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("cid").asc)))
    val index = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("nid"), col("cid").cast("int").as("cell"))
      .join(pqEncode(s, corpus, cents, cn2), Seq("nid"))
    val qcells = ranked
      .filter(col("vec_id") < 10 && col("rn") <= S3_NPROBE)
      .select(col("vec_id").as("qid"), col("cid").cast("int").as("cell"))
    ivfpqServe(s, d, index, qcells, typedlit(dt))
  }

  /** s7's quantization steps: uint8 — 255 intervals per dimension,
    * the standard scalar-quantization grid (4× smaller than float32;
    * at 100 TB of embeddings the int8 view is a 25 TB scannable
    * index with NO codebook training, the step below s5's PQ). */
  private[graft] val SQ_LEVELS = 255.0

  /** s7 — scalar-quantization ANN (the production baseline below
    * s5's PQ: FAISS's SQ8 / Lucene's int8 HNSW storage layer): every
    * dimension is affinely mapped to a uint8 code against the
    * corpus-wide per-dim [min, max], and search ranks by the cosine
    * of the DEQUANTIZED vectors — so the reported score IS the score
    * the compressed index can reproduce, and the recall loss (s6 row
    * `s7_ann_sq`) is exactly the cost of 4× compression. No training,
    * no codebook — the model is 2·64 doubles.
    *
    * The per-dim [mn, mx] model is a bounded driver fetch (64 rows —
    * the s3 centroid / s5 codebook convention) baked in as literal
    * arrays so quantize+dequantize+score run in ONE corpus pass with
    * no join. Quantization is the pinned floor form on both engines
    * (code = floor((x−mn)·255/(mx−mn) + 0.5); constant dims code 0)
    * so the oracle replays it bit-for-bit.
    *
    * Scale shape: one ≤64-row partial-agg pass for the model, one
    * corpus scan for the search (broadcast query side, the s1/s2
    * shape). At 100 TB the stored table IS the int8 codes; this
    * query's dequantize-on-read is that layout's exact serve path. */
  /** The SQ per-dim [min, max] model as literal arrays — one bounded
    * driver fetch (64 rows), shared by s7's search and emb7's error
    * curve so the two can never disagree on the grid. */
  private def sqModel(s: SparkSession, d: String): (Column, Column) = {
    val mm = Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    (typedlit(mm.map(_.getDouble(1)).toSeq),
      typedlit(mm.map(_.getDouble(2)).toSeq))
  }

  /** The pinned floor-form dequantize-of-quantize at `levels` grid
    * steps over the [[sqModel]] literals — s7 serves it at
    * [[SQ_LEVELS]]; emb7 sweeps it. */
  private def sqDeq(mnLit: Column, mxLit: Column, levels: Double)(
      x: Column, i: Column): Column = {
    val lo = element_at(mnLit, i + 1)
    val hi = element_at(mxLit, i + 1)
    when(hi === lo, lo).otherwise(
      lo + floor((x - lo) * lit(levels) / (hi - lo) + lit(0.5))
        * (hi - lo) / lit(levels))
  }

  private def s7(s: SparkSession, d: String): DataFrame = {
    val (mnLit, mxLit) = sqModel(s, d)
    def deq(v: Column): Column =
      transform(v, (x, i) => sqDeq(mnLit, mxLit, SQ_LEVELS)(x, i))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        deq(col("embedding").cast("array<double>")).as("emb"))
      .withColumn("nrm", l2Native(col("emb")))
    topNeighbors(e
      .join(broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("nrm").as("qnrm"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos")), 3)
  }

  /** emb7's bit-width sweep: 2^b − 1 grid levels for b ∈ 2..8,
    * bracketing s7's served 8-bit grid. */
  private[graft] val EMB7_BITS = Seq(2, 4, 6, 8)

  /** emb7 — the scalar-quantization error curve (the d16/pipe10 knob
    * pattern on s7's axis): whole-corpus reconstruction error of the
    * SQ grid at 2/4/6/8 bits per dimension — the compression-vs-
    * fidelity table an embedding store reads before choosing its code
    * width (s6 measures 8-bit RECALL; this measures the geometric
    * error underneath it, for widths s6 doesn't serve). The served
    * width appears as its own row, and every width uses the SAME
    * [[sqModel]]/[[sqDeq]] the serving path runs — the anti-drift
    * rule.
    *
    * Exactness: per-element absolute error is floor-quantized to
    * integer nano-units BEFORE summing (the emb1 quantize-then-sum
    * convention), so totals are exact longs with no float
    * accumulation-order dependence, and the oracle replays the
    * identical expression tree.
    *
    * Scale shape: one ≤64-row model pass (shared, driver-held), then
    * ONE corpus scan evaluates all four widths in-row (4 transforms
    * over the 64-dim array) and partial-aggregates to a single row;
    * the 4-row stack and the mean arithmetic are corpus-size-free. */
  private def emb7(s: SparkSession, d: String): DataFrame = {
    val (mnLit, mxLit) = sqModel(s, d)
    def errArr(bits: Int)(v: Column): Column = {
      val levels = ((1 << bits) - 1).toDouble
      transform(v, (x, i) =>
        floor(abs(x - sqDeq(mnLit, mxLit, levels)(x, i)) * lit(1e9)
          + lit(0.5)).cast("long"))
    }
    val perB = EMB7_BITS.flatMap { b =>
      val arr = errArr(b)(col("emb"))
      Seq(
        sum(aggregate(arr, lit(0L), (acc, x) => acc + x)).as(s"s$b"),
        max(array_max(arr)).as(s"m$b"))
    }
    Tables.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("emb"))
      .agg(sum(size(col("emb")).cast("long")).as("n_vals"), perB: _*)
      .select(col("n_vals"), expr(
        s"""stack(${EMB7_BITS.size}, ${EMB7_BITS.map(b =>
          s"CAST($b AS BIGINT), CAST(${(1 << b) - 1} AS BIGINT), s$b, m$b")
          .mkString(", ")})
           |AS (bits, levels, sum_abs_err_e9, max_abs_err_e9)"""
          .stripMargin))
      .select(col("bits"), col("levels"), col("n_vals"),
        col("sum_abs_err_e9"), col("max_abs_err_e9"),
        expr("sum_abs_err_e9 div n_vals").as("mean_abs_err_e9"))
  }

  // ---- km1: distributed Lloyd's k-means ---------------------------

  private val KM_K = 4
  private val KM_ITERS = 2

  /** Squared-distance argmin assignment of every vector to its nearest
    * centroid — the train/serve primitive s3 (IVF cells) and s5 (PQ
    * codebooks) both defer to. Centroids are a driver-held model
    * (k·dims doubles — KBs at any corpus size) shipped as LITERALS, so
    * the assignment is join-free, exchange-free, scan-speed codegen:
    * per row one native dot for |x|² plus one per centroid, using the
    * expanded form |c|² − 2·x·c + |x|² (|c|² precomputed per centroid
    * on the driver with the same sequential fold the oracle's
    * `list_sum` runs). Distances are rounded to 9 places (portable
    * floor form) BEFORE the argmin so sub-ulp accumulation differences
    * can't flip a cell across engines; ties go to the smallest
    * centroid id via the when-chain's first-match order (== the
    * oracle's `row_number(d, cid)`). At production k (thousands of
    * cells) the statically-unrolled k-term plan gives way to a
    * pqEncode-style typed kernel with the codebook in the task closure
    * — identical scan shape, no join either way. */
  private[graft] def kmAssign(e: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val xx = dotNative(col("emb"), col("emb"))
    val ds = cents.map { case (_, cs) =>
      val arr = cs.toArray
      val cn2 = Dot.dot(arr, arr)
      roundFp(lit(cn2) - lit(2.0) * dotNative(col("emb"), typedlit(cs)) + xx, 9)
    }
    val m = least(ds: _*)
    val pairs = cents.map(_._1).zip(ds)
    val cell = pairs.tail
      .foldLeft(when(pairs.head._2 === m, lit(pairs.head._1))) {
        case (acc, (cid, dc)) => acc.when(dc === m, lit(cid))
      }
      .otherwise(lit(pairs.last._1)) // unreachable (m is one of ds); keeps the column non-null
    e.select(col("vec_id"), col("emb"), cell.as("cell"), m.as("dist9"))
  }

  /** Train KM_ITERS Lloyd rounds from the deterministic init (the K
    * lowest-id vectors — the same replayable choice s3/s5 make) and
    * return (projected corpus, init centroids, trained centroids).
    *
    * The update step is where a naive k-means dies at 100 TB and where
    * this one doesn't:
    *   - centroid averages are computed from EXACT integer partials —
    *     each coordinate is quantized to floor(x·1000 + 0.5) as a long
    *     before summing, so the per-cell sums are associative and
    *     order-independent (long addition), immune to the FP
    *     summation-order divergence that plagues cross-engine (and
    *     cross-run, under AQE re-partitioning) double sums. The final
    *     centroid floor-rounds sq/(1000·n) to 6 places — bit-identical
    *     in any engine.
    *   - the per-(cell, dim) aggregation partial-aggregates map-side,
    *     so the one exchange carries ≤ partitions·k·dims narrow rows
    *     regardless of corpus size; vectors never shuffle.
    *   - the corpus projection is materialized once
    *     (persist(MEMORY_AND_DISK) — NEVER localCheckpoint: lineage
    *     truncation on a corpus-scale relation makes executor loss an
    *     unrecoverable job failure at 100 TB; the repo invariant is
    *     "checkpoint signatures, never the corpus") and reused by
    *     every iteration — Lloyd is inherently multi-pass, but each
    *     pass is a memory-local rescan, not a parquet re-read. The
    *     per-iteration collect is the bounded k·dims model fetch
    *     (256 rows here), not data.
    * An empty cell keeps its previous centroid (standard Lloyd
    * degeneracy handling); the fixture corpus never triggers it
    * (spec-asserted), which keeps the oracle expressible. */
  /** The projected corpus (materialized once) and the deterministic
    * init centroids (the K lowest-id vectors). */
  private[graft] def kmInit(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < KM_K)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    (e, init)
  }

  /** One Lloyd update: assign under `cents`, then the quantized-exact
    * per-(cell, dim) average. An empty cell keeps its old centroid. */
  private[graft] def kmUpdate(e: DataFrame,
      cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val upd = kmAssign(e, cents)
      .select(col("cell"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("x") * 1000 + lit(0.5)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("dim"),
        roundFp(col("sq") / (lit(1000.0) * col("n")), 6).as("c"))
      .collect()
    val byCell = upd.groupBy(_.getInt(0)).map { case (cell, rows) =>
      cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
    }
    cents.map { case (cid, old) => (cid, byCell.getOrElse(cid, old)) }
  }

  private[graft] def kmTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, Seq[Double])], Seq[(Int, Seq[Double])]) = {
    val (e, init) = kmInit(s, d)
    val trained = (1 to KM_ITERS).foldLeft(init) { (cents, _) =>
      kmUpdate(e, cents)
    }
    (e, init, trained)
  }

  /** km1 — the k-means clustering query: 2 trained Lloyd rounds, then
    * the final cell assignment (vec_id, cell, dist2). This is the
    * trainer that feeds s3's IVF cells and s5's PQ codebooks in
    * production; its output doubles as a coarse semantic partitioning
    * of the corpus (cluster-then-dedup / cluster-balanced sampling
    * both start here). */
  private def km1(s: SparkSession, d: String): DataFrame = {
    val (e, _, trained) = kmTrain(s, d)
    kmAssign(e, trained)
      .select(col("vec_id"), col("cell"),
        roundFp(col("dist9"), 6).as("dist2"))
  }

  // ---- lr1: distributed logistic-regression trainer ----------------

  private val LR_ITERS = 2
  // empirically inside the monotone-descent region on the fixture
  // (16.0 overshoots by round 3 — see NewOpsSpec's descent law)
  private val LR_RATE = 4.0
  private val LR_DIMS = 64

  /** Hard-sigmoid surrogate clamp(0.25·z + 0.5, 0, 1). The TRUE
    * sigmoid needs exp(), and libm exp is not correctly-rounded — the
    * same engine-portability wall x10/x12 document for log — so the
    * trainer optimizes the Huberized-logistic convex loss whose link
    * is this piecewise-LINEAR sigmoid: pure IEEE multiply/add/clamp,
    * bit-identical in any engine. Its derivative in z (0.25 on the
    * linear region, 0 when saturated) makes ℓ'(z) = p − y
    * nondecreasing in z, so the loss is convex and batch GD descends
    * (spec-asserted round by round). */
  private def lrP(z: Column): Column =
    least(greatest(lit(0.25) * z + lit(0.5), lit(0.0)), lit(1.0))

  /** Training corpus: 64-dim double features + the binary target
    * (label < 5), projected once and reused by every GD pass.
    * persist(MEMORY_AND_DISK), not localCheckpoint — corpus-scale
    * relations keep their lineage so a lost executor recomputes its
    * partitions instead of killing the job (repo invariant:
    * "checkpoint signatures, never the corpus"). */
  private[graft] def lrCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        when(col("label") < 5, lit(1.0)).otherwise(lit(0.0)).as("y"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** w(0) = bias, w(d) = coefficient of emb[d] (d = 1..LR_DIMS). */
  private[graft] val lrInit: Seq[Double] = Seq.fill(LR_DIMS + 1)(0.0)

  /** One full-batch gradient-descent step. Where a naive trainer dies
    * at 100 TB and this one doesn't:
    *   - the model (65 doubles) ships to the executors as LITERALS
    *     inside one codegen'd projection — scoring is join-free and
    *     exchange-free, the same serve shape as kmAssign;
    *   - per-row gradient contributions (res·x_d) are quantized to
    *     longs (floor(g·1e6 + 0.5)) BEFORE summing, so the per-dim
    *     sums are associative, order-independent long additions —
    *     immune to FP summation-order divergence across engines, runs,
    *     and AQE re-partitionings. |res·x| is O(1), so the long sum
    *     holds exactly past 10^12 rows;
    *   - the (dim, partial) aggregation partial-aggregates map-side:
    *     the one exchange carries ≤ partitions·(dims+1) narrow rows
    *     regardless of corpus size, and the driver round-trip is the
    *     65-row gradient, not data.
    * The weight update runs on the driver with the oracle's exact
    * IEEE expression: w' = floor6(w − rate·(Σq/(1e6·n))). */
  /** The distributed gradient plan one GD step aggregates — exposed
    * so PlanShapeSpec can pin that its exchange carries only the
    * narrow (dim, partial-sum, count) rows, never vectors. */
  private[graft] def lrGrad(e: DataFrame, w: Seq[Double]): DataFrame = {
    val z = lit(w.head) + dotNative(col("emb"), typedlit(w.tail))
    e.select((lrP(z) - col("y")).as("res"),
        posexplode(concat(array(lit(1.0)), col("emb"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(floor(col("res") * col("x") * lit(1000000.0) + lit(0.5))
        .cast("long")).as("sq"), count(lit(1)).as("n"))
  }

  private[graft] def lrUpdate(e: DataFrame, w: Seq[Double]): Seq[Double] = {
    val g = lrGrad(e, w).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    w.indices.map { d =>
      val (sq, n) = g(d)
      math.floor((w(d) - LR_RATE * (sq / (1000000.0 * n))) * 1e6 + 0.5) / 1e6
    }
  }

  private[graft] def lrTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[Double]) = {
    val e = lrCorpus(s, d)
    (e, (1 to LR_ITERS).foldLeft(lrInit)((w, _) => lrUpdate(e, w)))
  }

  /** lr1 — the trained-classifier scoring query: LR_ITERS full-batch
    * GD rounds (quality-classifier training — the fastText/logreg
    * stage every production curation pipeline runs), then one serve
    * pass scoring the corpus under the final weights. p is pinned at
    * 6 dp BEFORE thresholding so the decision is taken on the same
    * double in both engines. */
  private def lr1(s: SparkSession, d: String): DataFrame = {
    val (e, w) = lrTrain(s, d)
    val p6 = roundFp(
      lrP(lit(w.head) + dotNative(col("emb"), typedlit(w.tail))), 6)
    e.select(col("vec_id"), p6.as("p"),
      when(p6 >= lit(0.5), lit(1)).otherwise(lit(0)).as("yhat"),
      col("y").cast("int").as("y"))
  }

  /** emb1 — per-dimension embedding statistics: count, mean, std,
    * min, max for each of the 64 dimensions — the normalization /
    * whitening pre-pass every ANN index build runs (a dimension with
    * 10× the variance of the rest dominates L2; a shifted mean breaks
    * inner-product shortcuts; this report is what decides centering
    * and scaling before s2/s3/s5 index).
    *
    * Exactness: values quantize to integer thousandths BEFORE any
    * sum (the km1 trick), so Σq and Σq² are exact longs and the
    * mean/variance are single IEEE expressions over exact integers —
    * order-independent, bit-identical in the oracle. (Long headroom:
    * q ≈ 3·10³ ⇒ q² ≈ 10⁷ per row; ~10¹¹ rows before Σq² nears 2⁶³ —
    * past that the same plan runs on DECIMAL(38) accumulators.)
    *
    * Plan at 100 TB: posexplode to (dim, q) pairs, ONE partial+final
    * agg on the 64-value dim key — map-side combine collapses each
    * task to ≤64 rows, so the exchange is |tasks|×64 rows of longs
    * regardless of corpus size. */
  private def emb1(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x"),
        expr("CAST(floor(x * 1000 + 0.5) AS BIGINT)").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"),
        roundFp(min(col("x")), 6).as("min_x"),
        roundFp(max(col("x")), 6).as("max_x"))
      .select(col("dim"), col("n"),
        roundFp(col("sq").cast("double") / (col("n") * 1000.0), 6).as("mean"),
        roundFp(sqrt(greatest(
          col("sqq").cast("double") / (col("n").cast("double") * 1000000.0) -
            (col("sq").cast("double") / (col("n") * 1000.0)) *
            (col("sq").cast("double") / (col("n") * 1000.0)),
          lit(0.0))), 6).as("std"),
        col("min_x"), col("max_x"))

  /** s6 — the ANN evaluation harness as a first-class query:
    * recall@3 of every approximate variant (s2 LSH, s3 IVF, s5 PQ)
    * against s1's exact ground truth — the report every ANN
    * deployment runs before trusting an index, produced from the
    * REGISTERED queries verbatim (the rrf1 composition rule: the
    * evaluated rankings are exactly the served rankings, and the
    * oracle embeds the constituents' oracle SQL so they cannot
    * drift). Recall is exact integer ppm: 1000000·hits div possible.
    *
    * Scale shape: the constituents run under their established
    * plans; the ground-truth set (|Q|·3 rows) is persisted for its
    * three consumers and each comparison is a ≤k·|Q|-row LeftSemi +
    * count — evaluation cost is rankings-sized, corpus-independent
    * BY CONSTRUCTION. The two IVF rows (np1, np2) share ONE corpus
    * assignment pass: the np2 candidate set is persisted and np1 is
    * its prn=1 slice (candidates at a smaller probe count are a
    * subset by construction — VERDICT r12 #7, the removable-rebuild
    * audit). */
  private def s6(s: SparkSession, d: String): DataFrame = {
    val exact = s1(s, d).filter(col("rank") <= 3)
      .select(col("qid"), col("nid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def row(name: String, approx: DataFrame): DataFrame = {
      val hits = approx.filter(col("rank") <= 3)
        .select(col("qid"), col("nid"))
        .join(exact, Seq("qid", "nid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      hits.crossJoin(broadcast(exact.agg(count(lit(1)).as("possible"))))
        .select(lit(name).as("variant"), col("hits"), col("possible"),
          expr("(1000000 * hits) div possible").as("recall_ppm"))
    }
    val ivfCand = s3Candidates(s, d, S3_NPROBE)
      .persist(StorageLevel.MEMORY_AND_DISK) // np1 + np2 recall rows
    row("s2_ann_lsh", s2(s, d))
      // the IVF recall/cost curve: the single-probe variant reported
      // beside the served S3_NPROBE=2 form — the knob's value is IN
      // the recall report, not just a claim in a doc
      .union(row("s3_ann_ivf_np1",
        topNeighbors(ivfCand.filter(col("prn") === 1), 3)))
      .union(row("s3_ann_ivf", topNeighbors(ivfCand, 3)))
      .union(row("s5_ann_pq", s5(s, d)))
      .union(row("s7_ann_sq", s7(s, d)))
      // the composed path priced against its constituents: IVF-PQ's
      // recall loss = cell pruning (s3's row) × ADC ordering (s5's)
      .union(row("s8_ann_ivfpq", s8(s, d)))
  }

  /** Held-out query slice for cls3: fixed-size by construction
    * (lowest CLS3_Q ids), so broadcasting it is a CONSTANT-size
    * exchange at any corpus scale — the s1 query-side convention,
    * deliberately NOT a percentage slice (2% of a 100 TB corpus
    * doesn't broadcast). */
  private val CLS3_Q = 40
  private val CLS3_K = 5

  /** cls3 — k-NN classification over the embedding corpus: each
    * held-out query vector takes the majority label of its CLS3_K
    * cosine-nearest corpus neighbors (ties: more votes win, then the
    * smaller label — fully deterministic). The serve-path shape of a
    * labeled-corpus classifier at 100 TB: the constant-size query set
    * broadcasts, ONE corpus scan scores all pairs inside whole-stage
    * codegen (native dot product), per-query top-k + vote are
    * query-count-sized windows AFTER the corpus-sized rank
    * aggregation prunes to Q·K rows. */
  private def cls3(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", l2Native(col("emb")))
    val q = e.filter(col("vec_id") < CLS3_Q)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("emb").as("qemb"), col("nrm").as("qnrm"))
    val scored = e.filter(col("vec_id") >= CLS3_Q)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("true_label"), col("label").as("nlabel"),
        col("vec_id").as("nid"), cosPrecomp.as("cos"))
    val top = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid").asc)))
      .filter(col("rank") <= CLS3_K)
    top.groupBy(col("qid"), col("true_label"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col("nlabel").asc)))
      .filter(col("vr") === 1)
      .select(col("qid"), col("true_label").cast("int").as("true_label"),
        col("nlabel").cast("int").as("pred_label"), col("votes"))
  }

  /** emb2 — the distributed Gram matrix Gᵀ·G (upper triangle) of the
    * embedding corpus: the d×d matmul primitive behind PCA/whitening,
    * covariance shrinkage, and linear-probe training — the step a
    * pipeline runs right after emb1 decides centering is needed.
    *
    * Exactness: coordinates quantize to integer thousandths BEFORE
    * any product (the emb1/km1 trick), so every cell is an exact,
    * order-independent long Σqᵢ·qⱼ — bit-identical in any engine and
    * under any AQE re-partitioning. (Headroom: |q|≈3·10³ ⇒ |qᵢqⱼ|≈10⁷
    * per row; ~10¹¹ rows before a cell nears 2⁶³.)
    *
    * Plan at 100 TB: each row fans out to its d(d+1)/2 = 2080 upper-
    * triangle products via two chained generators (posexplode + a
    * slice-bounded posexplode — generators pipeline inside the same
    * stage, nothing materializes the n·2080 relation), and the
    * (dim_i, dim_j) hash aggregate partial-aggregates map-side: every
    * task collapses to ≤2080 rows, so the ONE exchange carries
    * |tasks|·2080 narrow long rows regardless of corpus size — the
    * same matmul-by-partial-aggregation shape a Gram matrix takes on
    * any shared-nothing engine (never an n×n, never a vector
    * shuffle). */
  private def emb2(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      // float→double cast BEFORE the quantizing arithmetic (the emb1
      // convention): exact widening, then identical double ops in the
      // oracle — float-precision floor would diverge within an ulp
      .select(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q"))
      .select(posexplode(col("q")).as(Seq("i0", "qi")), col("q"))
      // slice is 1-based: start i0+1 = the 0-based i0'th element, so
      // dj=0 is the diagonal and j0 = i0 + dj never leaves the row
      .select(col("i0"), col("qi"),
        posexplode(expr(s"slice(q, i0 + 1, $DIMS)")).as(Seq("dj", "qj")))
      .groupBy((col("i0") + 1).cast("long").as("dim_i"),
        (col("i0") + col("dj") + 1).cast("long").as("dim_j"))
      .agg(count(lit(1)).as("n"), sum(col("qi") * col("qj")).as("g"))

  /** emb3 — per-dimension z-score standardization of the embedding
    * corpus, reported per vector as the standardized L2 norm and the
    * most-deviant dimension — the feature-scaling pass (and its
    * "which dim is driving this vector" diagnostic) that runs between
    * emb1's stats and any distance-based consumer (km1, s4, d5):
    * unstandardized dims with large variance silently dominate every
    * euclidean distance downstream.
    *
    * Exactness: the per-dim mean/std derive from the SAME integer-
    * thousandths sums emb1 publishes (order-independent longs); each
    * z quantizes to integer millionths before the norm sum, so the
    * per-vector aggregation is again order-independent long
    * arithmetic (|zq|≈10⁷ ⇒ Σzq² ≈ 6·10¹⁵ over 64 dims, wide
    * headroom). The argmax dimension rides a single packed long
    * max(|zq|·100 + (64 − dim)) — larger deviation wins, ties break
    * to the SMALLER dim, no struct-ordering portability risk.
    *
    * Plan at 100 TB: the stats table is dims-sized (one partial+final
    * agg over the posexploded corpus, 64 rows) and joins back as a
    * broadcast; z-scoring is then a scan-speed map-side projection
    * and the per-vector norm is one vec_id-keyed partial+final agg —
    * two corpus passes, one exchange each, nothing wider than
    * (vec_id, long) crosses a shuffle. A zero-variance dim
    * standardizes to z = 0 (guarded), not NaN. */
  private def emb3(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"))
          .as(Seq("i0", "qv")))
      .select(col("vec_id"), (col("i0") + 1).cast("long").as("dim"), col("qv"))
    val stats = q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("sq"),
        sum(col("qv") * col("qv")).as("sqq"))
      .select(col("dim"),
        (col("sq").cast("double") / (col("n") * 1000.0)).as("mean"),
        sqrt(greatest(
          col("sqq").cast("double") / (col("n").cast("double") * 1000000.0) -
            (col("sq").cast("double") / (col("n") * 1000.0)) *
            (col("sq").cast("double") / (col("n") * 1000.0)),
          lit(0.0))).as("std"))
    q.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(CASE WHEN std > 0.0 THEN (qv / 1000.0 - mean) / std " +
          "ELSE 0.0 END * 1000000 + 0.5) AS BIGINT)").as("zq"))
      .groupBy(col("vec_id"))
      .agg(sum(col("zq") * col("zq")).as("s2"),
        max(abs(col("zq")) * 100L + (lit(64L) - col("dim"))).as("top_key"))
      .select(col("vec_id"),
        roundFp(sqrt(col("s2").cast("double") / 1.0e12), 4).as("znorm"),
        (lit(64L) - col("top_key") % 100L).as("top_dim"))
  }

  /** mmr1's candidate pool and selection size. λ = 0.7 enters ONLY
    * as the exact integer pair (7, 3) in the ppm score — never as a
    * float literal (a SQL decimal literal would change the oracle's
    * arithmetic type). */
  private val MMR_CAND = 12
  private[graft] val MMR_K = 5

  /** mmr1 — Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein '98): greedily pick [[MMR_K]] results per query where
    * each pick maximizes λ·rel(q,d) − (1−λ)·max_{s∈selected}
    * sim(d,s) — the de-duplicating re-rank every retrieval stack runs
    * when the raw top-k collapses onto near-identical neighbors
    * (which an embedding corpus with near-dups guarantees).
    *
    * Exactness: relevance and pairwise sims are the s1-rounded
    * cosines, recovered as EXACT integer ppm; the MMR score is then
    * pure integer arithmetic — score = 10λ·rel_ppm − 10(1−λ)·ms_ppm
    * = 7·rel_ppm − 3·ms_ppm (score×10⁷ units, the rrf1/att2 ppm
    * convention — no float λ ever multiplies) — and each greedy
    * argmax tie-breaks (score desc, nid), so the whole greedy
    * trajectory is deterministic and the oracle replays it as
    * unrolled CTE rounds (the km1 Lloyd-round technique).
    *
    * Scale shape: ONE corpus scan scores relevance (s1's broadcast
    * shape); everything after is RANKINGS-sized by construction —
    * the candidate pool is |Q|·12 rows, and the greedy itself is
    * PER-QUERY LOCAL (no pick ever depends on another query's
    * state), so it runs as one flatMapGroups kernel over the pool:
    * one shuffle keyed by qid, 12×11 dense cosines + K argmax
    * rounds inside the task, zero iterative stages. The corpus is
    * never touched again after candidate selection, and query
    * batches scale horizontally — a million queries is a million
    * independent 12-row groups. (The first cut of this operator ran
    * each greedy round as keyed joins + a window: semantically
    * identical, but 4 rounds × ~4 rankings-sized exchanges of pure
    * scheduling latency — 4.5 s vs 1.5 s at sf0.1 for the same
    * answer. Per-entity-local iteration belongs in the task, not in
    * the DAG.) */
  private def mmr1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (q, corpus) = queriesAndCorpus(s, d)
    val scored = corpus
      .join(broadcast(q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cosPrecomp.as("cos"))
    val ranked = topNeighbors(scored, MMR_CAND)
    ranked
      .join(corpus.select(col("vec_id").as("nid"), col("emb"), col("nrm")),
        Seq("nid"))
      .select(col("qid"), col("nid"), col("cos").as("rel"),
        col("emb"), col("nrm"))
      .as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double], Double)]) =>
        // the pool arrives in topNeighbors' (cos desc, nid) order
        // only per-partition — re-impose it locally so pick 1 is
        // exactly ranked.rank === 1
        val cs = it.map { case (_, nid, rel, emb, nrm) =>
          (nid, rel, emb.toArray, nrm)
        }.toArray.sortBy { case (nid, rel, _, _) => (-rel, nid) }
        // EXACT replay of the expression chain: ppm recovers the
        // 6-dp-rounded cosine as an integer; pair sims round twice
        // (roundFp to 6 dp, then ppm) exactly as the former pairSim
        // relation did — same IEEE ops, same bits
        def ppm(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
        def simPpm(a: (Long, Double, Array[Double], Double),
                   b: (Long, Double, Array[Double], Double)): Long = {
          val prod = a._4 * b._4
          // zero-norm → NaN upstream by contract; ppm(NaN) = 0 is
          // unreachable (TestDataContractSpec pins nonzero norms)
          if (prod == 0.0) 0L
          else ppm(math.floor(Dot.dot(a._3, b._3) / prod * 1e6 + 0.5) / 1e6)
        }
        val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        if (cs.nonEmpty) sel += ((0, 1L, 7L * ppm(cs(0)._2)))
        var r = 2
        while (r <= MMR_K && sel.length < cs.length) {
          var bi = -1; var bScore = Long.MinValue
          var ci = 0
          while (ci < cs.length) {
            if (!sel.exists(_._1 == ci)) {
              var ms = Long.MinValue
              sel.foreach { case (si, _, _) =>
                val sp = simPpm(cs(ci), cs(si))
                if (sp > ms) ms = sp
              }
              val sc = 7L * ppm(cs(ci)._2) - 3L * ms
              // argmax tie-break (score desc, nid asc): strictly
              // better score wins; equal score falls to the lower
              // nid, which the (−rel, nid)-sorted scan order does
              // NOT guarantee — compare nids explicitly
              if (sc > bScore || (sc == bScore && bi >= 0 &&
                    cs(ci)._1 < cs(bi)._1)) { bi = ci; bScore = sc }
            }
            ci += 1
          }
          sel += ((bi, r.toLong, bScore))
          r += 1
        }
        sel.iterator.map { case (ci, ord, sc) => (qid, cs(ci)._1, ord, sc) }
      }
      .toDF("qid", "nid", "pick_order", "score")
  }

  /** emb4's fixed power-iteration depth — enough for the gap between
    * the top two eigenvalues of a real embedding Gram to dominate
    * (the spec's fixed-point law measures the residual rotation);
    * the result is DEFINED as the round-32 iterate (bit-exact replay
    * in any engine), not as "the converged eigenvector". */
  private[graft] val EMB4_ROUNDS = 32

  /** emb4 — dominant principal direction of the embedding corpus by
    * INTEGER power iteration over emb2's Gram matrix: the top-PCA
    * diagnostic (what single direction carries the most variance —
    * anisotropy, the "rogue dimension" problem) that runs right after
    * emb2, without ever calling an eigensolver no two engines agree
    * on bit-for-bit.
    *
    * Exactness: the Gram is emb2's exact integer cells (the
    * registered form REUSED — the rrf1/s6 composition rule); one
    * data-derived power-of-ten shift caps |g| ≤ ~10⁹ so every matvec
    * term g·v fits a long (10⁹·10⁶·64 ≈ 6·10¹⁶); each round
    * renormalizes v to ≤10⁶ by integer division with an explicit
    * sign split (−((−w) div d)): the split states truncate-toward-
    * zero semantics structurally, independent of either engine's
    * native negative-division convention. (Measured r10: DuckDB's
    * `//` in fact ALSO truncates toward zero, -7 // 4 = -1, so the
    * engines agree even unsplit — the split stays because it makes
    * the convention explicit rather than measured.) The oracle
    * replays all [[EMB4_ROUNDS]] rounds as unrolled CTEs.
    *
    * Scale shape: ALL corpus work is emb2's proven Gram shape (the
    * one exchange carrying ≤2080 narrow long rows); the iteration is
    * dims²-sized — a bounded-by-construction model fetch (the
    * km1/PQ driver round-trip discipline: 64·64 longs, corpus-
    * independent) iterated driver-side exactly like km1's centroid
    * update. */
  private def emb4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tri = emb2(s, d).select(col("dim_i"), col("dim_j"), col("g"))
      // 2080-row model: the mirror union must not replan the Gram
      .persist(StorageLevel.MEMORY_AND_DISK)
    val full = tri.union(tri.filter(col("dim_i") =!= col("dim_j"))
      .select(col("dim_j").as("dim_i"), col("dim_i").as("dim_j"), col("g")))
    // bounded by construction: dims² = 4096 cells, corpus-independent
    val cells = full.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2)))
    val dims = 64
    val mg = cells.map(c => math.abs(c._3)).max
    val dg = mg / 1000000000L + 1L
    val g2 = Array.ofDim[Long](dims + 1, dims + 1)
    cells.foreach { case (i, j, g) =>
      g2(i)(j) = if (g < 0) -((-g) / dg) else g / dg
    }
    var v = Array.fill(dims + 1)(1000000L)
    for (_ <- 1 to EMB4_ROUNDS) {
      val w = Array.tabulate(dims + 1) { i =>
        if (i == 0) 0L
        else (1 to dims).map(j => g2(i)(j) * v(j)).sum
      }
      val dw = (1 to dims).map(i => math.abs(w(i))).max / 1000000L + 1L
      v = w.map(x => if (x < 0) -((-x) / dw) else x / dw)
    }
    (1 to dims).map(i => (i.toLong, v(i))).toDF("dim", "v_ppm")
  }

  /** emb5 — the "All-but-the-Top" projection pass (Mu & Viswanath
    * '18): project every embedding onto emb4's dominant direction
    * and report the exact integer projection plus its coefficient
    * in ppm of the direction's squared norm. Anisotropic embedding
    * corpora pile mass onto one rogue direction; this table is both
    * the per-vector evidence and the first half of the standard
    * post-process (subtract c·v from every vector) — run it after
    * emb4 says the corpus is anisotropic, before any cosine
    * consumer (s1-s6, d5, d8).
    *
    * Exactness: q is emb2's milli-quantization; v is emb4's
    * round-[[EMB4_ROUNDS]] iterate — 64 exact longs, so
    * proj = Σ qᵢ·vᵢ is an exact long and the coefficient is the
    * sign-split integer division (the emb4 convention: the split
    * states truncation structurally; measured r10, both engines
    * truncate natively too). Headroom: the binding term is
    * 10⁶·proj ≤ 10⁶ · 64·|q|ᵢ·10⁶, which stays inside a long while
    * per-coordinate |x| ≲ 140 (q ≲ 1.4·10⁵) — comfortably true for
    * the unit-range embeddings this corpus contracts (|x| < 8,
    * TestDataContractSpec), but a pre-normalization pass belongs
    * BEFORE this operator for wild-range vectors: past that bound
    * Spark would wrap silently where DuckDB errors.
    *
    * Scale shape: the direction is a bounded-by-construction driver
    * fetch (64 longs — the km1/PQ model discipline; emb4's corpus
    * work is emb2's Gram exchange); serving is ONE corpus scan with
    * the 64-long literal array inlined into codegen; no join, no
    * shuffle beyond the Gram's own. */
  private def emb5(s: SparkSession, d: String): DataFrame = {
    val v = emb4(s, d).collect().sortBy(_.getLong(0)).map(_.getLong(1))
    val vv = v.map(x => x * x).sum
    val varr = v.mkString("array(", ", ", ")")
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q"))
      .select(col("vec_id"),
        expr(s"aggregate(zip_with(q, $varr, (a, b) -> a * b), " +
          "0L, (acc, x) -> acc + x)").as("proj"))
      .select(col("vec_id"), col("proj"),
        expr(s"CASE WHEN proj < 0 THEN -((-(1000000 * proj)) div ${vv}L) " +
          s"ELSE (1000000 * proj) div ${vv}L END").as("c_ppm"))
  }

  /** emb6's target dimensionality. */
  private[graft] val RP_OUT_DIMS = 16

  /** emb6 — Johnson–Lindenstrauss random projection 64 → 16 with a
    * fixed ±1 sign matrix (Achlioptas 2003: Rademacher entries
    * preserve pairwise distances in expectation like Gaussian ones,
    * and stay EXACT in integer arithmetic): the dimensionality-
    * reduction pre-pass a billion-vector ANN deployment runs before
    * indexing — s2/s3/s5 index cost all scale with dims, and a 4×
    * reduction is a 4× cheaper index at a bounded distortion.
    *
    * Determinism: signs derive from the engine's md5Long family
    * (`rp:i:j`, even → +1) — the s2 hyperplane discipline, identical
    * in the oracle's SQL md5; coordinates quantize to integer
    * thousandths BEFORE the signed sum (emb1/km1 trick), so every
    * projection cell is an exact, order-independent long.
    *
    * Plan at 100 TB: posexplode to (vec, dim, q), broadcast-join the
    * 1024-row literal sign matrix, ONE (vec, j) partial+final agg —
    * map-side combine collapses each task's rows to 16 per vector;
    * no vector ever crosses an exchange un-reduced. */
  private def emb6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val signs = (for {
      i <- 1 to DIMS
      j <- 0 until RP_OUT_DIMS
    } yield (i.toLong, j.toLong,
      if (md5LongLocal(s"rp:$i:$j") % 2L == 0L) 1L else -1L))
      .toDF("dim", "j", "sign")
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        expr("CAST(floor(x * 1000 + 0.5) AS BIGINT)").as("q"))
      .join(broadcast(signs), Seq("dim"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("sign") * col("q")).as("proj_q"))
  }

  /** cls5 — Rocchio nearest-centroid classifier (the classic
    * prototype method; Manning IR ch. 14) over the embedding corpus,
    * reported as its confusion matrix: each vector assigned to the
    * label whose centroid is L2-nearest. The cheap linear-time
    * complement to cls3's kNN (one centroid pass + one scan vs a
    * query×corpus score) and the geometric sibling of cls1's NB.
    *
    * Exactness: coordinates quantize to integer thousandths, the
    * per-(label, dim) sums are exact longs, and the centroid itself
    * is integer-div quantized with TRUNCATE-toward-zero semantics on
    * both sides (JVM Long `/` == DuckDB `//`, measured: -7 // 4 = -1
    * there — negative-safe), so distances are exact longs and the
    * argmin (ties → smallest label, the kmAssign convention) is
    * bit-deterministic.
    *
    * Plan at 100 TB: the centroid agg partial-aggregates map-side to
    * ≤|labels|·64 rows per task (vectors never shuffle); the fetch is
    * the bounded km1-style model collect; assignment inlines the
    * centroids as literals and runs at scan speed — the only other
    * exchange is the ≤|labels|²-key confusion agg. */
  private def cls5(s: SparkSession, d: String): DataFrame =
    rocchioAssign(s, d)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_vecs"))

  /** THE per-vector Rocchio assignment (vec_id, label, pred) — cls5
    * takes it into a confusion matrix, al2 reads it as one committee
    * member (the nbDocScores one-definition rule). */
  private def rocchioAssign(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"))
          .as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (lbl, rows) =>
        // plain Long division TRUNCATES toward zero == DuckDB's `//`
        // (measured: -7 // 4 = -1 there — NOT floor; Math.floorDiv
        // would give -2 and diverge on negative coordinate sums)
        lbl -> rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2) / r.getLong(3)).toSeq
      }.toSeq.sortBy(_._1)
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q"))
    val ds = cents.map { case (_, cs) =>
      val arr = cs.mkString("array(", ", ", ")")
      expr(s"aggregate(zip_with(q, $arr, (a, b) -> (a - b) * (a - b)), " +
        "0L, (acc, x) -> acc + x)")
    }
    val m = least(ds: _*)
    val pairs = cents.map(_._1).zip(ds)
    val pred = pairs.tail
      .foldLeft(when(pairs.head._2 === m, lit(pairs.head._1))) {
        case (acc, (lbl, dc)) => acc.when(dc === m, lit(lbl))
      }
      .otherwise(lit(pairs.last._1)) // unreachable; keeps pred non-null
    q.select(col("vec_id"), col("label"), pred.as("pred"))
  }

  /** al2 — query-by-committee disagreement census: the two
    * registered embedding classifiers (cls3's 5-NN on the held-out
    * query slice, cls5's Rocchio centroids) vote on the same
    * vectors, and each (knn_pred, rocchio_pred) cell reports its
    * size and BOTH members' correct counts. This is the committee
    * upgrade of al1's margin queue (Seung–Opper–Sompolinsky QBC):
    * al1 asks one model how unsure it is; this asks two structurally
    * different models where they CONTRADICT. The census REPORTS the
    * committee premise rather than assuming it — and on the gate
    * corpus the premise measurably FAILS for kNN (agreement cells
    * are no more accurate than disagreement cells on a 40-query
    * slice of synthetic embeddings), which is precisely what one
    * wants to know before spending a labeling budget on the
    * disagreement queue.
    *
    * Scale shape: cls3's constant-query-slice broadcast shape +
    * cls5's literal-centroid scan, joined on the ≤|Q| query ids and
    * collapsed to a ≤|labels|² census. Nothing beyond the members'
    * own cost plus a rankings-sized join. */
  private def al2(s: SparkSession, d: String): DataFrame =
    cls3(s, d)
      .select(col("qid").as("vec_id"), col("true_label"),
        col("pred_label").as("knn_pred"))
      .join(rocchioAssign(s, d)
        .select(col("vec_id"), col("pred").cast("int").as("rocchio_pred")),
        Seq("vec_id"))
      .groupBy(col("knn_pred"), col("rocchio_pred"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("true_label") === col("knn_pred"), 1L)
          .otherwise(0L)).as("knn_correct"),
        sum(when(col("true_label") === col("rocchio_pred"), 1L)
          .otherwise(0L)).as("rocchio_correct"))
      .select(col("knn_pred"), col("rocchio_pred"),
        (col("knn_pred") === col("rocchio_pred")).as("agree"),
        col("n_vecs"), col("knn_correct"), col("rocchio_correct"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "al2_committee" -> (al2 _),
    "cls5_rocchio" -> (cls5 _),
    "emb6_rand_proj" -> (emb6 _),
    "emb5_detop" -> (emb5 _),
    "emb4_top_direction" -> (emb4 _),
    "mmr1_diverse_topk" -> (mmr1 _),
    "emb3_standardize" -> (emb3 _),
    "emb2_gram" -> (emb2 _),
    "cls3_knn_classify" -> (cls3 _),
    "s6_ann_recall" -> (s6 _),
    "emb1_dim_stats" -> (emb1 _),
    "s1_ann_brute" -> (s1 _),
    "s2_ann_lsh" -> (s2 _),
    "s3_ann_ivf" -> (s3 _),
    "s4_knn_join" -> (s4 _),
    "s5_ann_pq" -> (s5 _),
    "s7_ann_sq" -> (s7 _),
    "s8_ann_ivfpq" -> (s8 _),
    "emb7_sq_error_curve" -> (emb7 _),
    "km1_kmeans" -> (km1 _),
    "lr1_logreg" -> (lr1 _)
  )

  /** DuckDB mirror of the plane constants + dot/sign logic. */
  private val PLANES_SQL =
    """SELECT p.p AS p, list_transform(generate_series(0,63), d ->
      |  (((('0x' || substr(md5(p.p::VARCHAR || ':' || d::VARCHAR),1,15))::BIGINT % 2000) - 1000) / 1000.0)) AS coef
      |FROM generate_series(0,5) p(p)""".stripMargin

  private val EMB_SQL =
    """SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |FROM embeddings""".stripMargin

  private val BUCKET_SQL =
    """SELECT e.vec_id, e.emb, e.nrm,
      |  sum(CASE WHEN floor(list_sum(list_transform(generate_series(1,64),
      |        k -> e.emb[k] * pl.coef[k]))*1000000000 + 0.5)/1000000000 >= 0
      |      THEN CAST(pow(2, pl.p) AS BIGINT) ELSE 0 END)::BIGINT AS bucket
      |FROM e, pl GROUP BY e.vec_id, e.emb, e.nrm""".stripMargin

  /** One oracle Lloyd round: assignment of every vector to its
    * nearest centroid in `cents` (same expanded distance, round-9,
    * (dd, cid) argmin as the engine) as CTE `a$i`. */
  private def kmAssignSql(i: Int, cents: String): String = s"""
      a${i}x AS (SELECT e.vec_id, e.emb, c.cid,
               floor((c.cn2
                 - 2*list_sum(list_transform(generate_series(1,64),
                     k -> e.emb[k]*c.cemb[k]))
                 + list_sum(list_transform(generate_series(1,64),
                     k -> e.emb[k]*e.emb[k])))*1000000000 + 0.5)
                 /1000000000 AS dd
             FROM e, $cents c),
      a$i AS (SELECT vec_id, emb, cid AS cell, dd FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY dd, cid) AS rn FROM a${i}x) WHERE rn = 1)"""

  /** One oracle centroid update from assignment `a$i`: exact
    * integer-quantized per-(cell, dim) sums, floor-6 average, cn2 via
    * the same sequential list_sum fold the engine's driver loop runs. */
  private def kmUpdateSql(i: Int): String = s"""
      u$i AS (SELECT cell, dm.dim,
               floor(sum(CAST(floor(emb[dm.dim]*1000 + 0.5) AS BIGINT))
                 / (1000.0*count(*)) * 1000000 + 0.5)/1000000 AS c
             FROM a$i, generate_series(1,64) dm(dim) GROUP BY cell, dm.dim),
      c$i AS (SELECT cid, cemb,
               list_sum(list_transform(cemb, v -> v*v)) AS cn2 FROM (
               SELECT cell AS cid, list(c ORDER BY dim) AS cemb
               FROM u$i GROUP BY cell))"""

  /** Oracle hard-sigmoid scoring under weight table w$prev: the bias
    * row (dim 0) plus the dim-ordered coefficient list, dotted with
    * the same sequential list_sum fold dotNative runs. */
  private def lrAssignSql(i: Int, prev: Int): String = s"""
      bl$prev AS (SELECT w AS b FROM w$prev WHERE dim = 0),
      wl$prev AS (SELECT list(w ORDER BY dim) AS wl FROM w$prev WHERE dim >= 1),
      p$i AS (SELECT e.vec_id, e.emb, e.y,
               least(greatest(0.25*(bl$prev.b
                 + list_sum(list_transform(generate_series(1,$LR_DIMS),
                     k -> e.emb[k]*wl$prev.wl[k]))) + 0.5, 0.0), 1.0) AS p
             FROM e, bl$prev, wl$prev)"""

  /** Oracle GD step from scoring p$i: exact integer-quantized per-dim
    * gradient sums (dim 0 = bias, x ≡ 1), then the engine's exact
    * update expression floor6(w − rate·(Σq/(1e6·n))). */
  private def lrUpdateSql(i: Int, prev: Int): String = s"""
      g$i AS (SELECT dm.dim,
               sum(CAST(floor(((p.p - p.y) * (CASE WHEN dm.dim = 0
                     THEN CAST(1.0 AS DOUBLE) ELSE p.emb[dm.dim] END))
                   * 1000000.0 + 0.5) AS BIGINT)) AS sq,
               count(*) AS n
             FROM p$i p, generate_series(0,$LR_DIMS) dm(dim) GROUP BY dm.dim),
      w$i AS (SELECT g.dim,
               floor((w.w - $LR_RATE*(g.sq/(1000000.0*g.n)))*1000000 + 0.5)
                 /1000000 AS w
             FROM g$i g JOIN w$prev w ON g.dim = w.dim)"""

  /** One unrolled greedy MMR round for the mmr1 oracle: max-sim of
    * every unselected candidate to the selected set, re-rounded
    * score, (score desc, nid) argmax — appended to sel${r-1}. */
  private def mmrRoundSql(r: Int): String = s"""ms$r AS (
        SELECT p.qid, p.a_nid AS nid,
          CAST(max(CAST(floor(p.sim * 1000000 + 0.5) AS BIGINT))
            AS BIGINT) AS ms_ppm
        FROM ps p JOIN sel${r - 1} s ON p.qid = s.qid AND p.b_nid = s.nid
        GROUP BY 1, 2),
      sc$r AS (
        SELECT c.qid, c.nid,
          7 * CAST(floor(c.rel * 1000000 + 0.5) AS BIGINT) - 3 * m.ms_ppm
            AS score
        FROM cand c JOIN ms$r m ON c.qid = m.qid AND c.nid = m.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
          WHERE s.qid = c.qid AND s.nid = c.nid)),
      pk$r AS (
        SELECT qid, nid, CAST($r AS BIGINT) AS pick_order,
          CAST(score AS BIGINT) AS score FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, nid) AS rn FROM sc$r)
        WHERE rn = 1),
      sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)"""

  /** One unrolled integer power-iteration round for the emb4 oracle:
    * matvec over the shifted Gram, then renormalize to ≤10⁶ by
    * sign-split integer division (truncation stated structurally —
    * measured r10, DuckDB's `//` truncates toward zero natively
    * too, so the split is belt-and-braces, not load-bearing). */
  private def emb4RoundSql(k: Int): String = s"""w$k AS MATERIALIZED (
        SELECT f.di AS dim, CAST(sum(f.g2 * v.v) AS BIGINT) AS w
        FROM f JOIN v${k - 1} v ON f.dj = v.dim GROUP BY 1),
      m$k AS (SELECT CAST(max(abs(w)) AS BIGINT) // 1000000 + 1 AS dw
              FROM w$k),
      v$k AS MATERIALIZED (SELECT dim,
                CASE WHEN w < 0 THEN -((-w) // dw) ELSE w // dw END AS v
              FROM w$k, m$k)"""

  /** The emb4 power-iteration CTE chain (quantize → Gram → shift →
    * all rounds), factored out because emb5 restates it to fetch the
    * direction — one source of truth; `v$EMB4_ROUNDS` is the final
    * iterate relation. */
  private def emb4ChainSql: String = s"""q AS (SELECT list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS q
             FROM embeddings),
      ri AS (SELECT q, unnest(generate_series(1, 64)) AS i FROM q),
      rij AS (SELECT q, i, unnest(generate_series(1, 64)) AS j FROM ri),
      f0 AS (SELECT CAST(i AS BIGINT) AS di, CAST(j AS BIGINT) AS dj,
               CAST(sum(q[i] * q[j]) AS BIGINT) AS g
             FROM rij GROUP BY 1, 2),
      mg AS (SELECT CAST(max(abs(g)) AS BIGINT) // 1000000000 + 1 AS dg
             FROM f0),
      f AS MATERIALIZED (SELECT di, dj,
              CASE WHEN g < 0 THEN -((-g) // dg) ELSE g // dg END AS g2
            FROM f0, mg),
      v0 AS (SELECT CAST(i AS BIGINT) AS dim, CAST(1000000 AS BIGINT) AS v
             FROM generate_series(1, 64) t(i)),
      ${(1 to EMB4_ROUNDS).map(emb4RoundSql).mkString(",\n      ")}"""

  /** cls3's oracle, factored out because al2's committee embeds it
    * verbatim (the QR1_SQL one-source-of-truth rule). */
  private val CLS3_SQL = s"""
      WITH e AS (SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               sqrt(list_sum(list_transform(embedding,
                 x -> x::DOUBLE * x::DOUBLE))) AS nrm
             FROM embeddings),
      sc AS (SELECT q.vec_id AS qid, q.label AS true_label,
               c.label AS nlabel, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM e q JOIN e c
               ON q.vec_id < $CLS3_Q AND c.vec_id >= $CLS3_Q),
      r AS (SELECT qid, true_label, nlabel, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
                AS rank FROM sc),
      v AS (SELECT qid, true_label, nlabel, count(*) AS votes
            FROM r WHERE rank <= $CLS3_K GROUP BY 1, 2, 3),
      p AS (SELECT qid, true_label, nlabel, votes,
              row_number() OVER (PARTITION BY qid
                ORDER BY votes DESC, nlabel) AS vr FROM v)
      SELECT qid, CAST(true_label AS INT) AS true_label,
        CAST(nlabel AS INT) AS pred_label, votes
      FROM p WHERE vr = 1"""

  /** The per-vector Rocchio assignment oracle — cls5's confusion and
    * al2's committee both restate it (mirrors [[rocchioAssign]]). */
  private val ROCCHIO_ASSIGN_SQL = s"""
      WITH e AS (SELECT CAST(label AS BIGINT) AS label, dm.dim AS dim,
               CAST(floor(embedding[dm.dim]::DOUBLE * 1000 + 0.5) AS BIGINT)
                 AS qv
             FROM embeddings, generate_series(1, $DIMS) dm(dim)),
      c AS (SELECT label AS clabel, dim,
              CAST(sum(qv) AS BIGINT) // CAST(count(*) AS BIGINT) AS cq
            FROM e GROUP BY 1, 2),
      q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS q
            FROM embeddings),
      d AS (SELECT q.vec_id, q.label, c.clabel,
              CAST(sum((q.q[c.dim] - c.cq) * (q.q[c.dim] - c.cq))
                AS BIGINT) AS dist2
            FROM q CROSS JOIN c GROUP BY 1, 2, 3),
      r AS (SELECT vec_id, label, clabel,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2, clabel) AS rn
            FROM d)
      SELECT vec_id, label, clabel AS pred FROM r WHERE rn = 1"""

  private val baseOracles: Map[String, String] = Map(
    // full-square restatement of emb2's exact Gram, the same data-
    // derived power-of-ten shift, and all 32 integer rounds unrolled
    "emb4_top_direction" -> s"""
      WITH $emb4ChainSql
      SELECT dim, CAST(v AS BIGINT) AS v_ppm FROM v$EMB4_ROUNDS""",
    // the same chain re-stated; the projection joins each quantized
    // vector against the 64-row final iterate, and the coefficient
    // applies the same sign-split division
    "emb5_detop" -> s"""
      WITH $emb4ChainSql,
      qe AS (SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS q
             FROM embeddings),
      pr AS (SELECT qe.vec_id,
               CAST(sum(qe.q[v.dim] * v.v) AS BIGINT) AS proj
             FROM qe, v$EMB4_ROUNDS v GROUP BY 1),
      nv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv
             FROM v$EMB4_ROUNDS)
      SELECT vec_id, proj,
        CASE WHEN proj < 0 THEN -((-(1000000 * proj)) // vv)
             ELSE (1000000 * proj) // vv END AS c_ppm
      FROM pr, nv""",
    // the greedy MMR trajectory replayed as unrolled CTE rounds (the
    // km1 Lloyd-round technique): same rounded cosines, same
    // re-rounded scores, same (score desc, nid) argmax each round
    "mmr1_diverse_topk" -> s"""
      WITH e AS ($EMB_SQL),
      sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)
                 * 1000000 + 0.5)/1000000 AS cos
             FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      rk AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, nid) AS rank FROM sc),
      cand AS (SELECT qid, nid, cos AS rel FROM rk WHERE rank <= $MMR_CAND),
      ps AS (SELECT a.qid, a.nid AS a_nid, b.nid AS b_nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> ea.emb[k] * eb.emb[k])) / (ea.nrm * eb.nrm)
                 * 1000000 + 0.5)/1000000 AS sim
             FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid
               JOIN e ea ON ea.vec_id = a.nid
               JOIN e eb ON eb.vec_id = b.nid),
      sel1 AS (SELECT qid, nid, CAST(1 AS BIGINT) AS pick_order,
                 7 * CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS score
               FROM rk WHERE rank = 1),
      ${(2 to MMR_K).map(mmrRoundSql).mkString(",\n      ")}
      SELECT qid, nid, pick_order, score FROM sel$MMR_K""",
    // same integer-thousandths stats, same guarded z, same integer-
    // millionths quantization before the norm sum, same packed-long
    // argmax — every aggregate is order-independent long arithmetic
    "emb3_standardize" -> """
      WITH q AS (SELECT vec_id, k AS dim, embedding[k]::DOUBLE AS x,
               CAST(floor(embedding[k]::DOUBLE * 1000 + 0.5) AS BIGINT) AS qv
             FROM embeddings, generate_series(1, 64) g(k)),
      st AS (SELECT dim, count(*) AS n, CAST(sum(qv) AS BIGINT) AS sq,
               CAST(sum(qv*qv) AS BIGINT) AS sqq
             FROM q GROUP BY 1),
      sd AS (SELECT dim, sq::DOUBLE / (n * 1000.0) AS mean,
               sqrt(greatest(sqq::DOUBLE / (n::DOUBLE * 1000000.0)
                 - (sq::DOUBLE / (n * 1000.0)) * (sq::DOUBLE / (n * 1000.0)),
                 0.0)) AS std
             FROM st),
      z AS (SELECT q.vec_id, q.dim,
              CAST(floor(CASE WHEN std > 0.0
                THEN (qv / 1000.0 - mean) / std ELSE 0.0 END
                * 1000000 + 0.5) AS BIGINT) AS zq
            FROM q JOIN sd USING (dim)),
      a AS (SELECT vec_id, CAST(sum(zq*zq) AS BIGINT) AS s2,
              CAST(max(abs(zq) * 100 + (64 - dim)) AS BIGINT) AS top_key
            FROM z GROUP BY 1)
      SELECT vec_id, floor(sqrt(s2::DOUBLE / 1e12)*10000 + 0.5)/10000 AS znorm,
        64 - top_key % 100 AS top_dim
      FROM a""",
    // quantize-then-multiply (the emb1/km1 trick): every Gram cell is
    // an exact long sum, so the full-square unnest + j>=i filter here
    // equals the engine's slice-bounded triangle bit-for-bit
    "emb2_gram" -> """
      WITH q AS (SELECT list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS q
             FROM embeddings),
      ri AS (SELECT q, unnest(generate_series(1, 64)) AS i FROM q),
      rij AS (SELECT q, i, unnest(generate_series(1, 64)) AS j FROM ri)
      SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
        count(*) AS n, CAST(sum(q[i] * q[j]) AS BIGINT) AS g
      FROM rij WHERE j >= i GROUP BY 1, 2""",
    // same cosine/rank conventions as s1 (rounded cos, (cos desc,
    // nid) tiebreak), then the vote window with the deterministic
    // (votes desc, label) tiebreak
    "cls3_knn_classify" -> CLS3_SQL,
    // both committee members' oracle SQL embedded verbatim (the
    // qr5/qr3 composition rule), joined on the held-out query ids
    "al2_committee" -> s"""
      WITH k AS ($CLS3_SQL),
      ra AS ($ROCCHIO_ASSIGN_SQL)
      SELECT k.pred_label AS knn_pred,
        CAST(ra.pred AS INT) AS rocchio_pred,
        k.pred_label = CAST(ra.pred AS INT) AS agree,
        count(*) AS n_vecs,
        CAST(sum(CASE WHEN k.true_label = k.pred_label
          THEN 1 ELSE 0 END) AS BIGINT) AS knn_correct,
        CAST(sum(CASE WHEN k.true_label = CAST(ra.pred AS INT)
          THEN 1 ELSE 0 END) AS BIGINT) AS rocchio_correct
      FROM k JOIN ra ON k.qid = ra.vec_id
      GROUP BY 1, 2, 3""",
    // 2 GD rounds of the hard-sigmoid logistic trainer from the
    // all-zero model, then the final corpus scoring — every
    // arithmetic step mirrors the engine's exactly (sequential-fold
    // dot, clamp link, quantized-long gradient sums, floor-6 update).
    "lr1_logreg" -> s"""
      WITH e AS (SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               CAST(CASE WHEN label < 5 THEN 1 ELSE 0 END AS DOUBLE) AS y
             FROM embeddings),
      w0 AS (SELECT dim, CAST(0.0 AS DOUBLE) AS w
             FROM generate_series(0,$LR_DIMS) t(dim)),
      ${lrAssignSql(1, 0)},
      ${lrUpdateSql(1, 0)},
      ${lrAssignSql(2, 1)},
      ${lrUpdateSql(2, 1)},
      ${lrAssignSql(3, 2)}
      SELECT vec_id, floor(p*1000000 + 0.5)/1000000 AS p,
        CASE WHEN floor(p*1000000 + 0.5)/1000000 >= 0.5 THEN 1 ELSE 0 END AS yhat,
        CAST(y AS INT) AS y
      FROM p3""",
    // 2 Lloyd rounds from the 4 lowest-id vectors, then the final
    // assignment — every arithmetic step mirrors the engine's exactly
    // (expanded distance, round-9 argmin, quantized-long averaging).
    "km1_kmeans" -> s"""
      WITH e AS (SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb
             FROM embeddings),
      c0 AS (SELECT vec_id AS cid, emb AS cemb,
               list_sum(list_transform(generate_series(1,64),
                 k -> emb[k]*emb[k])) AS cn2
             FROM e WHERE vec_id < $KM_K),
      ${kmAssignSql(1, "c0")},
      ${kmUpdateSql(1)},
      ${kmAssignSql(2, "c1")},
      ${kmUpdateSql(2)},
      ${kmAssignSql(3, "c2")}
      SELECT vec_id, CAST(cell AS INT) AS cell,
        floor(dd*1000000 + 0.5)/1000000 AS dist2 FROM a3""",
    // quantize-then-sum (the km1 trick) makes Σq/Σq² exact longs; the
    // mean/std expressions mirror the engine's float op order exactly
    // same integer-thousandths quantization, floor-div centroids, and
    // (dist2, label) argmin tie order
    "cls5_rocchio" -> s"""
      WITH ra AS ($ROCCHIO_ASSIGN_SQL)
      SELECT label, pred, count(*) AS n_vecs
      FROM ra GROUP BY 1, 2""",
    // same md5-even sign matrix, same integer-thousandths quantization
    "emb6_rand_proj" -> s"""
      WITH sg AS (SELECT i.i AS dim, j.j AS j,
               CASE WHEN ('0x' || substr(md5('rp:' || i.i::VARCHAR || ':'
                   || j.j::VARCHAR), 1, 15))::BIGINT % 2 = 0
                 THEN 1 ELSE -1 END AS sign
             FROM generate_series(1, $DIMS) i(i),
                  generate_series(0, ${RP_OUT_DIMS - 1}) j(j)),
      q AS (SELECT vec_id, dm.dim AS dim,
              CAST(floor(embedding[dm.dim]::DOUBLE * 1000 + 0.5) AS BIGINT)
                AS q
            FROM embeddings, generate_series(1, $DIMS) dm(dim))
      SELECT q.vec_id, CAST(sg.j AS BIGINT) AS j,
        CAST(sum(sg.sign * q.q) AS BIGINT) AS proj_q
      FROM q JOIN sg USING (dim) GROUP BY 1, 2""",
    "emb1_dim_stats" -> """
      WITH p AS (SELECT dm.dim AS dim,
               embedding[dm.dim]::DOUBLE AS x,
               CAST(floor(embedding[dm.dim]::DOUBLE * 1000 + 0.5) AS BIGINT) AS q
             FROM embeddings, generate_series(1, 64) dm(dim)),
      a AS (SELECT dim, count(*) AS n,
              CAST(sum(q) AS BIGINT) AS sq,
              CAST(sum(q * q) AS BIGINT) AS sqq,
              floor(min(x)*1000000 + 0.5)/1000000 AS min_x,
              floor(max(x)*1000000 + 0.5)/1000000 AS max_x
            FROM p GROUP BY dim)
      SELECT CAST(dim AS BIGINT) AS dim, n,
        floor((CAST(sq AS DOUBLE) / (n * 1000.0))*1000000 + 0.5)/1000000
          AS mean,
        floor(sqrt(greatest(
          CAST(sqq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) -
            (CAST(sq AS DOUBLE) / (n * 1000.0)) *
            (CAST(sq AS DOUBLE) / (n * 1000.0)), 0.0))*1000000 + 0.5)/1000000
          AS std,
        min_x, max_x
      FROM a""",
    "s1_ann_brute" -> s"""
      WITH e AS ($EMB_SQL),
      sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= $K""",
    "s2_ann_lsh" -> s"""
      WITH pl AS ($PLANES_SQL),
      e AS ($EMB_SQL),
      b AS ($BUCKET_SQL),
      sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM b q JOIN b c ON q.vec_id < 10 AND q.bucket = c.bucket
               AND c.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3""",
    "s4_knn_join" -> s"""
      WITH pl AS ($PLANES_SQL),
      e AS ($EMB_SQL),
      b AS ($BUCKET_SQL),
      sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM b q JOIN b c ON q.bucket = c.bucket
               AND c.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3""",
    // PQ mirror: codebooks from the 16 lowest-id vectors, encode =
    // argmin of the same expanded score (|c|² − 2·x·c, round 9), ADC =
    // m-ordered sum of the 8 table lookups (list(d ORDER BY m) pins the
    // FP addition order to the engine's left-to-right fold), exact
    // cosine re-rank on the top-10 shortlist.
    "s5_ann_pq" -> s"""
      WITH e AS ($EMB_SQL),
      cb AS (SELECT m.m AS m, c.vec_id AS cid,
               list_transform(generate_series(1,8), k -> c.emb[m.m*8+k]) AS cent,
               list_sum(list_transform(generate_series(1,8),
                 k -> c.emb[m.m*8+k] * c.emb[m.m*8+k])) AS cn2
             FROM generate_series(0,7) m(m), e c WHERE c.vec_id < 16),
      enc0 AS (SELECT e.vec_id, cb.m, cb.cid,
                 floor((cb.cn2 - 2*list_sum(list_transform(generate_series(1,8),
                   k -> e.emb[cb.m*8+k] * cb.cent[k])))*1000000000 + 0.5)
                   /1000000000 AS d
               FROM e, cb),
      enc AS (SELECT vec_id, m, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY d, cid) AS rn FROM enc0) WHERE rn = 1),
      dt AS (SELECT q.vec_id AS qid, cb.m, cb.cid,
               floor((cb.cn2 - 2*list_sum(list_transform(generate_series(1,8),
                 k -> q.emb[cb.m*8+k] * cb.cent[k])))*1000000000 + 0.5)
                 /1000000000 AS d
             FROM e q, cb WHERE q.vec_id < 10),
      adc AS (SELECT dt.qid, enc.vec_id AS nid,
                floor(list_sum(list(dt.d ORDER BY dt.m))*1000000 + 0.5)
                  /1000000 AS adc
              FROM enc JOIN dt ON enc.m = dt.m AND enc.code = dt.cid
              WHERE enc.vec_id <> dt.qid
              GROUP BY dt.qid, enc.vec_id),
      short AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY adc, nid) AS rn FROM adc) WHERE rn <= 10),
      sc AS (SELECT s.qid, s.nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)
                 /1000000 AS cos
             FROM short s JOIN e q ON q.vec_id = s.qid
               JOIN e c ON c.vec_id = s.nid),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3""",
    "s3_ann_ivf" -> s3OracleSql(2),
    // IVF-PQ mirror: s3's assignment CTEs (coarse cells, probed
    // cells) composed with s5's PQ CTEs (codebooks, encode, query
    // tables); ADC restricted to candidates sharing a probed cell,
    // top-10 shortlist, exact cosine re-rank — every CTE is verbatim
    // from the constituent oracles so the composition cannot drift.
    "s8_ann_ivfpq" -> s"""
      WITH e AS ($EMB_SQL),
      c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < 4),
      a0 AS (SELECT e.vec_id, c.cid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> e.emb[k] * c.cemb[k])) / (e.nrm * c.cnrm)*1000000 + 0.5)/1000000 AS ccos
             FROM e, c),
      ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY ccos DESC, cid) AS rn FROM a0),
      a AS (SELECT vec_id, cid AS cell FROM ar WHERE rn = 1),
      aq AS (SELECT vec_id AS qid, cid AS cell FROM ar
             WHERE vec_id < 10 AND rn <= $S3_NPROBE),
      cb AS (SELECT m.m AS m, c.vec_id AS cid,
               list_transform(generate_series(1,8), k -> c.emb[m.m*8+k]) AS cent,
               list_sum(list_transform(generate_series(1,8),
                 k -> c.emb[m.m*8+k] * c.emb[m.m*8+k])) AS cn2
             FROM generate_series(0,7) m(m), e c WHERE c.vec_id < 16),
      enc0 AS (SELECT e.vec_id, cb.m, cb.cid,
                 floor((cb.cn2 - 2*list_sum(list_transform(generate_series(1,8),
                   k -> e.emb[cb.m*8+k] * cb.cent[k])))*1000000000 + 0.5)
                   /1000000000 AS d
               FROM e, cb),
      enc AS (SELECT vec_id, m, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY d, cid) AS rn FROM enc0) WHERE rn = 1),
      dt AS (SELECT q.vec_id AS qid, cb.m, cb.cid,
               floor((cb.cn2 - 2*list_sum(list_transform(generate_series(1,8),
                 k -> q.emb[cb.m*8+k] * cb.cent[k])))*1000000000 + 0.5)
                 /1000000000 AS d
             FROM e q, cb WHERE q.vec_id < 10),
      cand AS (SELECT aq.qid, a.vec_id AS nid
               FROM aq JOIN a ON aq.cell = a.cell AND a.vec_id <> aq.qid),
      adc AS (SELECT dt.qid, enc.vec_id AS nid,
                floor(list_sum(list(dt.d ORDER BY dt.m))*1000000 + 0.5)
                  /1000000 AS adc
              FROM enc JOIN dt ON enc.m = dt.m AND enc.code = dt.cid
                JOIN cand ON cand.qid = dt.qid AND cand.nid = enc.vec_id
              GROUP BY dt.qid, enc.vec_id),
      short AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY adc, nid) AS rn FROM adc) WHERE rn <= $PQ_SHORTLIST),
      sc AS (SELECT s.qid, s.nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * c.emb[k])) / (q.nrm * c.nrm)*1000000 + 0.5)
                 /1000000 AS cos
             FROM short s JOIN e q ON q.vec_id = s.qid
               JOIN e c ON c.vec_id = s.nid),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3""",
    // the same [mn, mx] model and floor-form deq as s7's oracle, per
    // exact-literal level count; per-element error floor-quantized to
    // nano-units BEFORE summing, exactly the engine's expression tree
    "emb7_sq_error_curve" -> s"""
      WITH e0 AS (SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb
             FROM embeddings),
      mm AS (SELECT g.d AS d, min(emb[g.d]) AS mn, max(emb[g.d]) AS mx
             FROM e0, generate_series(1,64) g(d) GROUP BY 1),
      b(bits, lv) AS (VALUES ${EMB7_BITS.map(b =>
        s"($b, ${(1 << b) - 1}.0)").mkString(", ")}),
      err AS (SELECT b.bits, b.lv,
                floor(abs(e0.emb[g.d] -
                  CASE WHEN mm.mx = mm.mn THEN mm.mn
                       ELSE mm.mn + floor((e0.emb[g.d] - mm.mn) * b.lv
                         / (mm.mx - mm.mn) + 0.5) * (mm.mx - mm.mn) / b.lv
                  END) * 1e9 + 0.5)::BIGINT AS e9
              FROM e0, generate_series(1,64) g(d)
                JOIN mm ON mm.d = g.d, b)
      SELECT CAST(bits AS BIGINT) AS bits, CAST(lv AS BIGINT) AS levels,
        count(*) AS n_vals, CAST(sum(e9) AS BIGINT) AS sum_abs_err_e9,
        CAST(max(e9) AS BIGINT) AS max_abs_err_e9,
        CAST(sum(e9) AS BIGINT) // count(*) AS mean_abs_err_e9
      FROM err GROUP BY 1, 2""",
    // SQ mirror: per-dim corpus [mn, mx], the same pinned floor-form
    // quantize/dequantize, norms and dots over the rebuilt ORDERED
    // list (list(v ORDER BY d) pins FP addition order to the
    // engine's left-to-right fold), same (cos desc, nid) top-3
    "s7_ann_sq" -> s"""
      WITH e0 AS (SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb
             FROM embeddings),
      mm AS (SELECT g.d AS d, min(emb[g.d]) AS mn, max(emb[g.d]) AS mx
             FROM e0, generate_series(1,64) g(d) GROUP BY 1),
      dqv AS (SELECT e0.vec_id, g.d,
                CASE WHEN mm.mx = mm.mn THEN mm.mn
                     ELSE mm.mn + floor((e0.emb[g.d] - mm.mn) * 255.0
                       / (mm.mx - mm.mn) + 0.5) * (mm.mx - mm.mn) / 255.0
                END AS v
              FROM e0, generate_series(1,64) g(d)
                JOIN mm ON mm.d = g.d),
      q AS (SELECT vec_id, emb,
              sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
            FROM (SELECT vec_id, list(v ORDER BY d) AS emb
                  FROM dqv GROUP BY vec_id)),
      sc AS (SELECT a.vec_id AS qid, c.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> a.emb[k] * c.emb[k])) / (a.nrm * c.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM q a JOIN q c ON a.vec_id < 10 AND c.vec_id <> a.vec_id),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3"""
  )

  /** The s3 oracle parameterized by probe count — ONE definition so
    * the served np=2 oracle and s6's np=1 curve row cannot drift.
    * Corpus assignment keeps rn = 1 (a vector lives in one cell);
    * only the QUERY side widens to rn <= nprobe. */
  private def s3OracleSql(nprobe: Int): String = s"""
      WITH e AS ($EMB_SQL),
      c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < 4),
      a0 AS (SELECT e.vec_id, e.emb, e.nrm, c.cid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> e.emb[k] * c.cemb[k])) / (e.nrm * c.cnrm)*1000000 + 0.5)/1000000 AS ccos
             FROM e, c),
      ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY ccos DESC, cid) AS rn FROM a0),
      a AS (SELECT vec_id, emb, nrm, cid AS cell FROM ar WHERE rn = 1),
      aq AS (SELECT vec_id, emb, nrm, cid AS cell FROM ar
             WHERE vec_id < 10 AND rn <= $nprobe),
      sc AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
               floor(list_sum(list_transform(generate_series(1,64),
                 k -> q.emb[k] * x.emb[k])) / (q.nrm * x.nrm)*1000000 + 0.5)/1000000 AS cos
             FROM aq q JOIN a x ON q.cell = x.cell
               AND x.vec_id <> q.vec_id),
      r AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM sc)
      SELECT qid, nid, cos, rank FROM r WHERE rank <= 3"""

  /** The constituent rankings embedded verbatim as CTEs (the rrf1
    * rule), so the recall report can never drift from what s1/s2/s3/s5
    * actually serve. */
  val oracles: Map[String, String] = baseOracles +
    ("s6_ann_recall" -> s"""
      WITH ex0 AS (${baseOracles("s1_ann_brute")}),
      v2 AS (${baseOracles("s2_ann_lsh")}),
      v3 AS (${baseOracles("s3_ann_ivf")}),
      v3n1 AS (${s3OracleSql(1)}),
      v5 AS (${baseOracles("s5_ann_pq")}),
      v7 AS (${baseOracles("s7_ann_sq")}),
      v8 AS (${baseOracles("s8_ann_ivfpq")}),
      ex AS (SELECT qid, nid FROM ex0 WHERE rank <= 3),
      p AS (SELECT count(*) AS possible FROM ex)
      SELECT 's2_ann_lsh' AS variant, hits, possible,
        (1000000 * hits) // possible AS recall_ppm FROM
        (SELECT count(*) AS hits FROM v2 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p
      UNION ALL
      SELECT 's3_ann_ivf_np1', hits, possible, (1000000 * hits) // possible FROM
        (SELECT count(*) AS hits FROM v3n1 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p
      UNION ALL
      SELECT 's3_ann_ivf', hits, possible, (1000000 * hits) // possible FROM
        (SELECT count(*) AS hits FROM v3 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p
      UNION ALL
      SELECT 's5_ann_pq', hits, possible, (1000000 * hits) // possible FROM
        (SELECT count(*) AS hits FROM v5 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p
      UNION ALL
      SELECT 's7_ann_sq', hits, possible, (1000000 * hits) // possible FROM
        (SELECT count(*) AS hits FROM v7 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p
      UNION ALL
      SELECT 's8_ann_ivfpq', hits, possible, (1000000 * hits) // possible FROM
        (SELECT count(*) AS hits FROM v8 JOIN ex USING (qid, nid)
         WHERE rank <= 3), p""")
}
