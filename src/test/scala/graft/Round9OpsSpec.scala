package graft

import org.apache.spark.sql.functions._
import graft.functions.JaroWinklerKernel

/** Semantic checks for the round-9 additions (Jaro-Winkler ER,
  * LM-familiarity bucketing, k-NN classification, triangle census,
  * retention cohorts) — properties and full plain-Scala replays the
  * DuckDB oracle can't state directly.
  */
class Round9OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  // ---- JaroWinkler kernel ----------------------------------------

  test("jaro_winkler kernel: classic fixtures bit-exact to DuckDB's " +
    "jaro_winkler_similarity (the oracle contract)") {
    // expected doubles are DuckDB's own outputs, captured verbatim
    val fixtures = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("CRATE", "TRACE", 0.7333333333333334), // boost gated: prefix 0
      ("arnab", "aranb", 0.9466666666666665),
      ("abcdefgh", "hgfedcba", 0.5),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0), // both-empty is 0, NOT 1 — the DuckDB quirk
      ("a", "b", 0.0))
    fixtures.foreach { case (a, b, want) =>
      val got = JaroWinklerKernel.similarity(a, b)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"jw($a, $b) = $got, want $want (bitwise)")
    }
  }

  test("jaro_winkler kernel: the 0.7 boost threshold gates the prefix " +
    "bonus — a long shared prefix alone earns nothing below it") {
    // jaro(abcdxxxxxx, abcdyyyyyy) = (0.4+0.4+1)/3 = 0.6 < 0.7:
    // an ungated impl would boost to 0.76
    val got = JaroWinklerKernel.similarity("abcdxxxxxx", "abcdyyyyyy")
    assert(got == 0.6, s"boost leaked below threshold: $got")
    // above the threshold the same 4-char prefix DOES boost: replay
    // jaro(abcdxy, abcdyx) = m=6, t=1 -> (1 + 1 + 5/6)/3, then
    // the capped prefix bonus
    val j = (6.0 / 6 + 6.0 / 6 + 5.0 / 6) / 3.0
    assert(JaroWinklerKernel.similarity("abcdxy", "abcdyx") ==
      j + 4 * 0.1 * (1.0 - j))
  }

  test("jaro_winkler kernel laws: symmetry, [0,1] range, 1.0 iff " +
    "identical non-empty, prefix cap at 4") {
    val rng = new scala.util.Random(9)
    val alpha = "abcde"
    def rs(n: Int) = Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
    for (_ <- 1 to 500) {
      val (a, b) = (rs(rng.nextInt(12)), rs(rng.nextInt(12)))
      val ab = JaroWinklerKernel.similarity(a, b)
      val ba = JaroWinklerKernel.similarity(b, a)
      assert(ab == ba, s"asymmetric on ($a, $b)")
      assert(ab >= 0.0 && ab <= 1.0, s"out of range on ($a, $b): $ab")
      if (a == b && a.nonEmpty) assert(ab == 1.0)
      if (ab == 1.0) assert(a == b && a.nonEmpty)
    }
    // prefix bonus caps at 4 even with a longer common prefix:
    // identical 10-char prefixes, differing tails
    val capped = JaroWinklerKernel.similarity("abcdefghijxx", "abcdefghijyy")
    val j = {
      // raw jaro of the pair, replayed: m=10, t=0, l=12
      (10.0 / 12 + 10.0 / 12 + 10.0 / 10) / 3.0
    }
    assert(capped == j + 4 * 0.1 * (1.0 - j), "prefix not capped at 4")
  }

  test("jaro_winkler expression: SQL-registered codegen path equals " +
    "the kernel on fixture name pairs, null-safe") {
    val names = Tables.part(spark, sf).select(col("p_name")).limit(50)
      .union(spark.range(1).select(lit(null).cast("string").as("p_name")))
    val pairs = names.select(col("p_name").as("a"))
      .crossJoin(names.select(col("p_name").as("b")))
    val (interpreted, generated) = onBothPaths(pairs
      .select(col("a"), col("b"),
        graft.functions.Fns.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().toSeq)
    for (got <- Seq(interpreted, generated)) {
      got.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) assert(r.isNullAt(2), s"$r: null input must be null")
        else {
          val want = JaroWinklerKernel.similarity(r.getString(0), r.getString(1))
          assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
            java.lang.Double.doubleToLongBits(want))
        }
      }
      assert(got.length == 51 * 51)
    }
    assert(interpreted.map(_.toString).sorted == generated.map(_.toString).sorted)
    val n = spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x') AS j")
      .collect()(0)
    assert(n.isNullAt(0), "null input must be null, not 0")
  }

  // ---- er2 --------------------------------------------------------

  test("er2: the banded Jaro-Winkler histogram equals a plain-Scala " +
    "record-pair replay (blocking, rounding, banding) on the fixture") {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val expected = parts.groupBy { case (_, n, sz) => (n.split(" ")(1), sz) }
      .toSeq.flatMap { case ((noun, _), xs) =>
        val sorted = xs.sortBy(_._1)
        for (i <- sorted.indices; j <- (i + 1) until sorted.length) yield {
          val jw = r6(JaroWinklerKernel.similarity(sorted(i)._2, sorted(j)._2))
          (noun, math.floor(jw * 10).toInt)
        }
      }
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val got = q("er2_jw_block").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    // band 10 is exactly the identical-name pairs (jw=1 iff equal)
    val sameName = parts.groupBy(x => (x._2, x._3)).values
      .map(v => v.size.toLong * (v.size - 1) / 2).sum
    val band10 = got.collect { case ((_, 10), n) => n }.sum
    assert(band10 == sameName)
  }

  // ---- ppl1 -------------------------------------------------------

  test("ppl1: familiarity + quartile buckets equal a plain-Scala " +
    "replay (corpus counts, exact percentile interpolation, [lo,hi) " +
    "bands) on the full fixture") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val vocab = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val fams = docs.map { case (id, text) =>
      val ts = text.split(" ", -1)
      val score = ts.map(vocab).sum
      id -> (ts.length.toLong, r6(score.toDouble / ts.length))
    }.toMap
    // Spark's exact percentile: rank = p*(n-1), lo + (hi-lo)*frac
    val sorted = fams.values.map(_._2).toSeq.sorted
    def pct(p: Double): Double = {
      val rank = p * (sorted.length - 1)
      val (lo, hi) = (sorted(rank.toInt), sorted(math.ceil(rank).toInt))
      r6(lo + (hi - lo) * (rank - rank.toInt))
    }
    val cuts = Seq(pct(0.25), pct(0.5), pct(0.75))
    val expected = fams.map { case (id, (n, fam)) =>
      id -> ((n, fam, cuts.count(_ <= fam)))
    }
    val got = q("ppl1_lm_bucket").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3))))
      .toMap
    assert(got === expected)
    // every quartile inhabited, and buckets ordered by familiarity
    val byBucket = got.values.groupBy(_._3)
    assert(byBucket.keySet == Set(0, 1, 2, 3))
    for (b <- 0 to 2)
      assert(byBucket(b).map(_._2).max <= byBucket(b + 1).map(_._2).min)
  }

  // ---- cls3 -------------------------------------------------------

  test("cls3: prediction equals a plain-Scala 5-NN majority-vote " +
    "replay (rounded cosine, rank and vote tiebreaks) for all 40 " +
    "held-out queries") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val prod = math.sqrt(na) * math.sqrt(nb)
      if (prod == 0.0) Double.NaN else r6(dot / prod)
    }
    val (qs, corpus) = embs.partition(_._1 < 40)
    val expected = qs.map { case (qid, tl, qe) =>
      val top = corpus
        .map { case (nid, nl, ne) => (nid, nl, cos(qe, ne)) }
        // SQL desc ranks NaN first (greatest); Scala's Double ordering
        // would sort -NaN last, so map it explicitly
        .sortBy { case (nid, _, c) =>
          (if (c.isNaN) Double.NegativeInfinity else -c, nid)
        }
        .take(5)
      val (pl, votes) = top.groupBy(_._2).map { case (l, v) => (l, v.size) }
        .toSeq.sortBy { case (l, v) => (-v, l) }.head
      qid -> ((tl, pl, votes.toLong))
    }.toMap
    val got = q("cls3_knn_classify").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    assert(got.size == 40)
    // structural invariants (the FIXTURE labels are not cosine-
    // clustered, so accuracy is not an invariant here — the operator
    // contract is the deterministic vote, which the replay just
    // proved): every vote count is 1..K and labels are in domain
    assert(got.values.forall { case (tl, pl, v) =>
      v >= 1 && v <= 5 && tl >= 0 && tl <= 9 && pl >= 0 && pl <= 9
    })
  }

  // ---- gr2 --------------------------------------------------------

  test("gr2: the triangle census equals a plain-Scala replay of the " +
    "co-purchase graph (nodes, edges, wedges, triangles, gcc)") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nNodes = adj.size.toLong
    val nEdges = edges.size.toLong
    val nWedges = adj.values.map { s =>
      s.size.toLong * (s.size - 1) / 2
    }.sum
    val nTri = edges.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b).toLong
    }.sum
    val gcc = r6(3.0 * nTri / nWedges)
    val r = q("gr2_triangles").collect()
    assert(r.length == 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getDouble(4)) ==
      ((nNodes, nEdges, nWedges, nTri, gcc)))
    assert(nTri > 0 && gcc > 0.0 && gcc <= 1.0)
  }

  test("gr2's kernel bloom probe replays Spark's xxhash64(a, b) " +
    "exactly (seed 42, per-long fold) — a drift here would be bloom " +
    "FALSE NEGATIVES, i.e. silently undercounted triangles") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val pairs = Seq((1L, 2L), (0L, 0L), (-5L, 7L),
      (Long.MinValue, Long.MaxValue), (123456789L, 987654321L))
    val viaSql = spark.createDataFrame(pairs).toDF("a", "b")
      .select(xxhash64(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    val viaKernel = pairs.map { case (a, b) =>
      XXH64.hashLong(b, XXH64.hashLong(a, 42L))
    }
    assert(viaKernel === viaSql)
  }

  // ---- w10 --------------------------------------------------------

  test("w10: the retention matrix equals a plain-Scala replay " +
    "(µs-day cohorts, distinct active offsets, day-0 ratio)") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1) / 86400000000L))
    val first = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val cells = ev.map { case (u, d) => (first(u), d - first(u), u) }
      .distinct.groupBy { case (c, o, _) => (c, o) }
      .map { case (k, vs) => k -> vs.size.toLong }
    val expected = cells.map { case ((c, o), n) =>
      (c, o) -> ((n, r6(n.toDouble / cells((c, 0L)))))
    }
    val got = q("w10_retention").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === expected)
    // day-0 is always 100% and retention never exceeds it
    assert(got.collect { case ((_, 0L), v) => v._2 }.forall(_ == 1.0))
    assert(got.values.forall(_._2 <= 1.0))
  }
}
