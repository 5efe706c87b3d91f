package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import Fns._

class FnsSpec extends SparkSpec {
  import spark.implicits._

  test("md5LongLocal is bit-identical to the md5Long expression (the " +
    "cross-engine hash identity: DuckDB computes the same value)") {
    // reference value cross-checked in DuckDB:
    //   SELECT ('0x' || substr(md5('hello'),1,15))::BIGINT -> 419982666956583591
    assert(md5LongLocal("hello") == 419982666956583591L)
    val inputs = Seq("", "a", "0:foo bar", "7:x y", "αβγ", "a;b,c")
    val viaExpr = inputs.toDF("v").select(md5Long(col("v"))).as[Long].collect().toSeq
    assert(viaExpr == inputs.map(md5LongLocal))
  }

  test("lowerTrimLocal is bit-identical to the lower(trim(text)) " +
    "expression — the content-fingerprint normalization d1/d10's " +
    "kernel fingerprint replays (space-only trim, never \\t/\\n)") {
    import org.apache.spark.sql.functions.{lower, trim}
    val inputs = Seq("", " ", "  Hello World  ", "MIXED case",
      "\ttab kept\t", " \n newline kept \n ", "ÀÉÎ Ünïcode", "a  b ",
      "I İ ı") // dotted/dotless I: locale-sensitive lowercase corner
    val viaExpr = inputs.toDF("v").select(lower(trim(col("v"))))
      .as[String].collect().toSeq
    assert(viaExpr == inputs.map(lowerTrimLocal))
    // and the composed fingerprint matches the expression form
    val fpExpr = inputs.toDF("v").select(md5Long(lower(trim(col("v")))))
      .as[Long].collect().toSeq
    assert(fpExpr == inputs.map(v => md5LongLocal(lowerTrimLocal(v))))
  }

  test("lowerTrimLocal agrees with UTF8String.toLowerCase under a " +
    "tr_TR default locale (ADVICE r14): Spark's lower() delegates to " +
    "UTF8String — which is itself JVM-default-locale sensitive on " +
    "the dotted-I family — so the kernel mirror must route through " +
    "the SAME code path, never String.toLowerCase(ROOT)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      for (v <- Seq("I", "TITLE I", "İstanbul MIX I", "  I  ")) {
        val viaUtf8 = org.apache.spark.unsafe.types.UTF8String
          .fromString(v.replaceAll("^ +| +$", "")).toLowerCase.toString
        assert(lowerTrimLocal(v) == viaUtf8,
          s"kernel mirror drifted from UTF8String on '$v' under tr_TR")
      }
      // the exact drift the old String.toLowerCase(ROOT) mirror had:
      // UTF8String's all-ASCII fast path is locale-blind ('I' -> 'i'
      // always), but a string CONTAINING non-ASCII takes the slow
      // path (String.toLowerCase under the DEFAULT locale), where
      // tr_TR maps ASCII 'I' to dotless 'ı' (U+0131) — a
      // ROOT-pinned mirror would return 'i' here and the fingerprint
      // would silently diverge from the expression
      assert(lowerTrimLocal("I") == "i") // fast path: locale-blind
      assert(lowerTrimLocal("İx I") == "İx I".toLowerCase) // slow path
      assert(lowerTrimLocal("İx I").last == 'ı')
    } finally java.util.Locale.setDefault(prev)
  }

  test("kernel tokenizers stay in lockstep with the expression tier " +
    "(bigramShinglesLocal == bigramShingles; bigramsLocal count law)") {
    val inputs = Seq("a b c a b", "x", "", "a  b", "data data data", "α β γ")
    val viaExpr = inputs.toDF("t")
      .select(bigramShingles(toks(col("t")))).as[Seq[String]].collect().toSeq
    assert(viaExpr == inputs.map(bigramShinglesLocal))
    // non-distinct bigrams: always max(0, n_tokens - 1) of them
    inputs.foreach { t =>
      assert(bigramsLocal(t).length == math.max(0, t.split(" ", -1).length - 1))
    }
  }

  test("wordShingleHashesLocal equals the string-form composition " +
    "wordShinglesLocal(_, n).map(md5LongLocal) — same SET for every " +
    "n, including unicode, repeated windows, empties-from-split and " +
    "sub-n docs (the fused kernel's byte-level md5 parity)") {
    val inputs = Seq("a b c a b", "x", "", "a  b", "data data data",
      "α β γ δ α β γ", "one two three four five", "a b a b a b a b")
    for (n <- 1 to 4; t <- inputs) {
      val fused = wordShingleHashesLocal(t, n)
      val viaStrings = wordShinglesLocal(t, n).map(md5LongLocal)
      assert(fused.toSet == viaStrings.toSet, s"n=$n text='$t'")
      // no within-doc dupes in the fused output
      assert(fused.length == fused.toSet.size, s"n=$n text='$t'")
      // and (collision-free on these inputs) same first-occurrence order
      assert(fused.toSeq == viaStrings, s"n=$n text='$t'")
    }
  }

  test("bigramShingles produces distinct local-order shingles") {
    val out = Seq("a b c a b").toDF("t")
      .select(bigramShingles(toks(col("t")))).as[Seq[String]].head()
    assert(out == Seq("a b", "b c", "c a"))
  }

  test("bigramShingles on a single-token doc is empty, not an ANSI crash") {
    val out = Seq("solo").toDF("t")
      .select(bigramShingles(toks(col("t")))).as[Seq[String]].head()
    assert(out == Seq.empty)
  }
}
