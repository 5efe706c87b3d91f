package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Engine-internal column combinators shared by the operator modules.
  *
  * Everything here is deterministic and engine-portable: the same value
  * is computable in ANSI-ish SQL (DuckDB oracle) from the same inputs,
  * which is what makes MinHash/LSH/fingerprint operators hash-checkable
  * across engines. All combinators are Catalyst expressions (no UDFs),
  * so they stay inside whole-stage codegen where Spark supports it.
  */
object Fns {

  /** Deterministic 60-bit non-negative hash of a string, as a long:
    * first 15 hex digits of md5. Portable: DuckDB computes the identical
    * value as `('0x' || substr(md5(x),1,15))::BIGINT`. Used as the hash
    * family foundation for MinHash ("seed:value"), SimHash, LSH planes
    * and fingerprints.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Same, seeded: h_seed(x) = md5Long(seed || ':' || x). */
  def md5LongSeeded(seed: Column, c: Column): Column =
    md5Long(concat(seed.cast("string"), lit(":"), c.cast("string")))

  /** JVM-side md5Long — bit-identical to [[md5Long]] (the first 15 hex
    * digits are the first 60 bits: big-endian first 8 bytes >>> 4).
    * Used to precompute literal constants (LSH hyperplanes) and inside
    * typed kernels that hash millions of shingles per task.
    */
  private val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def md5LongLocal(s: String): Long = {
    // digest() resets the instance, so the thread-local is reusable;
    // getInstance per call costs ~1µs and dominates tight hash loops
    val d = mdLocal.get().digest(s.getBytes("UTF-8"))
    val hi =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    hi >>> 4
  }

  /** Sequential left-to-right dot product of two double arrays.
    * Accumulation order is pinned (foldLeft semantics of `aggregate`),
    * so the result is bit-identical to DuckDB's sequential
    * `list_sum(list_transform(...))` over the same doubles. No query
    * calls it: Spark evaluates higher-order functions interpreted, so
    * queries call [[dotNative]], and the specs check the kernel against
    * this reference.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** The `dot_product` kernel ([[Dot]], bound by
    * [[graft.GraftSparkExtensions]]): same sequential semantics as
    * [[dot]], one static call per row inside the whole-stage stage. */
  def dotNative(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** L2 norm via the native dot. */
  def l2Native(a: Column): Column = sqrt(dotNative(a, a))

  /** Jaro-Winkler similarity ([[JaroWinklerKernel]], the SQL
    * `jaro_winkler`) — bit-pinned to DuckDB's
    * `jaro_winkler_similarity` (see the kernel's contract). */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerKernel.expr(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  /** Fixed-point half-up rounding computed IDENTICALLY in any engine:
    * floor(x·10^d + 0.5) / 10^d.
    *
    * `round()` is not engine-portable on doubles: Spark expands the
    * exact decimal of the double (BigDecimal HALF_UP) while DuckDB
    * multiplies in floating point — within an ulp of a .5 boundary the
    * two disagree (observed at sf0.1: a grid-cell avg at 2 dp, token
    * ratios at 6 dp). This formula runs the same IEEE ops on both
    * engines, so wherever the input double is, the result is
    * bit-identical. DuckDB mirror: `floor(x*10^d + 0.5)/10^d`.
    * For positive finite inputs only (Spark's floor yields LONG, so a
    * NaN would become 0, not propagate — NaN-producing expressions keep
    * their explicit guards). */
  def roundFp(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * p + 0.5) / p
  }

  /** JVM-side mirror of the `lower(trim(text))` normalization the
    * content-fingerprint contract uses (d1/d10/pipe1 and their DuckDB
    * oracles): Spark's `trim` strips ASCII SPACE only (never \t/\n —
    * deliberately NOT java's String.trim), and `lower` takes
    * UTF8String's lowercase (plain case mapping on ASCII). Lives here
    * so the kernel fingerprint (buildSignatures) and the expression
    * form can never drift — equality is spec-pinned in FnsSpec. */
  def lowerTrimLocal(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    // lowercase through UTF8String, NOT String.toLowerCase: Spark's
    // lower() evaluates UTF8String.toLowerCase, and a JVM-default-
    // locale lowercase would drift on tr_TR-style boxes ('I' -> 'ı',
    // not 'i') — the kernel content fingerprint would silently
    // diverge from the lower(trim(text)) expression the oracles
    // replay (ADVICE r14; FnsSpec's equality pin only ran on
    // ROOT-like locales)
    org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(a, b))
      .toLowerCase.toString
  }

  /** Whitespace tokens of a text column. */
  def toks(text: Column): Column = split(text, " ")

  /** `'|'`-joined string form of an array column (elements cast to
    * string first — `array_join` itself requires `array<string>`).
    * DuckDB mirror: `array_to_string(list, '|')`. Used to serialize
    * array-valued RESULT columns for the driver's compare (its pandas
    * row sort cannot order ndarray cells); the operator still computes
    * the real array — only the final projection flattens it. The test
    * corpora contain no `'|'` anywhere (verified), so the join is
    * injective. */
  def strJoin(arr: Column): Column =
    array_join(transform(arr, _.cast("string")), "|")

  /** JVM-side distinct bigram shingles of a whitespace-tokenized text,
    * in first-occurrence order — the kernel-tier counterpart of
    * [[bigramShingles]] (interpreted higher-order expressions measured
    * ~10x slower on this dense inner loop; SCALE.md). ONE definition on
    * purpose: d2/d4/d6's kernels and the SHINGLES oracle SQL must stay
    * in lockstep, so the tokenizer lives here and nowhere else. */
  def bigramShinglesLocal(text: String): Seq[String] = {
    val t = text.split(" ", -1)
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i < t.length - 1) { seen.add(t(i) + " " + t(i + 1)); i += 1 }
    seen.toSeq
  }

  /** All consecutive bigrams, NON-distinct (corpus frequency counting
    * wants every occurrence; same tokenizer as
    * [[bigramShinglesLocal]]). */
  def bigramsLocal(text: String): Iterator[String] = {
    val t = text.split(" ", -1)
    (0 until t.length - 1).iterator.map(i => t(i) + " " + t(i + 1))
  }

  /** Distinct word n-gram shingles (n=2) of a token array, as strings.
    * The standard MinHash input unit: local-word-order-sensitive but
    * robust to global reordering.
    *
    * Guarded for <2 tokens: `sequence(1, 0)` is DESCENDING in Spark
    * (not empty) and ANSI `element_at` throws on index 0 — a
    * single-token doc would otherwise kill the job. The empty-array
    * branch matches DuckDB, whose `generate_series(1, 0)` IS empty.
    */
  def bigramShingles(tokens: Column): Column =
    when(size(tokens) >= 2,
      array_distinct(
        transform(
          sequence(lit(1), size(tokens) - 1),
          i => concat(element_at(tokens, i), lit(" "), element_at(tokens, i + 1)))))
      .otherwise(array().cast("array<string>"))

  /** Fused kernel form of `wordShinglesLocal(text, n).map(md5LongLocal)`
    * as a SET (r16): the md5 digests the shingle's exact UTF-8 bytes
    * (token bytes + single 0x20 separators — byte-identical to
    * digesting the concatenated string, since UTF-8 concatenation is
    * byte concatenation), token bytes are computed ONCE per token
    * instead of once per covering window, no intermediate String is
    * ever built, and the per-doc dedup runs on the 8-byte hash
    * instead of the string. The returned set equals
    * {md5LongLocal(s) | s ∈ wordShinglesLocal(text, n)} exactly —
    * hashing a deduped set and deduping the hashed multiset give the
    * same image — so every oracle written against the string form
    * stays byte-locked. Emission order is first occurrence BY HASH,
    * which only differs from the string form's order when a
    * within-doc collision occurs (2⁻⁶¹); no consumer is
    * order-sensitive. */
  def wordShingleHashesLocal(text: String, n: Int): Array[Long] = {
    val t = text.split(" ", -1)
    if (t.length < n) return Array.emptyLongArray
    val tb = new Array[Array[Byte]](t.length)
    var j = 0
    while (j < t.length) { tb(j) = t(j).getBytes("UTF-8"); j += 1 }
    val md = mdLocal.get()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    // one reusable buffer + ONE update call per shingle: per-byte /
    // per-fragment MessageDigest.update calls measurably lose to a
    // single contiguous update (each call pays the engine's internal
    // buffer bookkeeping)
    var buf = new Array[Byte](64)
    var i = 0
    while (i <= t.length - n) {
      var len = 0
      var k = 0
      while (k < n) {
        val b = tb(i + k)
        if (len + b.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, len + b.length + 1))
        System.arraycopy(b, 0, buf, len, b.length)
        len += b.length
        if (k < n - 1) { buf(len) = ' '.toByte; len += 1 }
        k += 1
      }
      md.update(buf, 0, len)
      val d = md.digest() // resets the thread-local instance
      val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      if (seen.add(h)) out += h
      i += 1
    }
    out.toArray
  }

  /** Distinct word n-gram shingles of a whitespace-tokenized text, in
    * first-occurrence order — the string form [[wordShingleHashesLocal]]
    * hashes, for spec replays. */
  def wordShinglesLocal(text: String, n: Int): Seq[String] = {
    val t = text.split(" ", -1)
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i <= t.length - n) {
      seen.add((i until i + n).map(t).mkString(" ")); i += 1
    }
    seen.toSeq
  }
}
