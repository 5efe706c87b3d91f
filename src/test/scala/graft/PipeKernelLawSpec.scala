package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PipelineOps

/** Laws for the r15 pipeline kernels: each typed-kernel rewrite must
  * stay ROW-IDENTICAL to the declarative form it replaced (the
  * lockstep discipline every kernel rewrite carries — the oracle gate
  * checks sf0.01, this pins the derivation itself on sf0.001 so a
  * kernel drift fails by name, not as a hash mismatch three stages
  * downstream).
  */
class PipeKernelLawSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The r12 declarative twin of [[PipelineOps.computePipe5PerDoc]] —
    * token-run census via array_sort + filter + zip_with HOFs. Kept
    * HERE (not in main) as the law's reference implementation. */
  private def pipe5Declarative: DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        split(col("text"), " ").as("t"))
      .withColumn("srt", array_sort(col("t")))
      .withColumn("bnd", expr(
        """filter(sequence(1, size(srt)),
          |  i -> if(i = 1, true,
          |          element_at(srt, i) != element_at(srt, i - 1)))"""
          .stripMargin))
      .select(col("doc_id"), col("n_chars"),
        size(col("t")).cast("long").as("words"),
        expr("""array_max(zip_with(bnd,
          |  concat(slice(bnd, 2, size(bnd) - 1), array(size(srt) + 1)),
          |  (a, b) -> b - a))""".stripMargin).cast("long").as("max_tf"),
        size(col("bnd")).cast("long").as("n_types"),
        size(filter(col("t"),
          x => x.isin(Seq("the", "a"): _*))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("words"),
        (col("words") < 50 || col("words") > 500).as("f1"),
        (expr("(1000 * n_chars) div words") < 3000
          || expr("(1000 * n_chars) div words") >= 8000).as("f2"),
        (col("n_stop") < 2).as("f3"),
        (expr("(1000 * max_tf) div words") > 120).as("f4"),
        (expr("(1000 * n_types) div words") < 300).as("f5"))

  test("pipe5 per-doc kernel is row-identical to the declarative " +
    "HOF form it replaced (words/max_tf/n_types/n_stop flag " +
    "arithmetic in lockstep, empty-token and repeated-token cases " +
    "included)") {
    val kernel = PipelineOps.computePipe5PerDoc(spark, sf)
    val twin = pipe5Declarative
    assert(kernel.columns.toSeq == twin.columns.toSeq)
    assert(kernel.count() == twin.count())
    assert(kernel.exceptAll(twin).isEmpty && twin.exceptAll(kernel).isEmpty,
      "kernel vs declarative pipe5 rows diverge")
  }

  test("pipe5 kernel flag census is stable on a crafted corpus " +
    "(repeated token drives max_tf, stopword probes, single-token " +
    "doc divides by words=1 without throwing)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the the a b", 19L),   // max_tf 4, n_stop 5, words 6
      (2L, "x", 1L),                      // words 1 — division guard
      (3L, "", 0L),                       // one empty token
      (4L, "a  a", 4L)                    // empty token between spaces
    ).toDF("doc_id", "text", "n_chars")
    val t = docs.withColumn("src", lit("s")).withColumn("lang", lit("en"))
    withTempDir("pipe5law") { dir =>
      t.select(col("doc_id"), col("text"), col("lang"),
        col("src").as("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = PipelineOps.computePipe5PerDoc(spark, dir)
        .orderBy("doc_id").collect()
      assert(out.length == 4)
      val r1 = out(0)
      assert(r1.getLong(1) == 6L)              // words
      assert(r1.getBoolean(2))                  // f1: words < 50
      assert(!r1.getBoolean(4))                 // f3: n_stop 5 >= 2
      assert(r1.getBoolean(5))                  // f4: 1000*4/6 = 666 > 120
      val r2 = out(1)
      assert(r2.getLong(1) == 1L)               // single token, no throw
      val r4 = out(3)
      assert(r4.getLong(1) == 3L)               // "a","","a" — empties kept
      assert(!r4.getBoolean(4))                 // n_stop 2 — not < 2
    }
  }
}
