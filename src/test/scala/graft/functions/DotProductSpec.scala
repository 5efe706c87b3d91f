package graft.functions

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import Fns._

/** The contract of `dot_product`: bit-identical to the HOF combinator
  * ([[Fns.dot]]) on the interpreted and the generated path, callable
  * from SQL through the session extensions, null on a null array or a
  * null element, nullable only where an argument or its element type
  * admits null, and typed at analysis.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (Array(1.0, 2.5, -3.25, 0.125), Array(4.0, -1.5, 2.0, 8.0)),
    (Array(0.1, 0.2, 0.3, 0.4), Array(-0.4, 0.3, -0.2, 0.1)),
    (Array.fill(64)(0.123456789), Array.fill(64)(-0.987654321)))

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** (native, HOF) for every row, with the Dataset built under the
    * caller's path. */
  private def nativeAndHof(): Seq[(Double, Double)] =
    rows.toDF("x", "y").select(
      dotNative(col("x"), col("y")).as("n"),
      dot(col("x"), col("y")).as("h")).as[(Double, Double)].collect().toSeq

  test("native == HOF bit-for-bit (codegen path)") {
    val generated = onGeneratedPath(nativeAndHof())
    assert(generated.length == rows.length)
    generated.foreach { case (n, h) => assert(bits(n) == bits(h)) }
  }

  test("native == HOF bit-for-bit (interpreted / no-codegen path)") {
    val (interpreted, generated) = onBothPaths(nativeAndHof())
    assert(interpreted.length == rows.length)
    interpreted.foreach { case (n, h) => assert(bits(n) == bits(h)) }
    // and the native kernel gives the same bits on either path
    assert(interpreted.map(r => bits(r._1)) == generated.map(r => bits(r._1)))
  }

  test("registered in SQL by the session extensions") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .as[Double].head()
    assert(r == 11.0)
  }

  test("null array yields null (nullIntolerant)") {
    val r = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("a null element in either array yields null on both paths") {
    val withNulls = Seq(
      (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, null)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
    val (interpreted, generated) = onBothPaths {
      withNulls.toDF("x", "y").select(dotNative(col("x"), col("y")))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    }
    assert(interpreted == Seq(None, None, Some(11.0)))
    assert(generated == interpreted)
  }

  test("the result is nullable only where an argument or its element type admits null") {
    def nullable(sql: String): Boolean = spark.sql(sql).schema.head.nullable
    assert(!nullable("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))"))
    assert(nullable("SELECT dot_product(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d))"))
    assert(nullable("SELECT dot_product(array(1.0d, 2.0d), array(CAST(NULL AS DOUBLE), 4.0d))"))
    assert(nullable("SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))"))
    // a non-null literal of an element-nullable type stays nullable
    val elemNullable = Seq((Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("x", "y").select(dotNative(col("x"), col("y")))
    assert(elemNullable.schema.head.nullable)
  }

  test("a non-array argument fails at analysis, not in a task") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT dot_product(1.0d, array(1.0d))")
    }
    assert(e.getMessage.nonEmpty)
    intercept[AnalysisException] {
      spark.sql("SELECT dot_product('a', array(1.0d))")
    }
  }

  /** Every operator a plan ran, inside AQE's query stages too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The operators a whole-stage stage compiles: its tree down to the
    * input adapters, whose children run in other stages. */
  private def inStage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(inStage)
  })

  private def isDotKernel(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject == Dot.getClass && s.functionName == "dot"
    case _ => false
  }

  test("an s-family projection runs the kernel inside a whole-stage stage " +
    "on the generated path and in none on the interpreted path") {
    withTempDir("dot-product") { dir =>
      // an embeddings table of 40 64-d float vectors, as the generator writes it
      Seq.tabulate(40)(i => (i.toLong,
        Array.tabulate(64)(k => ((i * 31 + k * 17) % 23 - 11) / 7.0f), i % 3))
        .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      val ((interpreted, interpretedStaged), (generated, generatedStaged)) = onBothPaths {
        val d = SparkEntry.queries("s2_ann_lsh")(spark, dir)
        val rows = d.collect().map(_.toString).sorted.toSeq
        (rows, nodes(d.queryExecution.executedPlan).collect {
          case w: WholeStageCodegenExec => w
        }.exists(w => inStage(w.child).exists(_.expressions.exists(_.exists(isDotKernel)))))
      }
      assert(!interpretedStaged, "the interpreted path ran a whole-stage stage")
      assert(generatedStaged, "the generated path ran no whole-stage stage calling the kernel")
      assert(interpreted.nonEmpty)
      assert(interpreted == generated)
    }
  }
}
