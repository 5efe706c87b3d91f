package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: sequential dot product of two
  * `array<double>` columns.
  *
  * Why a custom expression (SURVEY.md §7.3's "only where built-ins
  * can't express it" bar): Spark's higher-order functions
  * (`zip_with` + `aggregate`) express the semantics but never enter
  * whole-stage codegen — in similarity joins the per-pair interpreted
  * eval measured 10-70x slower than primitive loops. `doGenCode` emits
  * the tight loop directly into the generated stage, so embedding
  * scoring stays declarative AND compiled. Accumulation is
  * left-to-right from 0.0, bit-identical to the HOF combinator
  * ([[Fns.dot]]), the typed kernels, and DuckDB's sequential
  * `list_sum` — the cross-engine determinism contract.
  *
  * It is the one hand-written expression (every other kernel is a
  * [[Kernel]] call) because it generates its loop inline and can return
  * null on non-null arrays (a null element), which [[Kernel]]'s rule
  * that a null-propagating kernel never returns null cannot express.
  *
  * Null semantics: null if either array is null (nullIntolerant), and
  * null if any traversed ELEMENT is null — matching `zip_with` +
  * `aggregate`, where a null product poisons the accumulator
  * ([[Fns.dot]]); the per-element checks are only emitted/executed
  * when the input array type admits null elements. Array lengths are
  * expected equal (embedding columns) — the shorter length bounds the
  * loop, matching `zip_with`'s truncating behavior would pad nulls
  * instead, so inputs are validated upstream.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // lazy val: nullSafeEval consults this per row on the interpreted path
  private lazy val elemNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, n) => n
      case _ => false
    })

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = elemNullable
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      // when the array type admits null elements the expression is
      // nullable (see `nullable`), so ev.isNull is a real variable
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
