package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.{Dot, JaroWinklerKernel, Kernel, PhoneFormat}

/** The engine's SparkSessionExtensions: registers the engine's
  * functions (the JVM kernels' [[graft.functions.Kernel]] calls) into
  * the function registry so they're callable from SQL and
  * `call_function` alike. Loadable by class name via
  * `spark.sql.extensions=graft.GraftSparkExtensions` on any cluster,
  * or programmatically via `builder.withExtensions` ([[GraftSession]]).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(Dot.getClass.getName, "dot_product"),
      (children: Seq[Expression]) => {
        arity("dot_product", children, 2)
        // the analyzer resolves the children before it calls this, so
        // their types are known: the result can be null on non-null
        // arrays only where an element type admits null
        val elemNullable = children.exists(_.dataType match {
          case ArrayType(_, containsNull) => containsNull
          case _ => false
        })
        Kernel(Dot, "dot", DoubleType, Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
          returnNullable = elemNullable)(children: _*)
      }))
    ext.injectFunction((
      new FunctionIdentifier("format_phone"),
      new ExpressionInfo(PhoneFormat.getClass.getName, "format_phone"),
      (children: Seq[Expression]) => {
        arity("format_phone", children, 1)
        PhoneFormat.expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(JaroWinklerKernel.getClass.getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        arity("jaro_winkler", children, 2)
        JaroWinklerKernel.expr(children(0), children(1))
      }))
    // Spark's bloom sketch expressions (the pair its own runtime-filter
    // rule injects) are NOT in the public registry in 4.1 — surface
    // them so the explicit bloom pre-join (RelationalOps j7) probes
    // with a codegen'd native expression instead of an opaque UDF.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case cs => throw new IllegalArgumentException(
          s"bloom_filter_agg requires 1-3 arguments, got ${cs.length}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      (children: Seq[Expression]) => {
        arity("might_contain", children, 2)
        BloomFilterMightContain(children(0), children(1))
      }))
  }

  /** Wrong arity must be an analysis-time error naming the function —
    * `children(i)` alone would silently drop extras or crash with a
    * bare NoSuchElementException. */
  private def arity(name: String, children: Seq[Expression], n: Int): Unit =
    require(children.length == n,
      s"$name requires exactly $n argument(s), got ${children.length}")
}
