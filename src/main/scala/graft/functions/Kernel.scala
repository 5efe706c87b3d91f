package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** The one way a JVM kernel reaches Catalyst: a method `fn` on a Scala
  * object that takes and returns Catalyst values (`UTF8String`,
  * `ArrayData`, `InternalRow`, primitives or boxed scalars), planned as
  * Spark's own `StaticInvoke`. Generated code is one static call per
  * row inside the whole-stage stage; the interpreted path calls the
  * same method through reflection. The arguments are checked against
  * `inputTypes` at analysis (with Spark's implicit casts). With
  * `propagateNull` a null argument gives null without a call, and the
  * kernel, never called with null, never returns it (the result is
  * nullable only where an argument is); without it the kernel sees
  * the null and may return one.
  *
  * `returnNullable` is the case between: null arguments propagate, but
  * the kernel may also return null for non-null ones (`dot_product`
  * on an array holding a null element), so the result is nullable and
  * the generated code tests the returned box. It is always on without
  * `propagateNull`, so a call that leaves it out plans as before.
  */
object Kernel {

  def apply(kernel: AnyRef, fn: String, dt: DataType, inputTypes: Seq[DataType],
      propagateNull: Boolean = true, returnNullable: Boolean = false)(
      args: Expression*): Expression =
    StaticInvoke(kernel.getClass, dt, fn, args, inputTypes, propagateNull,
      returnNullable = returnNullable || !propagateNull)
}
