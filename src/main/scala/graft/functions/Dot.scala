package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The engine's one dot-product loop. It sums left to right from 0.0
  * and stops at the shorter length: the order of the HOF combinator
  * ([[Fns.dot]]) and of DuckDB's sequential `list_sum`, so every form
  * gives the same bits (the cross-engine determinism contract).
  * `dot_product` binds the Catalyst entry point through [[Kernel]]; the
  * typed kernels (d5, MMR, the s8 norms) call the primitive one.
  */
object Dot {

  /** `dot_product`: null when the loop reaches a null element, as the
    * HOF form's null product poisons its accumulator. Array lengths
    * are equal by contract (embedding columns), so the shorter length
    * only bounds the loop. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }
}
