package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count and order-insensitive hash of a query's output.
  *
  * [[of]] runs the query's own physical plan (`queryExecution.toRdd`,
  * the rows `Bench.once` forces with `count()`) and folds every field of
  * every row into the hash, so the timed execution also reads each
  * output value. Row order, array order and map order do not change the
  * hash: several operators collect lists whose order Spark does not fix.
  * Doubles are hashed at 9 and floats at 5 significant digits, so a
  * different summation order cannot change the hash.
  */
object Digest {
  final case class Value(rows: Long, hash: Long) {
    override def toString: String = s"$rows/${java.lang.Long.toHexString(hash)}"
  }

  def of(df: DataFrame): Value = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, schema) }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Value(n, h)
  }

  def mixLong(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = mixLong(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, dt), dt)))
      i += 1
    }
    h
  }

  /** `digits` significant digits; values that differ only past them
    * hash the same (also across a power of ten). */
  private def rounded(d: Double, digits: Int): Long =
    if (d == 0.0 || d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.round(d / math.pow(10, e - digits + 1))
      if (math.abs(m) >= math.pow(10, digits)) { m = math.round(m / 10.0); e += 1 }
      m * 1000 + e
    }

  private def unordered(n: Int, at: Int => Long): Long = {
    var h = n.toLong
    var i = 0
    while (i < n) { h += mixLong(at(i)); i += 1 }
    h
  }

  private def value(v: Any, dt: DataType): Long = dt match {
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case FloatType => rounded(v.asInstanceOf[Float].toDouble, 5)
    case DoubleType => rounded(v.asInstanceOf[Double], 9)
    case StringType => v.asInstanceOf[UTF8String].hashCode.toLong
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      unordered(a.numElements(), i => if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      unordered(m.numElements(), i => value(ks.get(i, kt), kt) * 31 +
        (if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, vt), vt)))
    case _ => v.toString.hashCode.toLong
  }
}
