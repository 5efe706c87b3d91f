package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkRuntimeException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ catalyst Expression bridge, and the `InternalRow` DataFrame
  * factory.
  *
  * Spark 4 made the classic converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so library code
  * that builds catalyst expressions directly (e.g. `With` common-
  * subexpression bindings, see [[graft.functions.Fns.let]]) needs this
  * one-hop re-export from inside the `org.apache.spark.sql` package —
  * the standard extension-library pattern, no private APIs re-implemented.
  * The OSM reader ([[graft.osm.OsmXmlSource]]) builds catalyst rows
  * itself; `internalCreateDataFrame` wraps them without the external
  * `Row` conversion `createDataFrame` would run per row. A kernel that
  * fails a row raises `raise_error`'s exception ([[userError]]), whose
  * class Spark keeps `private[spark]`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** What `raise_error(message)` throws: error class
    * USER_RAISED_EXCEPTION, the message as its text. */
  def userError(message: String): RuntimeException =
    new SparkRuntimeException("USER_RAISED_EXCEPTION", Map("errorMessage" -> message))
}
