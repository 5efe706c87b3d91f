package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType, BinaryType}

/** The harness contract every registered query must obey: SCALAR-ONLY
  * output columns.
  *
  * The driver's oracle compare canonicalizes results through pandas,
  * whose row sort throws `unhashable type: numpy.ndarray` on any
  * array/struct/map cell — which is exactly how idx1/idx2/idx3 shipped
  * r9 with `err` CORRECTNESS rows while every local gate stayed green
  * (VERDICT r9 §What's wrong #1/#2). Array-valued RESULTS must be
  * serialized through [[graft.functions.Fns.strJoin]] (the a3/a4
  * convention) in the final projection; the operator still computes the
  * real array internally.
  *
  * Schema-only (`fn(spark, dir).schema` analyzes the plan without
  * executing it), so this covers all registered queries in seconds and
  * fails BY NAME at test time — before the driver's harness can.
  */
class OutputContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every SparkEntry.queries output schema is scalar-only " +
    "(array/map/struct results break the driver's pandas compare — " +
    "serialize through Fns.strJoin)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
            || f.dataType.isInstanceOf[MapType]
            || f.dataType.isInstanceOf[StructType]
            || f.dataType == BinaryType =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        bad
    }
    assert(offenders.isEmpty,
      "non-scalar output columns (wrap in Fns.strJoin / hex):\n  " +
        offenders.mkString("\n  "))
  }

  test("a failed bench run reports -1 and names the query and its cause " +
    "on stderr") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val t = try Bench.once(spark, sf, "zz_failing",
      (_, _) => throw new IllegalStateException("boom"))
    finally System.setErr(saved)
    assert(t == -1.0)
    assert(err.toString("UTF-8").linesIterator.contains(
      "[graft] zz_failing failed: java.lang.IllegalStateException: boom"))
  }
}

