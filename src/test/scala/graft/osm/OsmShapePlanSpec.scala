package graft.osm

import graft.SparkSpec
import graft.functions.TagShape
import graft.sinks.MongoExtendedJson
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The plan the shaping stage hands Catalyst, and the kernel's two
  * evaluation paths. Planning cost grows with the expression count, a
  * counter that does not drift with machine load: with the tag routing
  * written as built-in array/map expression chains, `shape` plus the
  * Extended-JSON encode optimized to 6,649 (node), 6,720 (way) and
  * 6,683 (relation) expression nodes, and planning that tree cost each
  * ETL write more than its Spark job. The shaping kernel took them to
  * 267 / 338 / 301, and returning the encode's identity rebuilds
  * (string arrays and structs, string map values) as they are to
  * 229 / 300 / 254. Since the XML is read in one pass, a per-type read
  * is a type filter over the reader's wide relation, which adds the
  * filter and the extra output attributes: 235 / 307 / 261. The
  * collection the ETL writes is one Project over that one relation,
  * 355 nodes where its union of three per-type plans had over 783.
  * With the way refs, the map-key guard and the integral-map wrap as
  * kernel calls, and the members renamed by a cast, no lambda is left:
  * 84 / 77 / 82 and 97 for the collection, the bounds now.
  */
class OsmShapePlanSpec extends SparkSpec {

  private def expressionNodes(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case _ => 1 }.size).sum }.sum

  private def kernelCalls(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect {
      case s: StaticInvoke if s.staticObject == TagShape.getClass => 1 }.size).sum }.sum

  test("shape + Extended-JSON encode optimizes to at most a tenth of the " +
    "expression-chain form's nodes per document type, with one kernel call") {
    val path = getClass.getResource("/mini.osm").getPath
    val measured = Map("node" -> 84, "way" -> 77, "relation" -> 82, "collection" -> 97)
    val plans = Seq("node" -> OsmXmlSource.nodes _, "way" -> OsmXmlSource.ways _,
        "relation" -> OsmXmlSource.relations _).map { case (t, read) =>
      val shaped = OsmShape.shape(read(spark, path), t)
      t -> shaped.select(MongoExtendedJson.toExtendedJsonLine(shaped).as("v"))
        .queryExecution.optimizedPlan
    } :+ {
      val docs = OsmXmlSource.collection(spark, path)
      "collection" -> docs.select(MongoExtendedJson.toExtendedJsonLine(docs).as("v"))
        .queryExecution.optimizedPlan
    }
    val got = plans.map { case (t, plan) => t -> expressionNodes(plan) }.toMap
    for ((t, plan) <- plans) {
      assert(got(t) <= measured(t), s"$t: ${got(t)} expression nodes ($got)")
      assert(kernelCalls(plan) == 1, s"$t: the kernel is planned more than once\n$plan")
    }
  }

  /** The operators one whole-stage stage compiles: down from its child
    * to the adapters that feed it. */
  private def stageOperators(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter | _: WholeStageCodegenExec => Nil
    case _ => p.children.flatMap(stageOperators)
  })

  private def exprs(ps: Seq[SparkPlan]): Seq[Expression] =
    ps.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  test("the collection's Extended-JSON projection runs as one generated " +
    "stage: no higher-order function, the encode beside the tag kernel") {
    val path = getClass.getResource("/mini.osm").getPath
    val plan = onGeneratedPath {
      val docs = OsmXmlSource.collection(spark, path)
      val lines = docs.select(MongoExtendedJson.toExtendedJsonLine(docs).as("v"))
      assert(lines.collect().length == 8)
      lines.queryExecution.executedPlan
    }
    val lambdas = exprs(plan.collect { case p => p }).collect { case h: HigherOrderFunction => h }
    assert(lambdas.isEmpty, s"higher-order functions in the write:\n${lambdas.mkString("\n")}")
    val stages = plan.collect { case w: WholeStageCodegenExec => stageOperators(w.child) }
    def encodes(e: Expression) = e match {
      case i: Invoke => i.targetObject.dataType == ObjectType(classOf[StructsToJsonEvaluator])
      case _ => false
    }
    def shapes(e: Expression) = e match {
      case s: StaticInvoke => s.staticObject == TagShape.getClass
      case _ => false
    }
    val fused = stages.filter(ops => exprs(ops).exists(encodes) && exprs(ops).exists(shapes))
    assert(fused.length == 1, s"encode and tag kernel are not one generated stage:\n$plan")
  }

  test("the kernel's interpreted and generated paths build the same maps") {
    val schema = StructType(Seq(StructField("tag", ArrayType(StructType(Seq(
      StructField("_k", StringType), StructField("_v", StringType)))))))
    def tags(kvs: (String, String)*): Row = Row(kvs.map { case (k, v) => Row(k, v) })
    val rows = Seq(
      tags("fuel" -> "yes", "addr:street:name" -> "x", "addr:city" -> "Bellingham",
        "cost:fee" -> "5", "fuel:octane_95" -> "YES", "service:bicycle:repair" -> "no",
        "addr:street" -> "Ellis St #5", "addr:unit" -> "St.201", "addr:city" -> "Ferndale"),
      tags("payment" -> "No", "tiger:county" -> "Whatcom, WA", "gnis:ST_alph" -> "53",
        "gnis:County_num" -> "73", "is_in:state" -> "anything", "is_in" -> "Bellingham",
        "is_in" -> "x"),
      tags("fuel" -> "Maybe", "lanes" -> "2.0", "maxheight" -> "12'6\"",
        "building:levels" -> "3s", "level" -> "abc", "roof:levels" -> "2",
        "population" -> "x12", "payment:cash" -> "maybe"),
      tags("name_1" -> "Foo", "name" -> "Bar; Baz", "contact:phone" -> "3605550101",
        "phone" -> "(360) 555-9999;360.555.0103", "image" -> "foo.jpg",
        "bad key" -> "dropped", "maxspeed:type" -> "sign", "designation" -> "A b",
        (null, "no key"), "k" -> null, "cuisine" -> null, "lanes" -> null),
      tags(),
      Row(null))
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val scanned = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def shaped(df: DataFrame): Seq[String] =
      df.select(to_json(ColumnBridge.column(TagShape.expr(ColumnBridge.expression(col("tag"))))))
        .collect().map(r => String.valueOf(r.get(0))).toSeq
    // the local relation is shaped on the driver, the scanned one in tasks
    val (interpreted, generated) = onBothPaths(shaped(scanned))
    assert(interpreted == generated)
    assert(interpreted == shaped(local))
    assert(interpreted.drop(4) == Seq("{}", "null") && !interpreted.take(4).contains("{}"),
      interpreted.mkString("\n"))
  }
}
