package graft

import org.apache.spark.sql.functions._

/** Bucketing — the co-located-join technique from the scale design
  * (SCALE.md): writing both join sides bucketed by the join key lets
  * the join read bucket-aligned files with NO shuffle exchange. This
  * spec proves the property end-to-end: same join, bucketed tables,
  * zero Exchange operators on the probe sides.
  */
class BucketingSpec extends SparkSpec {

  test("partitioned writes prune partitions at the scan") {
    withTempDir("graft-part")(partitionsPruned)
  }

  private def partitionsPruned(dir: String): Unit = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("event_type"), plan)
    // only the click partition's rows are read
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "click").count()
    assert(q.agg(sum(col("cnt"))).collect().head.getLong(0) == expected)
  }

  test("bucketed-by-join-key tables join without a shuffle exchange") {
    val sf = "/root/testdata/sf0.001"

    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    // disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
      // and it computes the right thing
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets == direct)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("m3Materialize writes ref_docs bucketed by the part key — a " +
    "part-keyed consumer join plans no exchange on the materialized " +
    "side, and the stored rows equal the live m3 query") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.RelationalOps.m3Materialize(spark, sf, "ref_docs_b", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("ref_docs_b")
        .join(Tables.part(spark, sf),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("refer_count"), col("p_size"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_partkey"), plan)
      // stored table == the live query, row for row
      val live = graft.SparkEntry.queries("m3_materialize_ref_docs")(spark, sf)
      assert(spark.table("ref_docs_b").exceptAll(live).count() == 0 &&
        live.exceptAll(spark.table("ref_docs_b")).count() == 0)
      // partition-parallel write: more than one data file (no coalesce)
      val files = spark.table("ref_docs_b").inputFiles
      assert(files.length > 1, files.mkString(","))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS ref_docs_b")
    }
  }
}
