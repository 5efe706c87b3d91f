package graft.sinks

import graft.SparkSpec
import graft.osm.OsmXmlSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S3 — the MongoDB load path, tested to the edge of the sandbox: the
  * Extended-JSON dump is byte-checked against the canonical encoding
  * `mongoimport` consumes, and the connector config is validated with
  * the server's own naming rules. (A live insert needs a mongod this
  * environment doesn't have; everything up to the socket is covered.)
  */
class MongoSinkSpec extends SparkSpec {

  test("extended JSON encodes every BSON-relevant Catalyst type " +
    "canonically (exact line)") {
    import spark.implicits._
    val df = Seq(1).toDF("one").select(
      lit(5L).as("l"),
      lit(3).as("i"),
      lit("x").as("s"),
      lit(1.5).as("d"),
      lit(true).as("b"),
      lit(new java.sql.Timestamp(1000L)).as("ts"),
      array(lit(1L), lit(2L)).as("arr"),
      map(lit("k"), lit(7L)).as("m"),
      struct(lit(1L).as("a")).as("st"))
    val line = df.select(MongoExtendedJson.toExtendedJsonLine(df).as("v"))
      .collect().head.getString(0)
    assert(line ==
      """{"l":{"$numberLong":"5"},"i":{"$numberInt":"3"},"s":"x","d":1.5,""" +
      """"b":true,"ts":{"$date":{"$numberLong":"1000"}},""" +
      """"arr":[{"$numberLong":"1"},{"$numberLong":"2"}],""" +
      """"m":{"k":{"$numberLong":"7"}},"st":{"a":{"$numberLong":"1"}}}""", line)
  }

  test("DateType encodes as canonical $date millis (epochDays × " +
    "86400000) — a date-only string is not Extended JSON v2 and " +
    "mongoimport rejects it — and pre-1970 sub-ms timestamps floor " +
    "exactly (no double round-trip)") {
    import spark.implicits._
    val df = Seq(1).toDF("one").select(
      lit(java.sql.Date.valueOf("2021-03-05")).as("dt"),
      lit(java.sql.Date.valueOf("1969-12-31")).as("preDt"),
      // 1969-12-31T23:59:59.999500Z = -500 µs; floorDiv → -1 ms
      // (a double divide + cast truncates toward zero → 0, off by 1)
      lit(java.time.Instant.ofEpochSecond(-1L, 999500000L)).as("preTs"))
    val line = df.select(MongoExtendedJson.toExtendedJsonLine(df).as("v"))
      .collect().head.getString(0)
    // 2021-03-05 = epoch day 18691 → 1614902400000 ms
    assert(line ==
      """{"dt":{"$date":{"$numberLong":"1614902400000"}},""" +
      """"preDt":{"$date":{"$numberLong":"-86400000"}},""" +
      """"preTs":{"$date":{"$numberLong":"-1"}}}""", line)
  }

  test("runtime map keys with '$' or '.' fail the encode naming the " +
    "key — they would become subdocument field names the server " +
    "rejects, invisible to the schema-level check") {
    import spark.implicits._
    val df = Seq(1).toDF("one").select(
      map(lit("$numberLong"), lit(1L)).as("m"))
    assert(MongoExtendedJson.invalidFieldNames(df.schema).isEmpty)
    val e = intercept[Exception] {
      df.select(MongoExtendedJson.toExtendedJsonLine(df).as("v")).collect()
    }
    assert(e.getMessage.contains("$numberLong"), e.getMessage)
    // clean keys still encode
    val ok = Seq(1).toDF("one").select(map(lit("k"), lit(1L)).as("m"))
    val line = ok.select(MongoExtendedJson.toExtendedJsonLine(ok).as("v"))
      .collect().head.getString(0)
    assert(line == """{"m":{"k":{"$numberLong":"1"}}}""", line)
  }

  test("nulls stay nulls — a null long/struct must not become " +
    "{\"$numberLong\": null}, which mongoimport rejects") {
    import spark.implicits._
    val df = Seq(1).toDF("one").select(
      lit(null).cast(LongType).as("l"),
      lit(null).cast(new StructType().add("a", LongType)).as("st"),
      lit("keep").as("s"))
    val line = df.select(MongoExtendedJson.toExtendedJsonLine(df).as("v"))
      .collect().head.getString(0)
    // to_json omits null fields — absent is what the reference's own
    // dump does for missing tags, and Mongo treats both as missing
    assert(line == """{"s":"keep"}""", line)
  }

  test("mongoimport dump of the shaped OSM collection round-trips " +
    "typed content partition-parallel") {
    val docs = OsmXmlSource.collection(spark,
      getClass.getResource("/mini.osm").getPath)
    withTempDir("graft-mongoimport") { out =>
      MongoImportSink.write(docs, out)
      val back = spark.read.json(out) // $-keyed wrappers become fields
      assert(back.count() == docs.count())
      val lanes = back.filter(col("_id") === "1003")
        .select(col("int_tags.lanes.$numberLong")).collect().head.getString(0)
      assert(lanes == "2")
      // int64 never travels as a bare JSON number anywhere in the dump
      val raw = spark.read.text(out)
      assert(raw.filter(col("value").contains(""""lanes":2""")).count() == 0)
    }
  }

  test("field names Mongo rejects fail fast at the driver, naming " +
    "the offending path") {
    import spark.implicits._
    val df = Seq(1).toDF("one").select(
      lit(1L).as("$bad"),
      struct(lit(2L).as("a.b")).as("nested"),
      lit(3L).as("fine"))
    val bad = MongoExtendedJson.invalidFieldNames(df.schema)
    assert(bad == Seq("$bad", "nested.a.b"), bad)
    val e = withTempDir("x") { out =>
      intercept[IllegalArgumentException](MongoImportSink.write(df, out))
    }
    assert(e.getMessage.contains("$bad"))
  }

  test("connector config emits exactly the v10 option keys and " +
    "enforces server naming rules") {
    val cfg = MongoSinkConfig("mongodb://localhost:27017", "osm", "elements")
    assert(cfg.toOptions == Map(
      "connection.uri" -> "mongodb://localhost:27017",
      "database" -> "osm",
      "collection" -> "elements"))
    assert(cfg.sink == FormatSink("mongodb", cfg.toOptions))
    intercept[IllegalArgumentException] {
      MongoSinkConfig("http://localhost", "osm", "elements")
    }
    intercept[IllegalArgumentException] {
      MongoSinkConfig("mongodb://h", "my.db", "elements")
    }
    intercept[IllegalArgumentException] {
      MongoSinkConfig("mongodb://h", "osm", "system.users")
    }
    intercept[IllegalArgumentException] {
      MongoSinkConfig("mongodb://h", "osm", "c" * 255)
    }
  }
}
