package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the ten analytics tables `graft.Tables` reads:
  * the TPC-H-shaped star schema plus `events`, `documents` and
  * `embeddings`. Each table is one parquet file, `<dir>/<name>.parquet`,
  * as in the engine's test data.
  *
  * Row counts, column types and value domains follow the engine's
  * scale-factor ladder (sf 0.1 has 600,000 lineitems, 100,000 events,
  * 5,000 documents, 2,000 unit-norm 64-d embeddings; 5% of documents
  * are near-duplicates that append " dup" to another document's text).
  * Every value is a hash of (seed, row id, column salt), so a seed
  * always gives the same tables, and every seed gives the same counts.
  * Rows are made on the driver: at the scales a benchmark run can
  * afford this is faster than a generating Spark job per table.
  */
object TableGen {

  private val vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  private def field(name: String, t: DataType) = StructField(name, t)

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(atSf01: Long, floor: Long = 1): Int =
      math.max(floor, math.round(atSf01 * sf / 0.1)).toInt
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nLines = n(600000); val nEvents = n(100000)
    val nUsers = n(1500); val nDocs = n(5000, 500); val nVecs = n(2000, 500)

    val salt0 = seed * 0x632be59bd9b4e019L
    // uniform [0, 1) from (seed, row id, column salt)
    def u(id: Long, salt: Int): Double =
      (Digest.mixLong(salt0 + Digest.mixLong(id * 64 + salt)) >>> 11) / (1L << 53).toDouble
    def below(k: Long, id: Long, salt: Int): Long = (u(id, salt) * k).toLong
    def oneOf(xs: IndexedSeq[String], id: Long, salt: Int): String =
      xs(below(xs.size, id, salt).toInt)
    def money(lo: Double, hi: Double, id: Long, salt: Int): Double =
      math.round((lo + u(id, salt) * (hi - lo)) * 100) / 100.0
    def day(from: LocalDate, days: Int, id: Long, salt: Int): LocalDateTime =
      from.plusDays(below(days, id, salt)).atStartOfDay()
    // the ten tables are written by concurrent jobs
    implicit val ec: ExecutionContextExecutorService = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4))
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    def save(name: String, rows: Int, schema: StructType)(row: Long => Row): Unit =
      writes += Future {
        val tmp = new File(s"$dir/$name.tmp")
        spark.createDataFrame((0 until rows).map(i => row(i.toLong)).asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        tmp.listFiles().foreach(_.delete())
        tmp.delete()
      }

    save("region", 5, StructType(Seq(field("r_regionkey", IntegerType),
        field("r_name", StringType)))) { i =>
      Row(i.toInt, IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt))
    }
    save("nation", 25, StructType(Seq(field("n_nationkey", IntegerType),
        field("n_name", StringType), field("n_regionkey", IntegerType)))) { i =>
      Row(i.toInt, s"NATION_$i", (i % 5).toInt)
    }
    save("customer", nCust, StructType(Seq(field("c_custkey", LongType),
        field("c_name", StringType), field("c_nationkey", IntegerType),
        field("c_acctbal", DoubleType), field("c_mktsegment", StringType)))) { i =>
      Row(i, f"Customer#$i%09d", below(25, i, 1).toInt, money(-999.99, 9999.99, i, 2),
        oneOf(IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), i, 3))
    }
    save("supplier", nSupp, StructType(Seq(field("s_suppkey", LongType),
        field("s_name", StringType), field("s_nationkey", IntegerType),
        field("s_acctbal", DoubleType)))) { i =>
      Row(i, f"Supplier#$i%09d", below(25, i, 4).toInt, money(-999.99, 9999.99, i, 5))
    }
    val adjectives = IndexedSeq("large", "hot", "blue", "small", "red", "green", "cold",
      "tiny", "steel", "brass", "bright", "dark", "light")
    val nouns = IndexedSeq("ring", "bolt", "anvil", "widget", "gear")
    save("part", nPart, StructType(Seq(field("p_partkey", LongType),
        field("p_name", StringType), field("p_brand", StringType),
        field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType)))) { i =>
      Row(i, oneOf(adjectives, i, 6) + " " + oneOf(nouns, i, 7),
        s"Brand#${below(25, i, 8) + 1}",
        oneOf(IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), i, 9),
        (below(50, i, 10) + 1).toInt, (9000 + i % 1000) / 10.0)
    }
    save("orders", nOrders, StructType(Seq(field("o_orderkey", LongType),
        field("o_custkey", LongType), field("o_orderstatus", StringType),
        field("o_totalprice", DoubleType), field("o_orderdate", TimestampNTZType),
        field("o_orderpriority", StringType)))) { i =>
      Row(i, below(nCust, i, 11), oneOf(IndexedSeq("F", "O", "P"), i, 12),
        money(1000.0, 500000.0, i, 13), day(LocalDate.of(1995, 1, 1), 2404, i, 14),
        oneOf(IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), i, 15))
    }
    save("lineitem", nLines, StructType(Seq(field("l_orderkey", LongType),
        field("l_partkey", LongType), field("l_suppkey", LongType),
        field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
        field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
        field("l_tax", DoubleType), field("l_returnflag", StringType),
        field("l_linestatus", StringType), field("l_shipdate", TimestampNTZType)))) { i =>
      Row(below(nOrders, i, 16), below(nPart, i, 17), below(nSupp, i, 18),
        (below(7, i, 19) + 1).toInt, (below(50, i, 20) + 1).toDouble,
        money(900.0, 105000.0, i, 21), below(11, i, 22) / 100.0, below(9, i, 23) / 100.0,
        oneOf(IndexedSeq("A", "N", "R"), i, 24), oneOf(IndexedSeq("F", "O"), i, 25),
        day(LocalDate.of(1995, 1, 2), 2499, i, 26))
    }
    // monotone event time over the first 30 days of 2024, in epoch
    // nanoseconds at microsecond precision: the test data stores ts as
    // TIMESTAMP(NANOS), which Spark reads as a long, so `Tables` takes
    // the same conversion on both
    val startUs = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000
    val stepUs = 30L * 86400 * 1000000 / nEvents
    save("events", nEvents, StructType(Seq(field("event_id", LongType),
        field("ts", LongType), field("user_id", LongType),
        field("event_type", StringType), field("value", DoubleType),
        field("props", StringType)))) { i =>
      Row(i, (startUs + ((i + u(i, 27)) * stepUs).toLong) * 1000,
        below(nUsers, i, 28),
        oneOf(IndexedSeq("click", "error", "purchase", "signup", "view"), i, 29),
        math.round(-math.log(1.0 - u(i, 30)) * 5000) / 100.0,
        s"""{"k": ${below(100, i, 31)}}""")
    }
    def textOf(id: Long): String =
      (1L to 8 + below(93, id, 32)).map(j => vocab(below(vocab.size, id * 128 + j, 40).toInt))
        .mkString(" ")
    save("documents", nDocs, StructType(Seq(field("doc_id", LongType),
        field("text", StringType), field("lang", StringType),
        field("source", StringType), field("n_chars", LongType)))) { i =>
      val text =
        if (u(i, 33) < 0.05) textOf(below(nDocs, i, 34)) + " dup" else textOf(i)
      Row(i, text,
        if (u(i, 35) < 0.41) "en" else oneOf(IndexedSeq("de", "es", "fr", "zh"), i, 36),
        s"src${i % 20}", text.length.toLong)
    }
    // unit-norm gaussian vectors (Box-Muller), 64 dimensions
    save("embeddings", nVecs, StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType)), field("label", IntegerType)))) { i =>
      val g = (0 until 64).map { j =>
        math.sqrt(-2 * math.log(1.0 - u(i * 64 + j, 37))) * math.cos(2 * math.Pi * u(i * 64 + j, 38))
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i, g.map(x => (x / norm).toFloat), below(10, i, 39).toInt)
    }
    try Await.result(Future.sequence(writes.toSeq), Duration.Inf)
    finally ec.shutdown()
  }
}
