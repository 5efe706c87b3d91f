package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.osm.OsmXmlSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The text sinks' own writer ([[LineWriter]]) against the one it
  * replaced, `DataFrameWriter.text`, which stays the reference here:
  * the same lines, the same file layout on empty partitions and empty
  * input, Spark's overwrite and append, and nothing left behind by a
  * failed write. */
class LineWriterSpec extends SparkSpec {

  private val mini = getClass.getResource("/mini.osm").getPath

  /** The dump projection [[MongoImportSink]] writes. */
  private def dumpLines(docs: DataFrame): DataFrame =
    docs.select(MongoExtendedJson.toExtendedJsonLine(docs).as("value"))

  /** The projection [[PrettyJsonSink]] writes. */
  private def prettyLines(docs: DataFrame): DataFrame =
    docs.select(to_json(struct(docs.columns.toSeq.map(col): _*),
      Map("pretty" -> "true")).as("value"))

  private def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  /** Every line of the part files, sorted; each file ends in '\n'. */
  private def lines(dir: String): Seq[String] = partFiles(dir).flatMap { f =>
    val text = new String(Files.readAllBytes(f.toPath), UTF_8)
    assert(text.isEmpty || text.endsWith("\n"), s"$f ends mid-line")
    text.split("\n", -1).dropRight(1)
  }.sorted

  /** The visible files under `dir` with their sizes, each part file's
    * job id replaced by `<job>`. */
  private def layout(dir: String): Seq[(String, Long)] = {
    val job = "part-(\\d{5})-[0-9a-f-]{36}-c000\\.txt".r
    Option(new File(dir).listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .map(f => (job.replaceAllIn(f.getName, "part-$1-<job>-c000.txt"), f.length)).sorted
  }

  /** Every file and directory under `dir`, hidden ones included. */
  private def tree(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("the mongoimport and pretty dumps of mini.osm hold the lines, and " +
    "the part files, DataFrameWriter.text writes for the same projection") {
    val docs = OsmXmlSource.collection(spark, mini)
    for ((sink, projection) <- Seq[(DocumentSink, DataFrame => DataFrame)](
        MongoImportSink -> dumpLines, PrettyJsonSink -> prettyLines)) {
      withTempDir("graft-lines") { out =>
        sink.write(docs, s"$out/sink")
        projection(docs).write.text(s"$out/spark")
        assert(lines(s"$out/sink").nonEmpty)
        assert(lines(s"$out/sink") == lines(s"$out/spark"), sink)
        assert(layout(s"$out/sink") == layout(s"$out/spark"), sink)
      }
    }
  }

  test("overwrite replaces the earlier dump, stray files included, and " +
    "append adds part files beside it under new names") {
    val docs = OsmXmlSource.collection(spark, mini)
    val n = docs.count().toInt
    withTempDir("graft-modes") { out =>
      MongoImportSink.write(docs, out)
      val first = partFiles(out).map(_.getName)
      MongoImportSink.write(docs, out, overwrite = false)
      val appended = partFiles(out).map(_.getName)
      assert(first.toSet.subsetOf(appended.toSet) && appended.size == 2 * first.size,
        s"$first then $appended")
      assert(lines(out).size == 2 * n)
      Files.write(Paths.get(out, "stray.txt"), "x\n".getBytes(UTF_8))
      MongoImportSink.write(docs, out, overwrite = true)
      val replaced = partFiles(out).map(_.getName)
      assert(replaced.size == first.size && replaced.toSet.intersect(appended.toSet).isEmpty,
        s"$appended then $replaced")
      assert(lines(out).size == n)
      assert(!new File(out, "stray.txt").exists())
    }
  }

  test("a key-guard failure mid-write leaves no _temporary and no part " +
    "file of the failed job beside the earlier dump") {
    val docs = OsmXmlSource.collection(spark, mini)
    // one task: 20,000 clean rows (more than the writer buffers) before
    // the key MongoDB rejects
    val bad = spark.range(0, 20001, 1, 1).select(map(
      when(col("id") === 20000, lit("$where")).otherwise(lit("k")), col("id")).as("tags"))
    withTempDir("graft-guard") { out =>
      MongoImportSink.write(docs, out)
      val before = tree(out)
      val e = intercept[Exception](MongoImportSink.write(bad, out, overwrite = false))
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
      assert(messages.exists(_.contains("map key MongoDB rejects ('$'-prefix or dot): $where")),
        messages.mkString(" / "))
      assert(tree(out) == before)
      assert(!before.exists(_.contains("_temporary")), before)
    }
  }

  test("an empty file, a bare <osm/> and a byte range without an element " +
    "give 0 documents and a dump without a data line, laid out as " +
    "DataFrameWriter.text lays out empty input: _SUCCESS and one empty " +
    "part file, partition 0's") {
    val padding = "<!-- " + "x" * 4096 + " -->\n"
    val inputs = Seq(
      "empty" -> "",
      "bare" -> "<osm/>",
      "no-element" -> ("<osm version=\"0.6\">\n" +
        """  <bounds minlat="48.6" minlon="-122.8" maxlat="49.0" maxlon="-122.0"/>""" +
        "\n" + padding + "</osm>\n"))
    for ((name, xml) <- inputs) withTempDir("graft-degenerate") { dir =>
      Files.write(Paths.get(dir, "in.osm"), xml.getBytes(UTF_8))
      val docs = OsmXmlSource.collection(spark, s"$dir/in.osm", 4)
      assert(docs.count() == 0, name)
      MongoImportSink.write(docs, s"$dir/sink")
      dumpLines(docs).write.text(s"$dir/spark")
      assert(lines(s"$dir/sink").isEmpty, name)
      assert(layout(s"$dir/sink") == layout(s"$dir/spark"), name)
      assert(layout(s"$dir/sink") ==
        Seq("_SUCCESS" -> 0L, "part-00000-<job>-c000.txt" -> 0L), name)
    }
  }

  test("an empty partition writes no file unless it is partition 0, " +
    "as DataFrameWriter.text: a prologue range without an element " +
    "before the range holding every element") {
    val prologue = "<osm version=\"0.6\">\n<!-- " + "x" * 4096 + " -->\n"
    val body = (1 to 3).map(i => s"""  <node id="$i" lat="1" lon="2"/>""" + "\n").mkString
    withTempDir("graft-empty-part") { dir =>
      Files.write(Paths.get(dir, "in.osm"), (prologue + body + "</osm>\n").getBytes(UTF_8))
      val docs = OsmXmlSource.collection(spark, s"$dir/in.osm", 4)
      assert(docs.rdd.getNumPartitions == 2)
      MongoImportSink.write(docs, s"$dir/sink")
      dumpLines(docs).write.text(s"$dir/spark")
      assert(lines(s"$dir/sink") == lines(s"$dir/spark") && lines(s"$dir/sink").size == 3)
      assert(layout(s"$dir/sink") == layout(s"$dir/spark"))
      assert(layout(s"$dir/sink").map(_._1) ==
        Seq("_SUCCESS", "part-00000-<job>-c000.txt", "part-00001-<job>-c000.txt"))
      assert(layout(s"$dir/sink").take(2).map(_._2) == Seq(0L, 0L))
    }
  }
}
