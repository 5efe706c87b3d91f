package graft.osm

import java.nio.file.Files

import graft.SparkSpec

/** The OSM ETL bench harness ([[OsmEtlBench]]) — the r11 verdict #4
  * gap: the engine's only never-benched baseline number was the
  * reference's mongoimport throughput. The full-size run is a bench
  * (OSM_BENCH.json); this spec pins the harness MECHANICS at
  * miniature scale so the bench can't silently measure the wrong
  * thing: generator determinism (same bytes twice), element-count
  * parity through the real source, and that every cleaning family
  * the generator plants actually survives into the shaped output.
  */
class OsmEtlBenchSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The file read in each of `splits` range counts equals the file
    * read as one range, row for row; returns the largest range count. */
  private def splitLaw(xml: String, splits: Seq[Int]): Int = {
    val whole = rows(OsmXmlSource.collection(spark, xml, 0))
    splits.map { n =>
      assert(rows(OsmXmlSource.collection(spark, xml, n)) == whole,
        s"$xml read in $n ranges drifted from one range")
      OsmChunk.ranges(xml, n, spark.sparkContext.hadoopConfiguration).length
    }.max
  }

  test("generator is deterministic (byte-identical on re-run) and " +
    "its element counts parse back exactly through OsmXmlSource — " +
    "the cell-36 parity check the bench relies on") {
    withTempDir("osmgen") { dir =>
      val (b1, nN, nW, nR) = OsmEtlBench.generate(s"$dir/a.osm", 0.002)
      val (b2, _, _, _) = OsmEtlBench.generate(s"$dir/b.osm", 0.002)
      assert(b1 == b2, "generated size differs between runs")
      val a = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/a.osm"))
      val b = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/b.osm"))
      assert(java.util.Arrays.equals(a, b), "generator not deterministic")
      assert(OsmXmlSource.nodes(spark, s"$dir/a.osm").count() == nN)
      assert(OsmXmlSource.ways(spark, s"$dir/a.osm").count() == nW)
      assert(OsmXmlSource.relations(spark, s"$dir/a.osm").count() == nR)
      // the shaped union preserves the counts (no element lost in shape)
      val shaped = OsmXmlSource.collection(spark, s"$dir/a.osm")
        .groupBy("doc_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(shaped == Map("node" -> nN, "way" -> nW, "relation" -> nR))
      // the one file read in 3 ranges is the same rows as read in one
      assert(rows(OsmXmlSource.collection(spark, s"$dir/a.osm", 3)) ==
        rows(OsmXmlSource.collection(spark, s"$dir/a.osm", 0)))
    }
  }

  test("the generated tag mix exercises the cleaning surface: shaped " +
    "output contains cleaned phones, canonical street types, fixed " +
    "states, bool tags, numeric promotions, and drops problemchars " +
    "keys — so the bench times the REAL shape work, not a strawman") {
    import org.apache.spark.sql.functions._
    withTempDir("osmgen2") { dir =>
      OsmEtlBench.generate(s"$dir/c.osm", 0.01) // ~3.5k nodes
      val nodes = OsmShape.shape(OsmXmlSource.nodes(spark, s"$dir/c.osm"),
        "node").persist()
      // phone is a LIST key (OsmConstants.ListKeys): cleaned numbers
      // land in list_tags, each element through F1's +1-AAA-LLL-NNNN
      assert(nodes.filter(exists(col("list_tags").getItem("phone"),
        p => p.rlike("^\\+1-\\d{3}-\\d{3}-\\d{4}"))).count() > 0,
        "no cleaned phones (F1 emits +1-AAA-LLL-NNNN into list_tags)")
      assert(nodes.filter(col("addr").getItem("street")
        .endsWith("Street")).count() > 0, "no canonicalized street types")
      assert(nodes.filter(size(col("bool_tags")) > 0).count() > 0,
        "no bool promotions")
      assert(nodes.filter(size(col("int_tags")) > 0).count() > 0,
        "no int promotions")
      assert(nodes.filter(size(col("float_tags")) > 0).count() > 0,
        "no float promotions")
      assert(nodes.filter(size(col("list_tags")) > 0).count() > 0,
        "no list tags")
      // problemchars keys are dropped at the tag level, never shipped
      val badKey = nodes.filter(
        map_contains_key(col("tags"), "bad key")).count()
      assert(badKey == 0, "problemchars key survived the shape")
      nodes.unpersist()
    }
  }

  // ---- OsmChunk (r13: the parallel-parse ingest path) ---------------

  test("findCuts matches only real top-level element starts: " +
    "<node /<way /<relation with a legal follower — never <nd, never " +
    "a longer name, never inside plain text bytes") {
    withTempDir("osmbnd") { dir =>
      // the first cut at or after offset 0, or -1 when there is none
      def find(s: String): Long = {
        val p = s"$dir/b.osm"
        Files.write(java.nio.file.Paths.get(p), s.getBytes("UTF-8"))
        OsmChunk.findCuts(p, Seq(0L)).headOption.getOrElse(-1L)
      }
      assert(find("""  <node id="1" lat="0"/>""") == 2)
      assert(find("  <way>") == 2)
      assert(find("""  <relation x="y">""") == 2)
      assert(find("""  <nd ref="5"/>  <tag k="a"/>""") == -1)
      assert(find("  <nodes>") == -1, "<nodes> matched as <node>")
      assert(find("  <wayside>") == -1)
      // attribute values cannot contain raw '<' in well-formed XML, so
      // no false-positive case exists there; escaped forms don't match
      assert(find("""  <tag k="x" v="&lt;node sneaky&gt;"/>""") == -1)
    }
  }

  test("chunked reads are EXACTLY the unchunked reads — same shaped " +
    "rows per type — and the fragment directory parses as multiple " +
    "parallel partitions") {
    withTempDir("osmchunk") { dir =>
      val xml = s"$dir/d.osm"
      OsmEtlBench.generate(xml, 0.002) // ~710 nodes / 60 ways / 1 rel
      val nFrag = OsmChunk.chunk(xml, s"$dir/frags", 5)
      assert(nFrag >= 2 && nFrag <= 5, s"expected 2..5 fragments, got $nFrag")
      // fragments bin-pack by size (spark.sql.files.openCostInBytes),
      // so partitions ≤ fragments; >1 is the parallel-parse evidence a
      // single unsplittable file can never show
      val nPart = OsmXmlSource.nodes(spark, s"$dir/frags").rdd.getNumPartitions
      assert(nPart > 1 && nPart <= nFrag,
        s"expected 2..$nFrag parse partitions, got $nPart")
      for (t <- Seq("node", "way", "relation")) {
        val rd = (p: String) => t match {
          case "node" => OsmXmlSource.nodes(spark, p)
          case "way" => OsmXmlSource.ways(spark, p)
          case _ => OsmXmlSource.relations(spark, p)
        }
        val whole = OsmShape.shape(rd(xml), t)
          .collect().map(_.toString).sorted
        val parts = OsmShape.shape(rd(s"$dir/frags"), t)
          .collect().map(_.toString).sorted
        assert(whole.length == parts.length, s"$t count drifted")
        assert(whole.sameElements(parts), s"$t content drifted under chunking")
      }
    }
  }

  test("the scanner never cuts inside a comment or CDATA section — " +
    "fake element markup embedded there (legal raw '<') cannot " +
    "become a fragment boundary, and chunked == unchunked holds") {
    withTempDir("osmcmt") { dir =>
      val xml = s"$dir/cmt.osm"
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
      for (i <- 0 until 40)
        sb ++= s"""  <node id="$i" lat="1.0" lon="2.0" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>\n"""
      // a comment big enough that several evenly spaced targets land
      // INSIDE it, stuffed with decoy element starts
      sb ++= "  <!--\n"
      for (i <- 0 until 2000)
        sb ++= s"""    <node id="fake$i" lat="9" lon="9"/> <way> <relation>\n"""
      sb ++= "  -->\n"
      sb ++= "  <![CDATA[ <node id=\"alsofake\"/> <way ]]>\n"
      for (i <- 40 until 80)
        sb ++= s"""  <node id="$i" lat="1.0" lon="2.0" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>\n"""
      sb ++= s"""  <way id="900" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1">\n    <nd ref="1"/>\n    <tag k="highway" v="x"/>\n  </way>\n"""
      sb ++= "</osm>\n"
      Files.write(java.nio.file.Paths.get(xml), sb.toString.getBytes("UTF-8"))
      val nFrag = OsmChunk.chunk(xml, s"$dir/frags", 16)
      assert(nFrag >= 2, s"expected multiple fragments, got $nFrag")
      // no fragment may contain an unbalanced comment/CDATA: every
      // fragment must itself parse — count equality proves it
      assert(OsmXmlSource.nodes(spark, s"$dir/frags").count() == 80,
        "node count drifted under comment/CDATA chunking")
      assert(OsmXmlSource.ways(spark, s"$dir/frags").count() == 1)
      val whole = OsmShape.shape(OsmXmlSource.nodes(spark, xml), "node")
        .collect().map(_.toString).sorted
      val parts = OsmShape.shape(OsmXmlSource.nodes(spark, s"$dir/frags"), "node")
        .collect().map(_.toString).sorted
      assert(whole.sameElements(parts), "content drifted")
      // and the cut offsets themselves avoid the comment span
      val bytes = sb.toString.getBytes("UTF-8")
      val cmtFrom = sb.indexOf("<!--"); val cmtTo = sb.indexOf("-->") + 3
      val cuts = OsmChunk.findCuts(xml, (1 until 16).map(k =>
        bytes.length.toLong * k / 16))
      assert(cuts.nonEmpty)
      cuts.foreach(c => assert(c < cmtFrom || c >= cmtTo,
        s"cut $c inside the comment span [$cmtFrom,$cmtTo)"))
      // and read as byte ranges of the one file, without fragment copies
      assert(splitLaw(xml, Seq(2, 16)) > 1)
    }
  }

  test("the scanner never cuts inside a processing instruction — " +
    "decoy element markup in PI content (legal raw '<', ADVICE r13) " +
    "cannot become a fragment boundary, and chunked == unchunked " +
    "holds") {
    withTempDir("osmpi") { dir =>
      val xml = s"$dir/pi.osm"
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
      for (i <- 0 until 40)
        sb ++= s"""  <node id="$i" lat="1.0" lon="2.0" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>\n"""
      // a PI big enough that several evenly spaced targets land INSIDE
      // it, stuffed with decoy element starts
      sb ++= "  <?render\n"
      for (i <- 0 until 2000)
        sb ++= s"""    <node id="fake$i" lat="9" lon="9"/> <way <relation\n"""
      sb ++= "  ?>\n"
      for (i <- 40 until 80)
        sb ++= s"""  <node id="$i" lat="1.0" lon="2.0" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>\n"""
      sb ++= "</osm>\n"
      Files.write(java.nio.file.Paths.get(xml), sb.toString.getBytes("UTF-8"))
      val nFrag = OsmChunk.chunk(xml, s"$dir/frags", 16)
      assert(nFrag >= 2, s"expected multiple fragments, got $nFrag")
      assert(OsmXmlSource.nodes(spark, s"$dir/frags").count() == 80,
        "node count drifted under PI chunking")
      val whole = OsmShape.shape(OsmXmlSource.nodes(spark, xml), "node")
        .collect().map(_.toString).sorted
      val parts = OsmShape.shape(OsmXmlSource.nodes(spark, s"$dir/frags"), "node")
        .collect().map(_.toString).sorted
      assert(whole.sameElements(parts), "content drifted")
      // and the cut offsets themselves avoid the PI span
      val bytes = sb.toString.getBytes("UTF-8")
      val piFrom = sb.indexOf("<?render"); val piTo = sb.indexOf("?>", piFrom) + 2
      val cuts = OsmChunk.findCuts(xml, (1 until 16).map(k =>
        bytes.length.toLong * k / 16))
      assert(cuts.nonEmpty)
      cuts.foreach(c => assert(c < piFrom || c >= piTo,
        s"cut $c inside the PI span [$piFrom,$piTo)"))
      assert(splitLaw(xml, Seq(2, 16)) > 1)
    }
  }

  test("property sweep: 20 seeded-random interleavings of elements, " +
    "decoy-stuffed comments, PIs and CDATA, chunked at n = 2/3/7/16 " +
    "— every (file, n) pair parses to the unchunked counts exactly") {
    withTempDir("osmprop") { dir =>
      // splitmix64 — deterministic, no java.util.Random state
      var z = 0x9e3779b97f4a7c15L
      def rnd(m: Int): Int = {
        z += 0x9e3779b97f4a7c15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        (((x ^ (x >>> 31)) >>> 8) % m).toInt
      }
      for (f <- 0 until 20) {
        val sb = new StringBuilder
        sb ++= "<?xml version=\"1.0\"?>\n<osm version=\"0.6\">\n"
        var (nN, nW, nR) = (0, 0, 0)
        for (_ <- 0 until (20 + rnd(60))) rnd(11) match {
          case 0 | 1 | 2 | 3 | 4 =>
            sb ++= s"""  <node id="${nN + 1000}" lat="1" lon="2"/>\n"""
            nN += 1
          case 5 | 6 =>
            sb ++= s"""  <way id="${nW + 5000}"><nd ref="1000"/><tag k="highway" v="x"/></way>\n"""
            nW += 1
          case 7 =>
            sb ++= s"""  <relation id="${nR + 9000}"><member type="node" ref="1000" role=""/></relation>\n"""
            nR += 1
          case 8 =>
            sb ++= "  <!-- decoy " +
              ("<node id=\"f\" lat=\"9\"/> <way> <relation> " * (1 + rnd(12))) +
              "-->\n"
          case 9 =>
            // processing instruction stuffed with decoys (ADVICE r13:
            // PI content may legally contain raw '<')
            sb ++= "  <?decoy " +
              ("<node id=\"f\" lat=\"9\"/> <way <relation " * (1 + rnd(8))) +
              "?>\n"
          case _ =>
            sb ++= "  <![CDATA[ decoy <node/> <way " +
              ("x" * rnd(64)) + " ]]>\n"
        }
        sb ++= "</osm>\n"
        val xml = s"$dir/p$f.osm"
        Files.write(java.nio.file.Paths.get(xml), sb.toString.getBytes("UTF-8"))
        for (n <- Seq(2, 3, 7, 16)) {
          OsmChunk.chunk(xml, s"$dir/f$f-$n", n)
          assert(OsmXmlSource.nodes(spark, s"$dir/f$f-$n").count() == nN,
            s"file $f n=$n: node count drifted")
          assert(OsmXmlSource.ways(spark, s"$dir/f$f-$n").count() == nW,
            s"file $f n=$n: way count drifted")
          assert(OsmXmlSource.relations(spark, s"$dir/f$f-$n").count() == nR,
            s"file $f n=$n: relation count drifted")
        }
      }
    }
  }

  test("a DOCTYPE-carrying file (DTD internal subsets may embed " +
    "markup) is copied as ONE fragment rather than risked") {
    withTempDir("osmdtd") { dir =>
      val xml = s"$dir/dtd.osm"
      val content = "<?xml version=\"1.0\"?>\n<!DOCTYPE osm [ <!ENTITY e \"x\"> ]>\n" +
        "<osm version=\"0.6\">\n" +
        (0 until 50).map(i =>
          s"""  <node id="$i" lat="1" lon="2" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>""").mkString("\n") +
        "\n</osm>\n"
      Files.write(java.nio.file.Paths.get(xml), content.getBytes("UTF-8"))
      assert(OsmChunk.chunk(xml, s"$dir/frags", 8) == 1)
      val orig = Files.readAllBytes(java.nio.file.Paths.get(xml))
      val copied = Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/frags/part-00000.osm"))
      assert(java.util.Arrays.equals(orig, copied))
    }
  }

  test("chunk refuses a regular file at the output path and reports " +
    "stale-fragment deletion failures loudly") {
    withTempDir("osmclr") { dir =>
      val xml = s"$dir/g.osm"
      OsmEtlBench.generate(xml, 0.0)
      Files.write(java.nio.file.Paths.get(s"$dir/occupied"), "x".getBytes)
      val ex = intercept[RuntimeException](
        OsmChunk.chunk(xml, s"$dir/occupied", 2))
      assert(ex.getMessage.contains("regular file"))
    }
  }

  test("chunk handles degenerate inputs: n=1 copies verbatim, n far " +
    "beyond the element count yields fewer fragments, content intact") {
    withTempDir("osmchunk2") { dir =>
      val xml = s"$dir/tiny.osm"
      OsmEtlBench.generate(xml, 0.0) // generator floors: 10 nodes/2 ways/1 rel
      assert(OsmChunk.chunk(xml, s"$dir/one", 1) == 1)
      val orig = Files.readAllBytes(java.nio.file.Paths.get(xml))
      val copied = Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/one/part-00000.osm"))
      assert(java.util.Arrays.equals(orig, copied), "n=1 is not a verbatim copy")
      val many = OsmChunk.chunk(xml, s"$dir/many", 64)
      assert(many <= 64)
      assert(OsmXmlSource.nodes(spark, s"$dir/many").count() ==
        OsmXmlSource.nodes(spark, xml).count())
      assert(OsmXmlSource.relations(spark, s"$dir/many").count() ==
        OsmXmlSource.relations(spark, xml).count())
    }
  }

  test("collection cuts a single .osm into byte ranges read inside the " +
    "chunk framing: the extract read in N ranges is the extract read in " +
    "one, and a DOCTYPE-carrying file stays one range with the same rows") {
    withTempDir("osmauto") { dir =>
      val xml = s"$dir/auto.osm"
      OsmEtlBench.generate(xml, 0.002)
      assert(splitLaw(xml, Seq(2, 3, 7, 16)) > 1, "the extract was never cut")
      val dtd = s"$dir/dtd.osm"
      Files.write(java.nio.file.Paths.get(dtd),
        ("<?xml version=\"1.0\"?>\n<!DOCTYPE osm [ <!ENTITY e \"x\"> ]>\n" +
          "<osm version=\"0.6\">\n" + (0 until 50).map(i =>
            s"""  <node id="$i" lat="1" lon="2" version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1"/>\n""").mkString +
          "</osm>\n").getBytes("UTF-8"))
      assert(splitLaw(dtd, Seq(2, 8)) == 1, "a DOCTYPE file was cut")
      assert(OsmXmlSource.collection(spark, dtd).count() == 50)
      // the two-argument form aims at one range per core
      assert(rows(OsmXmlSource.collection(spark, xml)) ==
        rows(OsmXmlSource.collection(spark, xml, 0)))
    }
  }

  test("ranges are found through the path's Hadoop FileSystem: a file:// " +
    "URI cuts like the plain path, a directory is at least one range per " +
    "file, and a path matching nothing fails by name") {
    val conf = spark.sparkContext.hadoopConfiguration
    withTempDir("osmremote") { dir =>
      OsmEtlBench.generate(s"$dir/r.osm", 0.002)
      OsmEtlBench.generate(s"$dir/s.osm", 0.001)
      val local = OsmChunk.ranges(s"$dir/r.osm", 4, conf)
      val uri = OsmChunk.ranges(s"file://$dir/r.osm", 4, conf)
      assert(local.length > 1 && uri == local, s"$uri != $local")
      assert(rows(OsmXmlSource.collection(spark, s"file://$dir/r.osm", 4)) ==
        rows(OsmXmlSource.collection(spark, s"$dir/r.osm", 0)))
      assert(OsmChunk.ranges(s"file://$dir", 0, conf).length == 2)
      assert(OsmChunk.ranges(s"file://$dir", 1, conf).length == 2)
      assert(rows(OsmXmlSource.collection(spark, s"file://$dir", 6)) ==
        rows(OsmXmlSource.collection(spark, dir, 0)))
      val ex = intercept[IllegalArgumentException](
        OsmXmlSource.collection(spark, s"file://$dir/nope.osm"))
      assert(ex.getMessage.contains("no OSM input"), ex.getMessage)
    }
  }

  test("looksComplete requires the count-stamped generator header " +
    "AND the closing tag — a stale or truncated file regenerates") {
    withTempDir("osmlc") { dir =>
      val xml = s"$dir/f.osm"
      val (_, nN, nW, nR) = OsmEtlBench.generate(xml, 0.001)
      assert(OsmEtlBench.looksComplete(xml, nN, nW, nR))
      // wrong expected counts (old generator constants) → incomplete
      assert(!OsmEtlBench.looksComplete(xml, nN + 1, nW, nR))
      // truncation (lost </osm>) → incomplete even with a valid header
      val raf = new java.io.RandomAccessFile(xml, "rw")
      try raf.setLength(raf.length() - 8) finally raf.close()
      assert(!OsmEtlBench.looksComplete(xml, nN, nW, nR))
    }
  }

  // ---- DOCTYPE detection in the prologue (r13 review #4) -----------

  test("the cut scanner finds a DTD behind a prologue comment longer " +
    "than any fixed window, and cuts through DOCTYPE text inside a " +
    "comment or a PI") {
    withTempDir("osmdtd2") { dir =>
      def write(name: String, content: String): String = {
        val p = s"$dir/$name"
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          content.getBytes("UTF-8"))
        p
      }
      val nodes = (0 until 20).map(i =>
        s"""  <node id="$i" lat="1" lon="2"/>\n""").mkString
      val pad = "x" * 8192
      val longPrologueDtd = write("a.osm",
        s"<?xml version=\"1.0\"?>\n<!-- $pad -->\n" +
          "<!DOCTYPE osm [ <!ENTITY e \"<node sneaky/>\"> ]>\n" +
          "<osm version=\"0.6\">\n  <node id=\"1\" lat=\"1\" lon=\"2\"/>\n</osm>\n")
      assert(OsmChunk.findCuts(longPrologueDtd, Seq(1L, 4096L)).isEmpty,
        "DTD behind an 8 KiB comment missed")
      // and the chunker actually single-fragments the live-DTD file
      assert(OsmChunk.chunk(longPrologueDtd, s"$dir/frags", 8) == 1)
      // DOCTYPE text that is not markup: commented out, or PI content
      for ((name, hidden) <- Seq("b.osm" -> "<!-- <!DOCTYPE osm [ ]> -->",
          "c.osm" -> "<?render <!DOCTYPE osm [ ]> ?>")) {
        val xml = write(name, s"<?xml version=\"1.0\"?>\n$hidden\n" +
          s"<osm version=\"0.6\">\n$nodes</osm>\n")
        val frags = s"$dir/frags-$name"
        assert(OsmChunk.chunk(xml, frags, 8) > 1,
          s"DOCTYPE text in ${hidden.take(4)} treated as live")
        assert(OsmXmlSource.nodes(spark, frags).count() == 20)
      }
    }
  }
}
