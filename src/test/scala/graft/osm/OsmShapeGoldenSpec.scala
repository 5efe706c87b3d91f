package graft.osm

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.MongoExtendedJson

/** Golden output of the shaping stage, per document type: the
  * Extended-JSON lines `mongoimport` would ingest, pinned as a line
  * count plus an order-insensitive hash (SHA-256 over the schema JSON,
  * nullability included, then the sorted lines). Any change to tag
  * routing, cleaning or the document schema moves a hash here; a
  * refactor of [[OsmShape]] must keep them all.
  * The constants were recorded before the single-classification form
  * of `shape`, so they do not come from the code they check; the
  * collection-level and lexical-corner constants were recorded on
  * Spark's built-in XML source (one `rowTag` read per type), before
  * the one-pass reader replaced it.
  */
class OsmShapeGoldenSpec extends SparkSpec {

  private def golden(path: String): Map[String, (Long, String)] =
    Seq("node" -> OsmXmlSource.nodes _, "way" -> OsmXmlSource.ways _,
      "relation" -> OsmXmlSource.relations _).map { case (t, read) =>
      val shaped = OsmShape.shape(read(spark, path), t)
      val lines = shaped
        .select(MongoExtendedJson.toExtendedJsonLine(shaped).as("v"))
        .collect().map(_.getString(0)).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(shaped.schema.json.getBytes("UTF-8"))
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      t -> ((lines.length.toLong, md.digest().map("%02x".format(_)).mkString))
    }.toMap

  private def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** [[OsmXmlSource.collection]] as one relation: its line count, the
    * hash of its sorted Extended-JSON lines, and the hash of its
    * `schema.json` (column order, types and nullability). */
  private def collectionGolden(path: String): (Long, String, String) = {
    val docs = OsmXmlSource.collection(spark, path)
    val lines = docs.select(MongoExtendedJson.toExtendedJsonLine(docs).as("v"))
      .collect().map(_.getString(0)).sorted.toSeq
    (lines.length.toLong, sha256(lines), sha256(Seq(docs.schema.json)))
  }

  /** The collection's schema.json hash, the same for every input. */
  private val collectionSchema =
    "cb03a4a9498ea4e793af9fa6affc10d89682ff015f92c3e5870d542c0f1b71eb"

  test("shaped Extended-JSON lines of the generated extract (scale " +
    "0.01) match the recorded count and hash per document type") {
    withTempDir("osmgold") { dir =>
      OsmEtlBench.generate(s"$dir/g.osm", 0.01)
      val got = golden(s"$dir/g.osm")
      val expected = Map(
        "node" -> ((3550L, "c8d4d93b70fd21e6df3b5990db3ec8bbbfc93a9c630048e12fc89fcee330c3c7")),
        "way" -> ((301L, "3978fff2d2a87d6abb2a036eb41be6247c4c79c8dd156bb454a2c098cab94ab6")),
        "relation" -> ((5L, "5491a8bca4914cc26f87699da0212d8a35e9e775d5b074983a20a323a6310b32")))
      assert(got == expected, s"golden drift: $got")
      val all = collectionGolden(s"$dir/g.osm")
      assert(all == ((3856L, "624ff4e636e5c8692413056a74a5619768e200ab4ae18e527b851e54e12b6e35", collectionSchema)), s"collection drift: $all")
    }
  }

  test("shaped Extended-JSON lines of a routing-edge fixture match the " +
    "recorded count and hash per document type — every tag family, " +
    "including the branches neither extract above reaches") {
    withTempDir("osmedge") { dir =>
      val xml = java.nio.file.Paths.get(dir, "osmedge.osm")
      val attrs = """version="1" changeset="1" timestamp="2015-01-01T00:00:00Z" user="u" uid="1""""
      def tags(kvs: (String, String)*): String =
        kvs.map { case (k, v) => s"""    <tag k="$k" v="$v"/>\n""" }.mkString
      def node(id: Int, kvs: (String, String)*): String =
        s"""  <node id="$id" lat="48.7" lon="-122.4" $attrs>\n${tags(kvs: _*)}  </node>\n"""
      val body =
        node(1, "fuel" -> "yes", "addr:street:name" -> "dropped 3-part",
          "addr:city" -> "Bellingham", "cost:fee" -> "5",
          "fuel:octane_95" -> "YES", "service:bicycle:repair" -> "no") +
        node(2, "payment" -> "No", "tiger:county" -> "Whatcom, WA",
          "gnis:ST_alph" -> "53", "gnis:County_num" -> "73",
          "is_in:state" -> "anything", "is_in" -> "Bellingham") +
        node(3, "fuel" -> "Maybe", "lanes" -> "2.0", "maxheight" -> "12'6&quot;",
          "building:levels" -> "3s", "level" -> "abc", "roof:levels" -> "2") +
        node(4, "name_1" -> "Foo", "name" -> "Bar; Baz",
          "contact:phone" -> "3605550101", "image" -> "foo.jpg",
          "bad key" -> "dropped", "maxspeed:type" -> "sign",
          "addr:unit" -> "Suite 4", "addr:street" -> "Ellis St") +
        s"""  <way id="10" $attrs>\n    <nd ref="2"/>\n    <nd ref="1"/>\n""" +
        tags("highway" -> "residential", "cuisine" -> "thai;pizza",
          "payment:cash" -> "maybe") + "  </way>\n" +
        s"""  <relation id="20" $attrs>\n    <member type="way" ref="10" role="outer"/>\n""" +
        tags("type" -> "multipolygon", "population" -> "x12") + "  </relation>\n"
      Files.write(xml, ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<osm version=\"0.6\">\n" + body + "</osm>\n").getBytes("UTF-8"))
      val got = golden(xml.toString)
      val expected = Map(
        "node" -> ((4L, "b9f7c000a00048d9e5dbfa69a5e380ef941034bb610254bd1dce06ab1923607f")),
        "way" -> ((1L, "9e5e9d21f90061458478c00064276b13b5ea15eb71a4ccd95dc917ca2ac036a1")),
        "relation" -> ((1L, "d2b349ff8f61f19a3de0475ceada559f96243900bee0f404ddf543d52f032d5f")))
      assert(got == expected, s"golden drift: $got")
    }
  }

  test("shaped Extended-JSON lines of mini.osm match the recorded " +
    "count and hash per document type") {
    val got = golden(getClass.getResource("/mini.osm").getPath)
    val expected = Map(
      "node" -> ((5L, "492b1ac2ef96ab16c90492ae3aaf6b5060654ab337bb39645c8c82cb0b7bd92a")),
      "way" -> ((2L, "46c27bf2696359286cd75556a0a56d974535105cb5ddf968dccb7f9084a63cb7")),
      "relation" -> ((1L, "acd42e6cb3baa5b9543b0a0238f35de7d11404d9d6cd9791cb04e69260b0808d")))
    assert(got == expected, s"golden drift: $got")
  }

  /** Lexical corners of XML that the generated extracts never reach:
    * references, multi-byte text, markup between elements, attribute
    * order and padding, lenient numbers, absent and unknown parts. */
  private val lexicalFixture: String = {
    val a = """version="1" changeset="3" timestamp="2015-01-01T00:00:00Z" user="u" uid="1""""
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<!-- prologue comment <node id=\"c0\" lat=\"1\" lon=\"1\"/> -->\n" +
      "<?app-pi <node id=\"p0\"/> ?>\n" +
      "<osm version=\"0.6\" generator=\"fixture\">\n" +
      """  <bounds minlat="48.6" minlon="-122.8" maxlat="49.0" maxlon="-122.0"/>""" + "\n" +
      "  <!-- between elements: <node id=\"c1\" lat=\"1\" lon=\"1\"/> <way id=\"c2\"> & raw < -->\n" +
      s"""  <node uid="7" user = " Jöhn &amp; &quot;Q&quot; ☃ " id=" 101 " lat=" 48.7 " lon="-122.4" version="2" changeset="9" timestamp="2015-01-01T00:00:00Z" extra="ignored">""" + "\n" +
      """    <tag k="name" v="Caf&#xE9; &amp; Bar &#x2603; ☕"/>""" + "\n" +
      """    <tag k="x"/>""" + "\n" +
      """    <unknown a="b"><tag k="nested" v="not a tag of 101"/></unknown>""" + "\n" +
      """    <tag k="amenity" v="cafe">text content</tag>""" + "\n" +
      """    <tag k="phone" v=" (360) 555-0101 "/>""" + "\n" +
      "  </node>\n" +
      "  <?render between <node id=\"p1\"/> ?>\n" +
      "  <![CDATA[ <node id=\"cd\"/> <way ]]>\n" +
      s"""  <node lon="1.5" lat="-0.5" $a id="104"/>""" + "\n" +
      s"""  <node id="105" lat="12abc" lon="+3.5" $a/>""" + "\n" +
      s"""  <node id="106" lat="1,234.5" lon="-1e1" $a/>""" + "\n" +
      s"<node\n    id=\"107\"\tlat=\"1\" lon=\"2\" $a>\n<tag\nk=\"addr:street\"\tv=\"Ellis St\"/></node>\n" +
      s"""  <node id="108" $a></node>""" + "\n" +
      s"""  <way id="201" lat="abc" lon="" $a><nd ref="101"/><nd/><nd ref=" 104 "/><foo/>""" +
      """<tag k="highway" v=" x "/><tag k="cuisine" v="thai; pizza"/></way>""" + "\n" +
      s"""  <way id="202" $a/>""" + "\n" +
      s"""  <relation id="301" lat="" $a><member ref="101" type="node" role=""/>""" +
      """<member type="way"/><member ref="201" role="outer" type="way"/><tag k="type" v="route"/></relation>""" + "\n" +
      s"""  <relation id="302" $a/>""" + "\n" +
      "</osm>\n"
  }

  test("shaped Extended-JSON lines of a lexical-corner fixture match the " +
    "recorded count and hash per document type and for the collection") {
    withTempDir("osmlex") { dir =>
      val xml = java.nio.file.Paths.get(dir, "osmlex.osm")
      Files.write(xml, lexicalFixture.getBytes("UTF-8"))
      val got = golden(xml.toString)
      val expected = Map(
        "node" -> ((6L, "18d71c9d273adb828209a296ef76de840a4f54d7f0d53aec36dfc6b0827bf86b")),
        "way" -> ((2L, "e8e774b3c0078d8e1c189c1cec4ac25a67d38287b4ea61a80fccac39680e1a43")),
        "relation" -> ((2L, "85b731d588bf982addb04134495c469c6a7b242b852ecfb3307aa66f29163a57")))
      assert(got == expected, s"golden drift: $got")
      val all = collectionGolden(xml.toString)
      assert(all == ((10L, "4497c7e3b206acd5d89caa52677372ed3b34a77b45a53e69f58e1f2a9503849e", collectionSchema)), s"collection drift: $all")
    }
  }

  /** Degenerate reference lists and promoted values: an `<nd/>` with no
    * ref among duplicate refs, a way and a relation with no `nd` or
    * `member` child, members missing their type or role, and int tags
    * that promote and that do not. */
  private val degenerateFixture: String = {
    val a = """version="1" changeset="5" timestamp="2015-01-01T00:00:00Z" user="u" uid="1""""
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n" +
      s"""  <way id="401" $a><nd ref="3"/><nd/><nd ref="1"/><nd ref="3"/><nd ref="10"/><nd ref="1"/>""" +
      """<tag k="population" v="1200"/><tag k="seats" v="many"/><tag k="lanes" v="2"/></way>""" + "\n" +
      s"""  <way id="402" $a></way>""" + "\n" +
      s"""  <way id="403" $a><nd/><nd/></way>""" + "\n" +
      s"""  <relation id="501" $a><tag k="type" v="route"/></relation>""" + "\n" +
      s"""  <relation id="502" $a><member ref="401"/><member type="way" ref="402"/>""" +
      """<member role="inner" ref="403"/><member type="node" ref="7" role="stop"/>""" +
      """<tag k="ele" v="12.7"/></relation>""" + "\n" +
      "</osm>\n"
  }

  test("shaped Extended-JSON lines of a degenerate-list fixture: refs " +
    "sorted and distinct with a missing ref last, empty lists null, " +
    "members keeping absent parts absent, int tags wrapped or null") {
    withTempDir("osmdegen") { dir =>
      val xml = java.nio.file.Paths.get(dir, "osmdegen.osm")
      Files.write(xml, degenerateFixture.getBytes("UTF-8"))
      val created = """"created":{"version":"1","changeset":"5",""" +
        """"timestamp":"2015-01-01T00:00:00Z","user":"u","uid":"1"}"""
      val expected = Seq(
        s"""{"_id":"401","doc_type":"way",$created,"int_tags":{""" +
          """"population":{"$numberLong":"1200"},"seats":null,"lanes":{"$numberLong":"2"}},""" +
          """"node_refs":["1","10","3",null]}""",
        s"""{"_id":"402","doc_type":"way",$created}""",
        s"""{"_id":"403","doc_type":"way",$created,"node_refs":[null]}""",
        s"""{"_id":"501","doc_type":"relation",$created,"tags":{"type":"route"}}""",
        s"""{"_id":"502","doc_type":"relation",$created,""" +
          """"int_tags":{"ele":{"$numberLong":"12"}},"members":[{"ref":"401"},""" +
          """{"type":"way","ref":"402"},{"ref":"403","role":"inner"},""" +
          """{"type":"node","ref":"7","role":"stop"}]}""")
      val docs = OsmXmlSource.collection(spark, xml.toString)
      val lines = docs.select(MongoExtendedJson.toExtendedJsonLine(docs).as("v"))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(lines == expected, lines.mkString("\n"))
      val perType = golden(xml.toString)
      assert(perType == Map(
        "node" -> ((0L, "f9ae04511a17483858975adb1e08cc5b0ade3f2c8edf3d197e826015c70c38c0")),
        "way" -> ((3L, "871981b853656d8fbc7713c7de60b8a41ca3d1f6f4372e877144e1a5666a447a")),
        "relation" -> ((2L, "91c0f2271872e34e796a386ec5fc181b0072580080e6787677717b5f235caa7b"))),
        s"golden drift: $perType")
    }
  }

  test("a node whose lat is empty or not a number reads with a null pos, " +
    "and the audit's violations flag it, not the read") {
    for (bad <- Seq("", "abc")) {
      withTempDir("osmbadlat") { dir =>
        val xml = java.nio.file.Paths.get(dir, "osmbadlat.osm")
        Files.write(xml, ("<osm version=\"0.6\">\n" +
          s"""  <node id="1" lat="$bad" lon="2"/>\n""" +
          "  <node id=\"2\" lat=\"1.5\" lon=\"2\"/>\n</osm>\n").getBytes("UTF-8"))
        val docs = OsmXmlSource.collection(spark, xml.toString)
        val pos = docs.select("_id", "pos").collect()
          .map(r => r.getString(0) -> Option(r.getSeq[Double](1))).toMap
        assert(pos == Map("1" -> None, "2" -> Some(Seq(1.5, 2.0))), s"lat=\"$bad\": $pos")
        val flagged = OsmAudit.violations(docs).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(flagged == Seq(("1", "node")), s"lat=\"$bad\": $flagged")
      }
    }
  }
}
