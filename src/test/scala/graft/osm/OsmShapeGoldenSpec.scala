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
  * of `shape`, so they do not come from the code they check.
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

  test("shaped Extended-JSON lines of the generated extract (scale " +
    "0.01) match the recorded count and hash per document type") {
    val dir = Files.createTempDirectory("osmgold").toString
    OsmEtlBench.generate(s"$dir/g.osm", 0.01)
    val got = golden(s"$dir/g.osm")
    val expected = Map(
      "node" -> ((3550L, "c8d4d93b70fd21e6df3b5990db3ec8bbbfc93a9c630048e12fc89fcee330c3c7")),
      "way" -> ((301L, "3978fff2d2a87d6abb2a036eb41be6247c4c79c8dd156bb454a2c098cab94ab6")),
      "relation" -> ((5L, "5491a8bca4914cc26f87699da0212d8a35e9e775d5b074983a20a323a6310b32")))
    assert(got == expected, s"golden drift: $got")
  }

  test("shaped Extended-JSON lines of a routing-edge fixture match the " +
    "recorded count and hash per document type — every tag family, " +
    "including the branches neither extract above reaches") {
    val xml = Files.createTempFile("osmedge", ".osm")
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

  test("shaped Extended-JSON lines of mini.osm match the recorded " +
    "count and hash per document type") {
    val got = golden(getClass.getResource("/mini.osm").getPath)
    val expected = Map(
      "node" -> ((5L, "492b1ac2ef96ab16c90492ae3aaf6b5060654ab337bb39645c8c82cb0b7bd92a")),
      "way" -> ((2L, "46c27bf2696359286cd75556a0a56d974535105cb5ddf968dccb7f9084a63cb7")),
      "relation" -> ((1L, "acd42e6cb3baa5b9543b0a0238f35de7d11404d9d6cd9791cb04e69260b0808d")))
    assert(got == expected, s"golden drift: $got")
  }
}
