package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded generator of a greater-Bellingham-shaped `.osm` extract.
  *
  * At scale 1.0 it writes the reference's element counts (355,044
  * nodes, 30,179 ways, 554 relations; ~13.5 node refs per way, ~32.5
  * members per relation) with the tag mix of `graft.osm.OsmEtlBench`:
  * phone formats, abbreviated street types, lowercase states,
  * `;`-lists, payment/fuel booleans, promoted numerics and a
  * problem-character key. The seed moves every value and leaves every
  * count alone, so all seeds cost the same work. Seed 0 writes the same
  * bytes as `OsmEtlBench.generate` at the same scale.
  */
object OsmGen {
  val Nodes = 355044L
  val Ways = 30179L
  val Relations = 554L

  final case class Extract(bytes: Long, nodes: Long, ways: Long, relations: Long)

  def counts(scale: Double): (Long, Long, Long) =
    ((Nodes * scale).toLong.max(10), (Ways * scale).toLong.max(2),
      (Relations * scale).toLong.max(1))

  private val phones = IndexedSeq(
    "(360) 555-0101", "+1 360-555-0102", "360.555.0103", "3605550104",
    "+1 (360) 555-0105 ext. 12", "555-0106", "1-360-555-0107",
    "360 555 0108 9")
  private val streets = IndexedSeq(
    "North Forest St.", "Ellis Street", "Cornwall Ave", "Maple st",
    "Holly Street #210", "E Magnolia Street", "Alabama Hill Rd",
    "Guide Meridian", "Pacific Hwy", "James St SE", "Samish Way",
    "Lakeway Dr.", "Northwest Avenue", "Telegraph Road")
  private val states = IndexedSeq("WA", "wa", "Washington", "OR", "washington")
  private val cuisines = IndexedSeq(
    "coffee_shop; bakery", "pizza;italian", "mexican", "burger; fast_food",
    "thai; vietnamese")
  private val amenities = IndexedSeq(
    "cafe", "restaurant", "school", "parking", "fuel", "bank", "pharmacy")
  private val highways = IndexedSeq(
    "residential", "service", "footway", "secondary", "primary", "path")

  def write(path: String, seed: Long, scale: Double): Extract =
    new Writer(seed).write(path, scale)

  private final class Writer(seed: Long) {
    private val salt = seed * 0x632be59bd9b4e019L

    /** splitmix64 finalizer over the seeded index */
    private def mix(i: Long): Long = {
      var z = i + salt + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    private def pick(pool: IndexedSeq[String], i: Long, s: Long): String =
      pool(((mix(i * 31 + s) >>> 8) % pool.length).toInt)

    private def attrs(sb: StringBuilder, id: Long, i: Long): Unit = {
      val uid = (mix(i * 7 + 99).abs % 921) + 1
      val m = (mix(i + 3).abs % 12 + 1).toInt
      val d = (mix(i + 5).abs % 28 + 1).toInt
      val h = (mix(i + 7).abs % 24).toInt
      sb ++= "id=\"" ++= id.toString ++= "\" version=\"" ++=
        (mix(i + 11).abs % 5 + 1).toString ++= "\" changeset=\"" ++=
        (100000 + mix(i + 13).abs % 900000).toString ++= "\" timestamp=\"" ++=
        f"201${i % 10}%d-$m%02d-$d%02dT$h%02d:00:00Z" ++= "\" user=\"mapper" ++=
        uid.toString ++= "\" uid=\"" ++= uid.toString ++= "\""
    }

    private def tag(sb: StringBuilder, k: String, v: String): Unit =
      sb ++= "    <tag k=\"" ++= k ++= "\" v=\"" ++= v ++= "\"/>\n"

    /** ~10% of nodes carry 2-4 tags from one cleaning family */
    private def nodeTags(sb: StringBuilder, i: Long): Unit =
      (mix(i + 17).abs % 5).toInt match {
        case 0 =>
          tag(sb, "amenity", pick(amenities, i, 1))
          tag(sb, "phone", pick(phones, i, 2))
          tag(sb, "cuisine", pick(cuisines, i, 3))
        case 1 =>
          tag(sb, "addr:street", pick(streets, i, 4))
          tag(sb, "addr:state", pick(states, i, 5))
          tag(sb, "addr:postcode", f"982${mix(i + 19).abs % 100}%02d")
          tag(sb, "addr:housenumber", (mix(i + 23).abs % 4000 + 1).toString)
        case 2 =>
          tag(sb, "payment:visa", if (mix(i + 29).abs % 2 == 0) "yes" else "no")
          tag(sb, "payment:cash", "yes")
          tag(sb, "fuel:diesel", if (mix(i + 31).abs % 2 == 0) "yes" else "no")
        case 3 =>
          tag(sb, "lanes", (mix(i + 37).abs % 6 + 1).toString)
          tag(sb, "maxheight", s"${mix(i + 41).abs % 8 + 2}.5")
          tag(sb, "is_in", "Bellingham")
        case _ =>
          tag(sb, "contact:phone", pick(phones, i, 6))
          tag(sb, "gnis:County_num", if (mix(i + 43).abs % 9 == 0) "73" else "073")
          if (mix(i + 47).abs % 7 == 0) tag(sb, "bad key", "dropped by problemchars")
      }

    def write(path: String, scale: Double): Extract = {
      val (nN, nW, nR) = counts(scale)
      val f = new File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
      val sb = new StringBuilder(1 << 16)
      def flush(): Unit =
        if (sb.length > (1 << 15)) { out.write(sb.toString.getBytes(UTF_8)); sb.clear() }
      try {
        sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
        sb ++= s"""<osm version="0.6" generator="graft-bench" """ +
          s"""data-nodes="$nN" data-ways="$nW" data-relations="$nR">\n"""
        sb ++= """  <bounds minlat="48.602" minlon="-122.8244" maxlat="49.0027" maxlon="-122.0787"/>""" + "\n"
        var i = 0L
        while (i < nN) {
          val lat = 48.602 + (mix(i + 53).abs % 400000) / 1000000.0
          val lon = -122.8244 + (mix(i + 59).abs % 740000) / 1000000.0
          sb ++= "  <node "; attrs(sb, 1000000 + i, i)
          sb ++= " lat=\"" ++= lat.toString ++= "\" lon=\"" ++= lon.toString
          if (mix(i).abs % 10 != 0) sb ++= "\"/>\n"
          else { sb ++= "\">\n"; nodeTags(sb, i); sb ++= "  </node>\n" }
          flush(); i += 1
        }
        i = 0L
        while (i < nW) {
          sb ++= "  <way "; attrs(sb, 5000000 + i, i + nN); sb ++= ">\n"
          var j = 0L
          while (j < 8 + i % 12) {
            sb ++= "    <nd ref=\"" ++= (1000000 + mix(i * 131 + j).abs % nN).toString ++= "\"/>\n"
            j += 1
          }
          tag(sb, "highway", pick(highways, i, 61))
          if (i % 3 == 0) tag(sb, "name", pick(streets, i, 67))
          if (i % 9 == 0) tag(sb, "service", "driveway")
          sb ++= "  </way>\n"
          flush(); i += 1
        }
        i = 0L
        while (i < nR) {
          sb ++= "  <relation "; attrs(sb, 9000000 + i, i + nN + nW); sb ++= ">\n"
          var j = 0L
          while (j < 30 + i % 6) {
            val (t, r) =
              if (mix(i * 17 + j).abs % 3 == 0) ("way", 5000000 + mix(i * 19 + j).abs % nW)
              else ("node", 1000000 + mix(i * 23 + j).abs % nN)
            sb ++= "    <member type=\"" ++= t ++= "\" ref=\"" ++= r.toString ++=
              "\" role=\"" ++= (if (j == 0) "outer" else "") ++= "\"/>\n"
            j += 1
          }
          tag(sb, "type", "multipolygon")
          tag(sb, "name", s"Area ${mix(i + 71).abs % 500}")
          sb ++= "  </relation>\n"
          flush(); i += 1
        }
        sb ++= "</osm>\n"
        out.write(sb.toString.getBytes(UTF_8))
      } finally out.close()
      Extract(f.length(), nN, nW, nR)
    }
  }
}
