package graft.osm

import java.io.{BufferedWriter, File, FileWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import graft.{GraftSession, Memo}
import graft.sinks.MongoImportSink

/** The OSM ETL benchmark at the REFERENCE'S OWN SCALE (VERDICT r11
  * #4): the one throughput figure the reference publishes is its
  * `mongoimport` load — 109 MB / 7.67 s ≈ 14.2 MB/s ≈ 50.3 k docs/s
  * over 385,777 documents (main.ipynb cell 31; BASELINE.md row 7) —
  * and until this bench the engine's OSM path had only ever run on a
  * 2.7 KB fixture. This main synthesizes a greater-Bellingham-shaped
  * `.osm` at the reference's element counts (355,044 nodes / 30,179
  * ways / 554 relations, ~13.4 nd per way, ~33 members per relation —
  * cells 3/36), runs the full engine pipeline
  * `OsmXmlSource → OsmShape → MongoImportSink`, and reports MB/s +
  * docs/s next to the baseline, plus the cell-36 count-parity check
  * (docs out per type == elements generated per type).
  *
  * Honest-comparison notes: the reference's 7.67 s is the LOAD step
  * alone — its Python ETL (iterparse + shape + json dump) ran before
  * the clock started; the engine's timed span covers read + shape +
  * Extended-JSON encode + write, i.e. strictly MORE work than the
  * baseline's span. Two untimed runs over the full extract absorb
  * JVM/JIT and codegen compile (the graft.Bench convention), because
  * mongoimport is a warm native binary.
  *
  * Generation is DETERMINISTIC (fixed-seed PRN via index hashing, no
  * wall clock) so the byte size and counts are reproducible; tag
  * values deliberately exercise the cleaning surface (phone formats,
  * abbreviated street types, lowercase states, `;`-lists, payment/
  * fuel booleans, promoted numerics, problemchars keys).
  */
object OsmEtlBench {

  // reference element counts — main.ipynb cells 3/36 (BASELINE.md)
  private[osm] val N_NODES = 355044
  private[osm] val N_WAYS = 30179
  private[osm] val N_RELS = 554

  /** Deterministic per-index mix (splitmix64 finalizer — public
    * domain constant-folded hashing; no java.util.Random state). */
  private def mix(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(pool: IndexedSeq[String], i: Long, salt: Long): String =
    pool(((mix(i * 31 + salt) >>> 8) % pool.length).toInt)

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

  private def user(i: Long): (String, Long) = {
    val u = (mix(i * 7 + 99).abs % 921) + 1 // 921 contributors, cell 37
    (s"mapper$u", u)
  }
  private def ts(i: Long): String = {
    val m = (mix(i + 3).abs % 12 + 1).toInt
    val d = (mix(i + 5).abs % 28 + 1).toInt
    val h = (mix(i + 7).abs % 24).toInt
    f"201${(i % 10)}%d-$m%02d-$d%02d" + f"T$h%02d:00:00Z"
  }

  private def attrsOf(id: Long, i: Long): String = {
    val (u, uid) = user(i)
    val v = (mix(i + 11).abs % 5 + 1)
    val cs = 100000 + (mix(i + 13).abs % 900000)
    s"""id="$id" version="$v" changeset="$cs" timestamp="${ts(i)}" user="$u" uid="$uid""""
  }

  /** Node tag block — ~10% of nodes tagged, 2–4 tags, mixing every
    * cleaning family (the reference's 131,881 tags over 385,777
    * elements is the same ~1:3 tagged ratio, cell 3). */
  private def nodeTags(i: Long): String = {
    if (mix(i).abs % 10 != 0) return ""
    val sb = new StringBuilder
    val kind = (mix(i + 17).abs % 5).toInt
    kind match {
      case 0 =>
        sb ++= s"""    <tag k="amenity" v="${pick(amenities, i, 1)}"/>\n"""
        sb ++= s"""    <tag k="phone" v="${pick(phones, i, 2)}"/>\n"""
        sb ++= s"""    <tag k="cuisine" v="${pick(cuisines, i, 3)}"/>\n"""
      case 1 =>
        sb ++= s"""    <tag k="addr:street" v="${pick(streets, i, 4)}"/>\n"""
        sb ++= s"""    <tag k="addr:state" v="${pick(states, i, 5)}"/>\n"""
        sb ++= f"""    <tag k="addr:postcode" v="982${mix(i + 19).abs % 100}%02d"/>\n"""
        sb ++= s"""    <tag k="addr:housenumber" v="${mix(i + 23).abs % 4000 + 1}"/>\n"""
      case 2 =>
        sb ++= s"""    <tag k="payment:visa" v="${if (mix(i + 29).abs % 2 == 0) "yes" else "no"}"/>\n"""
        sb ++= s"""    <tag k="payment:cash" v="yes"/>\n"""
        sb ++= s"""    <tag k="fuel:diesel" v="${if (mix(i + 31).abs % 2 == 0) "yes" else "no"}"/>\n"""
      case 3 =>
        sb ++= s"""    <tag k="lanes" v="${mix(i + 37).abs % 6 + 1}"/>\n"""
        sb ++= s"""    <tag k="maxheight" v="${mix(i + 41).abs % 8 + 2}.5"/>\n"""
        sb ++= s"""    <tag k="is_in" v="Bellingham"/>\n"""
      case _ =>
        sb ++= s"""    <tag k="contact:phone" v="${pick(phones, i, 6)}"/>\n"""
        sb ++= s"""    <tag k="gnis:County_num" v="${if (mix(i + 43).abs % 9 == 0) "73" else "073"}"/>\n"""
        if (mix(i + 47).abs % 7 == 0)
          sb ++= s"""    <tag k="bad key" v="dropped by problemchars"/>\n"""
    }
    sb.result()
  }

  /** Write the reference-scale .osm; returns (bytes, node, way, rel).
    * Writes to `path.tmp` then renames, so an interrupted run can
    * never leave a truncated file under the real name (the reuse
    * check in [[main]] would otherwise trust it forever). */
  private[osm] def generate(path: String, scale: Double = 1.0): (Long, Long, Long, Long) = {
    val (nN, nW, nR) = ((N_NODES * scale).toLong.max(10),
      (N_WAYS * scale).toLong.max(2), (N_RELS * scale).toLong.max(1))
    val f = new File(path + ".tmp")
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new BufferedWriter(new FileWriter(f), 1 << 20)
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      // the generator stamp carries the EXPECTED ELEMENT COUNTS so
      // [[looksComplete]] can verify a reused file came from THIS
      // generator at THIS scale (ADVICE r12: a bare size+tail check
      // would trust a stale file from an older generator forever,
      // failing parity on every run with no self-heal)
      w.write(s"""<osm version="0.6" generator="graft-bench" """ +
        s"""data-nodes="$nN" data-ways="$nW" data-relations="$nR">\n""")
      w.write("""  <bounds minlat="48.602" minlon="-122.8244" maxlat="49.0027" maxlon="-122.0787"/>""" + "\n")
      var i = 0L
      while (i < nN) {
        val lat = 48.602 + (mix(i + 53).abs % 400000) / 1000000.0
        val lon = -122.8244 + (mix(i + 59).abs % 740000) / 1000000.0
        val tags = nodeTags(i)
        if (tags.isEmpty)
          w.write(s"""  <node ${attrsOf(1000000 + i, i)} lat="$lat" lon="$lon"/>\n""")
        else {
          w.write(s"""  <node ${attrsOf(1000000 + i, i)} lat="$lat" lon="$lon">\n""")
          w.write(tags); w.write("  </node>\n")
        }
        i += 1
      }
      i = 0L
      while (i < nW) {
        val id = 5000000 + i
        w.write(s"""  <way ${attrsOf(id, i + nN)}>\n""")
        val nds = 8 + (i % 12) // avg 13.5 ≈ the reference's 13.4
        var j = 0L
        while (j < nds) {
          w.write(s"""    <nd ref="${1000000 + mix(i * 131 + j).abs % nN}"/>\n""")
          j += 1
        }
        w.write(s"""    <tag k="highway" v="${pick(highways, i, 61)}"/>\n""")
        if (i % 3 == 0)
          w.write(s"""    <tag k="name" v="${pick(streets, i, 67)}"/>\n""")
        if (i % 9 == 0)
          w.write(s"""    <tag k="service" v="driveway"/>\n""")
        w.write("  </way>\n")
        i += 1
      }
      i = 0L
      while (i < nR) {
        val id = 9000000 + i
        w.write(s"""  <relation ${attrsOf(id, i + nN + nW)}>\n""")
        val mems = 30 + (i % 6) // avg 32.5 ≈ the reference's 32.8
        var j = 0L
        while (j < mems) {
          val isWay = mix(i * 17 + j).abs % 3 == 0
          val (t, r) =
            if (isWay) ("way", 5000000 + mix(i * 19 + j).abs % nW)
            else ("node", 1000000 + mix(i * 23 + j).abs % nN)
          w.write(s"""    <member type="$t" ref="$r" role="${if (j == 0) "outer" else ""}"/>\n""")
          j += 1
        }
        w.write("""    <tag k="type" v="multipolygon"/>""" + "\n")
        w.write(s"""    <tag k="name" v="Area ${mix(i + 71).abs % 500}"/>\n""")
        w.write("  </relation>\n")
        i += 1
      }
      w.write("</osm>\n")
    } finally w.close()
    val dest = new File(path)
    if (dest.exists()) dest.delete()
    require(f.renameTo(dest), s"rename ${f.getPath} -> $path failed")
    (dest.length(), nN, nW, nR)
  }

  /** True only for a file that IS a completed generate of the
    * expected counts: the header's generator stamp must carry
    * EXACTLY the expected element counts (so a file from an older
    * generator version — different constants or tag mix, hence no or
    * different stamp — is regenerated, ADVICE r12) AND the closing
    * `</osm>` tag must be present (truncation guard). */
  private[osm] def looksComplete(path: String,
      nN: Long = N_NODES, nW: Long = N_WAYS, nR: Long = N_RELS): Boolean = {
    val f = new File(path)
    f.exists() && f.length() > 0 && {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val head = new Array[Byte](512)
        val hn = raf.read(head)
        val headStr = if (hn > 0) new String(head, 0, hn, "UTF-8") else ""
        val stamped = headStr.contains(s"""generator="graft-bench" """ +
          s"""data-nodes="$nN" data-ways="$nW" data-relations="$nR"""")
        val tail = new Array[Byte](16)
        raf.seek(math.max(0L, f.length() - 16))
        val tn = raf.read(tail)
        stamped && tn > 0 &&
          new String(tail, 0, tn, "UTF-8").contains("</osm>")
      } finally raf.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "target/osm-bench"
    val xml = s"$dir/bellingham_synth.osm"
    val out = s"$dir/dump"
    val spark = GraftSession.local("graft-osm-bench")
    // generate (idempotent: the deterministic generator always makes
    // the same bytes, so an existing COMPLETE full-size file is
    // reused; anything else — absent, truncated, tag-less — is
    // regenerated)
    val (bytes, nN, nW, nR) =
      if (looksComplete(xml))
        (new File(xml).length(), N_NODES.toLong, N_WAYS.toLong, N_RELS.toLong)
      else generate(xml)
    // The pipeline `graft.Main` runs: the reader cuts the single .osm
    // into ~|cores| byte ranges (one serial cut scan, no copy) and
    // parses one range per task; the shaped collection is dumped in
    // one write.
    def etl(inXml: String, outDir: String): Unit =
      Memo.timed("osm_etl", "write")(MongoImportSink.write(
        OsmXmlSource.collection(spark, inXml), outDir, overwrite = true))
    // two untimed runs of the full extract warm the JVM like the
    // baseline's native binary: after one, the first timed run was
    // still the slowest of three in every A/B run (the JIT was still
    // compiling), so min-of-3 rested on the later runs
    etl(xml, out)
    etl(xml, out)
    // the timed span: cut scan + read + shape + Extended-JSON encode +
    // write. min-of-3 with a recorded spread — the graft.Bench
    // convention (a single-shot record made the headline hostage to
    // box state; the baseline's mongoimport is a warm native binary,
    // so the engine's best-of-warm is the like-for-like figure).
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      etl(xml, out)
      (System.nanoTime() - t0) / 1e9
    }
    val secs = runs.min
    val spread = runs.max - runs.min
    // the median beside the min: the first timed run is still the
    // slowest in every A/B, so the min alone hides a warming JIT
    val median = runs.sorted.apply(runs.length / 2)
    // cell-36 parity: docs out per type == elements generated per
    // type; same pass totals the dump bytes (the baseline's 14.2 MB/s
    // is measured over the JSON being IMPORTED, so the output-side
    // rate is the apples-to-apples MB/s)
    // octet_length, not length: length() counts CHARACTERS, which
    // only equals bytes while the corpus stays pure ASCII — a future
    // non-ASCII tag value would silently misreport MB/s (ADVICE r12)
    val stats = spark.read.text(out)
      .select(get_json_object(col("value"), "$.doc_type").as("t"),
        (octet_length(col("value")) + 1).cast("long").as("b"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"), sum(col("b")).as("b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val counts = stats.view.mapValues(_._1).toMap
    val outBytes = stats.values.map(_._2).sum
    val docs = counts.values.sum
    val parity = counts == Map("node" -> nN, "way" -> nW, "relation" -> nR)
    val mb = bytes / 1e6
    val line =
      f"""{"metric":"osm_etl","input_bytes":$bytes,"output_bytes":$outBytes,"docs":$docs,"secs":$secs%.2f,"median_secs":$median%.2f,"spread":$spread%.2f,""" +
        f""""input_mb_per_sec":${mb / secs}%.1f,"output_mb_per_sec":${outBytes / 1e6 / secs}%.1f,""" +
        f""""kdocs_per_sec":${docs / secs / 1000}%.1f,""" +
        s""""node":${counts.getOrElse("node", 0L)},"way":${counts.getOrElse("way", 0L)},""" +
        s""""relation":${counts.getOrElse("relation", 0L)},"parity":$parity,""" +
        s""""baseline":"14.2 MB/s, 50.3 kdocs/s over 385,777 docs (BASELINE.md row 7)"}"""
    println(line)
    // record of record: written ONLY on parity (the BENCH_FULL.json
    // convention — a failed run must never clobber a good record)
    if (parity)
      try java.nio.file.Files.write(java.nio.file.Paths.get("OSM_BENCH.json"),
        (line + "\n").getBytes("UTF-8"))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[osm-bench] could not write " +
            s"${new File("OSM_BENCH.json").getAbsolutePath}: $e")
      }
    spark.stop()
    if (!parity) {
      System.err.println(s"[osm-bench] COUNT PARITY FAILED: $counts != " +
        s"node=$nN way=$nW relation=$nR — OSM_BENCH.json NOT overwritten")
      sys.exit(1)
    }
  }
}
