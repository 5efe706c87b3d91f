package graft.osm

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** The byte ranges [[OsmXmlSource]] reads an `.osm` input in: a whole
  * file, or the slice of one file between two cuts read inside a
  * virtual `<osm>` wrapper, so each range parses on its own and one
  * large file parses in parallel. [[chunk]] writes the same ranges out
  * as fragment files.
  *
  * A cut is taken at a top-level element start: `<node`, `<way` or
  * `<relation` followed by whitespace, `/` or `>` (so `<nodes` and
  * `<nd` never match). Raw `<` is illegal in attribute values and
  * character data, so outside comments, CDATA and PIs — which the scan
  * tracks — those bytes can only be markup, and OSM's three element
  * types never nest, so everything before such a start is complete
  * elements. The scan is serial and reads the whole file: a task
  * starting mid-file cannot know whether it is inside a comment. A DTD
  * internal subset may embed markup, so a file with a live
  * `<!DOCTYPE` is one range. The patterns are
  * ASCII and UTF-8 continuation bytes never are, so the byte search is
  * exact whatever the text. */
object OsmChunk {

  private val patterns: Seq[Array[Byte]] =
    Seq("<node", "<way", "<relation").map(_.getBytes("US-ASCII"))
  private val CommentOpen = "<!--".getBytes("US-ASCII")
  private val CommentClose = "-->".getBytes("US-ASCII")
  private val CdataOpen = "<![CDATA[".getBytes("US-ASCII")
  private val CdataClose = "]]>".getBytes("US-ASCII")
  private val PiOpen = "<?".getBytes("US-ASCII")
  private val PiClose = "?>".getBytes("US-ASCII")
  private val Doctype = "<!DOCTYPE".getBytes("US-ASCII")
  /** The lexemes that open and close scan states 1-3: a comment, a
    * CDATA section and a PI, each of which may hold raw `<`. */
  private val Opens = Array(CommentOpen, CdataOpen, PiOpen)
  private val Closes = Array(CommentClose, CdataClose, PiClose)
  /** Longest lexeme the scanner must see whole — the buffer overlap. */
  private val MaxLexeme = CdataOpen.length + 1

  private def isBoundaryFollower(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '/' || b == '>'

  private def matchesAt(buf: Array[Byte], i: Int, len: Int,
      pat: Array[Byte]): Boolean = {
    if (i + pat.length > len) return false
    var j = 0
    while (j < pat.length && buf(i + j) == pat(j)) j += 1
    j == pat.length
  }

  /** Is `i` a top-level element start (`<node|way|relation` + legal
    * follower, fully visible within `len`)? */
  private def isBoundary(buf: Array[Byte], i: Int, len: Int): Boolean = {
    var p = 0
    while (p < patterns.length) {
      val pat = patterns(p)
      if (i + pat.length < len && matchesAt(buf, i, len, pat) &&
        isBoundaryFollower(buf(i + pat.length))) return true
      p += 1
    }
    false
  }

  /** ONE sequential pass over the file, read through its Hadoop
    * FileSystem: for each ascending target offset, the first top-level
    * element start AT OR AFTER it that is not inside a comment, CDATA
    * section or PI — or no cuts at all once a live `<!DOCTYPE`
    * appears (a DTD internal subset may embed markup the scanner does
    * not lex; a DOCTYPE is only legal before the root, so it is always
    * met before any cut). */
  private[osm] def findCuts(in: String, targets: Seq[Long],
      conf: Configuration = localConf): Seq[Long] = {
    if (targets.isEmpty) return Nil
    val path = new Path(in)
    val stream = path.getFileSystem(conf).open(path)
    try {
      val B = 4 << 20
      val buf = new Array[Byte](B)
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
      var base = 0L // file offset of buf(0)
      var want = 0 // valid bytes in buf
      var atEof = false
      var state = 0 // 0 = markup/text, 1 = comment, 2 = CDATA, 3 = PI
      var ti = 0
      while (!atEof && ti < targets.length) {
        while (want < B && !atEof) {
          val r = stream.read(buf, want, B - want)
          if (r < 0) atEof = true else want += r
        }
        // stop the scan MaxLexeme short of the buffer end (unless at
        // EOF) so every lexeme match is decided with full visibility
        val scanEnd = if (atEof) want else want - MaxLexeme
        // each state's lexeme begins at ONE byte value ('<' / '-' /
        // ']' / '?'), so the hot path skips to it at one compare a byte
        // (a per-byte state dispatch scanned at ~210 MB/s; this form is
        // memory-bound)
        var i = 0
        while (i < scanEnd && ti < targets.length) {
          if (state == 0) {
            while (i < scanEnd && buf(i) != '<') i += 1
            if (i < scanEnd) {
              var o = 0
              while (o < Opens.length && !matchesAt(buf, i, want, Opens(o))) o += 1
              if (o < Opens.length) {
                state = o + 1; i += Opens(o).length
              } else if (matchesAt(buf, i, want, Doctype)) {
                return Nil
              } else {
                if (isBoundary(buf, i, want)) {
                  val off = base + i
                  if (off >= targets(ti) &&
                    (cuts.isEmpty || off > cuts.last)) {
                    cuts += off
                    while (ti < targets.length && targets(ti) <= off)
                      ti += 1
                  }
                }
                i += 1
              }
            }
          } else {
            val close = Closes(state - 1)
            val first = close(0)
            while (i < scanEnd && buf(i) != first) i += 1
            if (i < scanEnd) {
              if (matchesAt(buf, i, want, close)) {
                state = 0; i += close.length
              } else i += 1
            }
          }
        }
        // carry the undecided tail to the buffer front (i may overshoot
        // scanEnd after a lexeme jump — the bytes up to i are consumed
        // under the correct state)
        val used = math.max(i, scanEnd)
        System.arraycopy(buf, used, buf, 0, want - used)
        base += used
        want -= used
      }
      cuts.toSeq
    } finally stream.close()
  }

  /** The default Hadoop configuration, loaded once: callers without a
    * Spark session read their input through it. */
  private lazy val localConf = new Configuration()

  private val header =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
      .getBytes("UTF-8")
  private val footer = "</osm>\n".getBytes("UTF-8")

  /** Bytes [start, end) of `path`, a file `fileLen` bytes long, read
    * as one document: a range that starts after byte 0 gets the
    * synthetic header, one that ends before the file does gets the
    * closing tag. */
  private[osm] final case class Range(path: String, start: Long, end: Long,
      fileLen: Long) {
    override def toString: String = s"$path [$start, $end)"
  }

  /** The non-empty files under `path` (a file, directory or glob), in
    * name order; names starting with `_` or `.` are skipped in
    * directories, as Spark's file sources skip them. */
  private def inputFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def visible(st: FileStatus): Boolean =
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(st)
    val matched = Option(fs.globStatus(p)).toSeq.flatten
    require(matched.nonEmpty, s"no OSM input at $path")
    matched.flatMap(leaves).filter(_.getLen > 0).sortBy(_.getPath.toString)
  }

  /** The ranges of every file under `path`, aiming at `parts` ranges
    * across the whole input: the k-th of `parts` evenly spaced offsets
    * over the files' concatenated bytes cuts the file it falls in at
    * the next element start. A file always starts a range, so there
    * are never fewer ranges than files; cuts that resolve to the same
    * element start collapse. `parts <= 0` is one range per file. */
  private[osm] def ranges(path: String, parts: Int,
      conf: Configuration): Seq[Range] = {
    val files = inputFiles(path, conf)
    val total = files.map(_.getLen).sum
    val targets = if (parts <= 0) Nil else (1 until parts).map(k => total * k / parts)
    var base = 0L
    files.flatMap { st =>
      val (p, len) = (st.getPath.toString, st.getLen)
      val local = targets.filter(t => t > base && t < base + len).map(_ - base)
      base += len
      val cuts = 0L +: findCuts(p, local, conf) :+ len
      cuts.sliding(2).map(c => Range(p, c(0), c(1), len))
    }
  }

  /** The bytes of one range, framed. */
  private[osm] def open(r: Range, conf: Configuration): InputStream = {
    val p = new Path(r.path)
    val raw = p.getFileSystem(conf).open(p)
    raw.seek(r.start)
    val parts = Seq[InputStream](
      new ByteArrayInputStream(if (r.start > 0) header else Array.emptyByteArray),
      com.google.common.io.ByteStreams.limit(raw, r.end - r.start),
      new ByteArrayInputStream(if (r.end < r.fileLen) footer else Array.emptyByteArray))
    new SequenceInputStream(parts.iterator.asJavaEnumeration)
  }

  /** Write the ranges of `in` cut for ≤ `n` parts as well-formed `.osm`
    * fragment files under `outDir` (created, or cleared if already a
    * directory), returning the fragment count. Fragment bytes are the
    * original, framed as [[open]] frames them; a small file may yield
    * fewer fragments than asked, and a DOCTYPE-carrying file copies as
    * one fragment. */
  def chunk(in: String, outDir: String, n: Int): Int = {
    require(n >= 1, s"fragment count must be >= 1, got $n")
    val dir = new java.io.File(outDir)
    if (dir.isFile)
      sys.error(s"chunk output path $outDir exists as a regular file")
    if (dir.exists()) {
      dir.listFiles().foreach { f =>
        require(f.delete(), s"could not clear stale ${f.getPath}")
      }
    } else require(dir.mkdirs(), s"could not create $outDir")
    val rs = ranges(in, n, localConf)
    rs.zipWithIndex.foreach { case (r, i) =>
      val bytes = open(r, localConf)
      try Files.copy(bytes, Paths.get(outDir, f"part-$i%05d.osm"))
      finally bytes.close()
    }
    rs.length
  }
}
