package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariants the plan-shape specs can't see.
  *
  * The one pinned here is the r6 storage rule: **checkpoint
  * signatures, never the corpus**. `localCheckpoint` truncates
  * lineage and stores the data in executor-local storage only — on a
  * real cluster a lost executor then makes the relation
  * unrecoverable, which is fine for a model-sized or signature-sized
  * intermediate (cheap to rebuild by rerunning the query) but fatal
  * for a corpus-scale relation at 100 TB. Corpus-scale projections
  * must use `persist(StorageLevel.MEMORY_AND_DISK)` so lineage
  * survives and a lost partition recomputes.
  *
  * DedupOps is the single allowlisted caller: its checkpoint sites
  * are the memoized MinHash SIGNATURE table and the d7/d9/d10
  * label/candidate sets — signature-scale by construction (the point
  * of the r9 hashed-shingle payload). Any new `localCheckpoint` in
  * another file fails here BY NAME so the next trainer can't
  * reintroduce the kmInit/lrCorpus regression this spec retired.
  */
class SourceInvariantSpec extends AnyFunSuite {

  private def scalaSources(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")).toSeq ++
      kids.filter(_.isDirectory).flatMap(scalaSources)
  }

  private val mainRoot = new java.io.File("src/main/scala/graft")

  /** A source file's code with line comments and scaladoc stripped, so
    * prose mentions don't trip the checks. */
  private def code(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines()
      .map(l => l.replaceAll("//.*$", ""))
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/**"))
      .mkString("\n")
    finally src.close()
  }

  /** Files allowed to localCheckpoint: each stores SIGNATURE-CLASS
    * narrow relations only, never a corpus projection. DedupOps
    * checkpoints (doc_id, hashed-shingle, minhash) signatures;
    * GraphOps checkpoints the memoized (id, id) co-purchase edge
    * list (the r9 edge memo — same discipline, graph flavor);
    * PipelineOps checkpoints the memoized per-doc verdict relations
    * (doc_id + quality flags / contamination count — one narrow row
    * per doc, shared by pipe5/pipe6/pipe9, r11 verdict #6). */
  // RetrievalOps joined in r17: the memo_nb_scores checkpoint (the
  // same per-corpus-version memo class as the dedup signatures and
  // pipeline verdicts — docs-sized, never corpus-token-sized).
  // r18 (ADVICE r17 #1): the allowlist pins an EXACT occurrence
  // count per file, not mere membership — a second unaudited
  // checkpoint in an already-listed file goes red here by name.
  private val checkpointAllowlist: Map[String, Int] =
    Map("DedupOps.scala" -> 5, "GraphOps.scala" -> 2,
      "PipelineOps.scala" -> 3, "RetrievalOps.scala" -> 1)

  test("localCheckpoint call sites match the audited allowlist " +
    "EXACTLY (file and count) — corpus-scale projections must " +
    "persist(MEMORY_AND_DISK)") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val counts = scalaSources(mainRoot).flatMap { f =>
      val occ = code(f).sliding(".localCheckpoint(".length)
        .count(_ == ".localCheckpoint(")
      if (occ > 0) Some(f.getName -> occ) else None
    }.toMap
    assert(counts == checkpointAllowlist,
      s"localCheckpoint sites drifted from the audited allowlist: " +
        s"found $counts, expected $checkpointAllowlist — corpus-scale " +
        "relations must keep lineage; use " +
        "persist(StorageLevel.MEMORY_AND_DISK) instead, or re-audit " +
        "and re-pin")
  }

  test("TrieMap is declared only in Memo.scala — every per-session " +
    "memo goes through the one version-stamped registry, so a " +
    "hand-rolled memo map fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val users = scalaSources(mainRoot).filter(code(_).contains("TrieMap"))
      .map(_.getName).toSet
    assert(users == Set("Memo.scala"),
      s"TrieMap outside the memo registry: ${users - "Memo.scala"}")
  }

  test("Future and ExecutionContext appear only in Memo.scala — " +
    "concurrent build steps go through the one step runner (Memo.run), " +
    "so a hand-rolled Future.sequence runner fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val concurrent = "\\b(Future|ExecutionContext)\\b".r
    val users = scalaSources(mainRoot)
      .filter(f => concurrent.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(users == Set("Memo.scala"),
      s"Future/ExecutionContext outside the step runner: ${users - "Memo.scala"}")
  }

  /** A mutable map keyed on a `SparkSession` (alone or first in a
    * tuple key): the shape of a hand-rolled per-session registry. */
  private val sessionMap =
    """\b(mutable\.\w*Map|concurrent\.\w*Map|TrieMap|\w*HashMap)(\s*\.\s*empty)?\s*\[\s*\(?\s*(\w+\.)*SparkSession\b""".r

  test("the session-map pattern sees every mutable session-keyed map " +
    "and no other map") {
    val maps = Seq(
      "scala.collection.mutable.Map\n    .empty[SparkSession, ArrayBuffer[DataFrame]]",
      "mutable.HashMap.empty[SparkSession, Long]",
      "new java.util.WeakHashMap[SparkSession, String]()",
      "new ConcurrentHashMap[org.apache.spark.sql.SparkSession, V]",
      "TrieMap.empty[(SparkSession, String, Long), V]",
      "mutable.Map[(SparkSession, String), DataFrame]()")
    maps.foreach(m => assert(sessionMap.findFirstIn(m).isDefined, s"missed: $m"))
    val others = Seq("val queries: Map[String, (SparkSession, String) => DataFrame]",
      "mutable.HashMap.empty[String, Long]", "TrieMap.empty[(String, Long), SparkSession]",
      "def get(s: SparkSession, d: String)", "Map.empty[SparkSession, Long]")
    others.foreach(o => assert(sessionMap.findFirstIn(o).isEmpty, s"false hit: $o"))
  }

  test("a SparkSession-keyed mutable map is declared only in Memo.scala — " +
    "session-scoped state goes through the one memo registry, and " +
    "per-query scratch is released by the caller's clearCache, so a " +
    "second hand-rolled session registry fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val users = scalaSources(mainRoot)
      .filter(f => sessionMap.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(users == Set("Memo.scala"),
      s"session-keyed mutable maps outside the memo registry: ${users - "Memo.scala"}")
  }

  /** A parquet read: `.read` then any option/schema calls (arguments
    * nested up to three parentheses deep), ending in `.parquet(` or
    * `.format("parquet")`, across line breaks. */
  private val parquetRead =
    """\.read(\s*\.(?!parquet\b|format\b)\w+\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*\s*\.(parquet\(|format\(\s*"parquet"\s*\))""".r

  test("the parquet-read pattern sees every read form and no write") {
    val reads = Seq("spark.read.parquet(p)", "s.read.schema(st).parquet(p)",
      "spark.read\n  .schema(memo.get(s, d)(infer(p)))\n  .parquet(p)",
      "spark.read.option(\"mergeSchema\", \"true\").parquet(p)",
      "spark.read.format(\"parquet\").load(p)")
    reads.foreach(r => assert(parquetRead.findFirstIn(r).isDefined, s"missed: $r"))
    val others = Seq("df.write.mode(\"overwrite\").parquet(p)", "spark.read.text(p)",
      "spark.read.format(\"xml\").load(p)", "raf.read(buf)")
    others.foreach(o => assert(parquetRead.findFirstIn(o).isEmpty, s"false hit: $o"))
  }

  test("parquet is read only in Tables.scala — every table open goes " +
    "through Tables.apply and its schema memo, so a query that reads " +
    "parquet itself (and pays a schema-inference job per call) fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val readers = scalaSources(mainRoot)
      .filter(f => parquetRead.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(readers == Set("Tables.scala"),
      s"parquet reads outside Tables.scala: ${readers - "Tables.scala"}")
  }

  test("no Catalyst Expression, Aggregate, Generator or CodegenFallback " +
    "subclass is declared in src/main — every JVM kernel reaches Catalyst " +
    "through the one Kernel (StaticInvoke) binding, so a hand-written " +
    "expression class fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val expression =
      """\b(extends|with)\s+(\w+\.)*\w*(Expression|Aggregate|AggregateFunction|Generator|CodegenFallback)\b""".r
    val declaring = scalaSources(mainRoot)
      .filter(f => expression.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(declaring.isEmpty, s"Catalyst expression subclasses in src/main: $declaring")
  }

  test("StaticInvoke is constructed only in Kernel.scala — the one " +
    "kernel binding cannot fork into a second hand-rolled one") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val construct = """\bStaticInvoke\s*(\.\s*apply\s*)?[(\[]""".r
    val sites = scalaSources(mainRoot)
      .filter(f => construct.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(sites == Set("Kernel.scala"), s"StaticInvoke constructed in: $sites")
  }

  test("the OSM XML is read one way: Spark's per-rowTag XML source " +
    "(format(\"xml\")) appears nowhere in src/main and an XMLInputFactory " +
    "is constructed in exactly one place, so a second parser fails here by name") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    def text(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val xmlSource = scalaSources(mainRoot).filter(text(_).contains("format(\"xml\")"))
      .map(_.getName)
    assert(xmlSource.isEmpty, s"format(\"xml\") in src/main: $xmlSource")
    val factory = "XMLInputFactory\\.new\\w*".r
    val sites = scalaSources(mainRoot)
      .flatMap(f => factory.findAllIn(code(f)).map(_ => f.getName))
    assert(sites == Seq("OsmXmlSource.scala"), s"XMLInputFactory constructions: $sites")
  }

  /** A text write: `.write` then any mode/option calls (arguments
    * nested up to three parentheses deep), ending in `.text(` or
    * `.format("text")`, across line breaks. */
  private val textWrite =
    """\.write(\s*\.(?!text\b|format\b)\w+\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*\s*\.(text\(|format\(\s*"text"\s*\))""".r

  test("the text-write pattern sees every write form and no read") {
    val writes = Seq("df.write.text(p)", "df.write.mode(mode(overwrite)).text(path)",
      "df.select(v)\n  .write.mode(\"append\").option(\"compression\", \"gzip\").text(p)",
      "df.write.format(\"text\").save(p)")
    writes.foreach(w => assert(textWrite.findFirstIn(w).isDefined, s"missed: $w"))
    val others = Seq("spark.read.text(p)", "df.write.mode(\"overwrite\").json(p)",
      "df.write.parquet(p)", "LineWriter.write(lines, path, overwrite)")
    others.foreach(o => assert(textWrite.findFirstIn(o).isEmpty, s"false hit: $o"))
  }

  test("text is written through the one line writer: no DataFrameWriter " +
    "text write in src/main, and both text sinks call LineWriter.write") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val writers = scalaSources(mainRoot)
      .filter(f => textWrite.findFirstIn(code(f)).isDefined).map(_.getName)
    assert(writers.isEmpty, s"DataFrameWriter text writes in src/main: $writers")
    val callers = scalaSources(mainRoot)
      .filter(code(_).contains("LineWriter.write(")).map(_.getName).toSet
    assert(callers == Set("MongoSink.scala", "DocumentSinks.scala"),
      s"LineWriter.write callers: $callers")
  }

  test("a Hadoop configuration is wrapped for shipping only as the " +
    "argument of sparkContext.broadcast, so no task closure carries one " +
    "(every task deserialized its own copy, 5-7 ms each)") {
    assert(mainRoot.isDirectory, s"source root not found at ${mainRoot.getAbsolutePath}")
    val wrap = """new\s+(SerializableConfiguration|SerializableWritable)\b""".r
    val sites = scalaSources(mainRoot).flatMap { f =>
      val c = code(f)
      wrap.findAllMatchIn(c).map(m => f.getName -> c.substring(0, m.start).trim.endsWith(".broadcast("))
    }
    assert(sites.nonEmpty, "no wrapped configuration found: the pattern is stale")
    val loose = sites.collect { case (f, false) => f }
    assert(loose.isEmpty, s"configuration wrapped outside sparkContext.broadcast in: $loose")
    assert(sites.map(_._1).toSet == Set("OsmXmlSource.scala", "LineWriter.scala"),
      s"broadcast configurations in: $sites")
  }

  /** Every Scala source of the engine, its specs and the benchmark
    * harness: a session built anywhere in one of them can be the one
    * that sizes the JVM-global codegen cache. */
  private val allRoots = Seq("src/main/scala", "src/test/scala", "perfbench/src/main/scala")
    .map(new java.io.File(_))

  test("a SparkSession builder appears only in GraftSession.scala and " +
    "SparkSpec.scala — Spark sizes its JVM-global codegen cache from the " +
    "first session that generates code, so any other builder could fix " +
    "it at the default cap of 100 for the whole JVM") {
    assert(allRoots.forall(_.isDirectory), s"source roots: ${allRoots.map(_.getAbsolutePath)}")
    val builder = """SparkSession\s*\.\s*[Bb]uilder\b""".r
    val sites = allRoots.flatMap(scalaSources)
      .filter(f => builder.findFirstIn(code(f)).isDefined)
      .map(_.getName).toSet
    assert(sites == Set("GraftSession.scala", "SparkSpec.scala"),
      s"session builders: $sites")
  }

  test("spark.sql.codegen.cache.maxEntries is set only from " +
    "GraftSession.CodegenCacheEntries, once in each session builder") {
    val key = "\"spark.sql.codegen.cache.maxEntries\""
    val sites = allRoots.flatMap(scalaSources).flatMap { f =>
      code(f).linesIterator.map(_.trim).filter(_.contains(key)).map(f.getName -> _)
    }
    assert(sites.sorted == Seq(
      "GraftSession.scala" -> s".config($key, CodegenCacheEntries.toLong)",
      "SparkSpec.scala" -> s".config($key, GraftSession.CodegenCacheEntries.toLong)"),
      s"codegen cache cap named at: $sites")
  }

  test("Bench's short-key mapping stays bijective with " +
    "SparkEntry.queries — a rename that collides two prefixes would " +
    "mis-attribute a timing in BENCH_r*.json; fail here, not mid-bench") {
    val names = SparkEntry.queries.keys.toSeq
    val byShort = names.groupBy(Bench.shortKey)
    val collisions = byShort.collect { case (k, vs) if vs.size > 1 => k -> vs }
    assert(collisions.isEmpty,
      s"short-key collisions: ${collisions.mkString("; ")}")
    assert(byShort.size == names.size)
    // and every oracle key names a registered query (a typo'd oracle
    // entry would silently become a dangling record in the gate)
    val dangling = SparkEntry.oracleSql.keySet -- names.toSet
    assert(dangling.isEmpty, s"oracleSql keys without a query: $dangling")
    // the --quick tier must stay a subset of the registered surface —
    // a rename would otherwise silently shrink the tier to nothing
    val missing = Bench.quickTier -- names.toSet
    assert(missing.isEmpty, s"quickTier names without a query: $missing")
  }

  test("BENCH_X10.json covers the FULL registered surface — a query " +
    "added after the last gate run turns the suite red until " +
    "tools/scale_probe.py is re-run (r11: pipe9 landed after the " +
    "probe run and never entered the gate; nothing checked)") {
    val f = new java.io.File("BENCH_X10.json")
    assert(f.isFile, "BENCH_X10.json missing — run tools/scale_probe.py run")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    // the gate's ratio map drops a query when it's absent from either
    // bench record OR failed (-1) — all three cases are coverage holes
    val expected = SparkEntry.queries.keySet ++ Bench.memoBuilds.map(_._1)
    for (p <- Seq("x10rel", "x10doc")) {
      val node = root.path("probes").path(p).path("queries")
      assert(node.isObject, s"BENCH_X10.json has no probes.$p.queries map")
      val got = scala.jdk.CollectionConverters
        .IteratorHasAsScala(node.fieldNames()).asScala.toSet
      val absent = expected -- got
      val stale = got -- expected
      assert(absent.isEmpty && stale.isEmpty,
        s"$p gate coverage drift — absent from gate: ${absent.toSeq.sorted}" +
          s"; stale keys in gate: ${stale.toSeq.sorted}")
    }
  }

  test("BENCH_X10.json ships adjudicated: every probe watchlist is " +
    "empty (r11: the record shipped with a 3-entry unadjudicated " +
    "watchlist after the retrial parser no-op'd — the record of " +
    "record must never carry open flags)") {
    val f = new java.io.File("BENCH_X10.json")
    assert(f.isFile, "BENCH_X10.json missing — run tools/scale_probe.py run")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    for (p <- Seq("x10rel", "x10doc")) {
      val wl = root.path("probes").path(p).path("watchlist")
      assert(wl.isArray, s"BENCH_X10.json has no probes.$p.watchlist")
      assert(wl.size() == 0,
        s"$p watchlist non-empty: re-run the gate and adjudicate " +
          s"(isolated retrial) before shipping — ${wl.toString}")
    }
  }

  test("BENCH_X100.json ships adjudicated: the second-decade " +
    "watchlist is empty (VERDICT r14 #7: the r14 close committed a " +
    "non-empty x100 watchlist silently — run100's nonzero exit " +
    "existed but nothing in the close discipline consumed it; now " +
    "the suite goes red until tools/scale_probe.py run100 clears)") {
    val f = new java.io.File("BENCH_X100.json")
    assert(f.isFile, "BENCH_X100.json missing — run tools/scale_probe.py run100")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val wl = root.path("watchlist")
    assert(wl.isArray, "BENCH_X100.json has no watchlist")
    assert(wl.size() == 0,
      "x100 watchlist non-empty: name and cut the super-linear step " +
        s"(or adjudicate in SCALE.md), then re-run run100 — ${wl.toString}")
  }
}
