package graft

/** Round-13 additions: the laggard-safe memo sweep (ADVICE r12), the
  * wedge-budget gr3 cap, and bench/ETL fidelity fixes. */
class Round13OpsSpec extends SparkSpec {

  // ---- Memo laggard safety (ADVICE r12) -----------------------------
  // The by-name stamp is evaluated once for the caller's own key
  // ("mine") and once per sweep ("live", the authoritative re-read) —
  // these tests model a laggard whose first evaluation predates a
  // concurrent rewrite while the re-reads see the new stamp.

  test("memoGetOrBuild: a laggard caller whose stamp predates a " +
    "rewrite can no longer evict the successor's fresh entry, and " +
    "the next current-stamp caller reclaims the laggard's own entry") {
    val memo = Memo[String]("documents")
    // successor already built under the current on-disk stamp 2
    assert(memo.getStamped(spark, "/a", 2L)("v2") == "v2")
    // laggard: its own stamp read (first evaluation) returned 1; by
    // the time its sweeps re-read the filesystem, the stamp is 2
    var evals = 0
    def laggardStamp: Long = { evals += 1; if (evals == 1) 1L else 2L }
    assert(memo.getStamped(spark, "/a", laggardStamp)("v1") == "v1")
    assert(evals >= 2, "stamp was not re-evaluated at sweep time")
    assert(memo.entries.contains((spark, "/a", 2L)),
      s"successor entry evicted by laggard: ${memo.entries.keySet}")
    // the laggard's mislabeled entry survives its OWN call (evicting
    // a relation mid-use would unpersist blocks under the caller)...
    assert(memo.entries.contains((spark, "/a", 1L)))
    // ...and is reclaimed by the next caller whose stamp is current
    assert(memo.getStamped(spark, "/a", 2L)("v2x") == "v2")
    assert(memo.entries.keySet == Set((spark, "/a", 2L)),
      s"laggard entry not reclaimed: ${memo.entries.keySet}")
  }

  test("memoGetOrBuild: the sweep reclaims entries matching neither " +
    "the caller's stamp nor the live stamp, across two rewrites") {
    val memo = Memo[String]("documents")
    memo.entries.put((spark, "/a", 1L), "dead")  // two rewrites ago
    memo.entries.put((spark, "/a", 5L), "fresh") // current on-disk stamp
    memo.entries.put((spark, "/b", 1L), "otherpath")
    var evals = 0
    def stamp: Long = { evals += 1; if (evals == 1) 3L else 5L }
    memo.getStamped(spark, "/a", stamp)("mid")
    assert(!memo.entries.contains((spark, "/a", 1L)), "two-rewrites-old entry kept")
    assert(memo.entries.contains((spark, "/a", 5L)), "current-stamp entry evicted")
    assert(memo.entries.contains((spark, "/b", 1L)), "other path swept")
  }

  // ---- tok1 kernel ≡ SQL lockstep (r13 review #6) --------------------

  test("tok1PerWordLocal equals the tok1PerWord SQL expression on " +
    "edge-word fixtures — empty word, merge-dense words, words the " +
    "regex '.' treats specially (newline), supplementary code points") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val words = Seq(
      "", "a", "er", "erer", "winter", "store", "tomato", "atone",
      "inherit", "towering", "statorstat", "xxxxx",
      "a\nb",           // regex '.' skips \n — both sides must agree
      "héllo", "日本語", "a😀b", // multi-byte + surrogate pair
      "er in ow or st me to at".replace(" ", ""), // every merge char
      "ererererer")
    val df = words.toDF("w")
      .withColumn("sql_n",
        expr(graft.operators.RetrievalOps.tok1PerWord).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(graft.operators.RetrievalOps.tok1PerWordLocal(w) == df(w),
        s"kernel drifted from SQL on word '${w.replace("\n", "\\n")}': " +
          s"local=${graft.operators.RetrievalOps.tok1PerWordLocal(w)} " +
          s"sql=${df(w)}")
    }
  }

}
