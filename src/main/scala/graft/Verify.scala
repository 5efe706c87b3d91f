package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args = query names to dump alone (the Bench
    // partial-run convention, for local oracle iteration on one
    // operator). The driver always calls with exactly two args →
    // full surface. oracle_sql.json is always the full map;
    // queries.json names the queries this run dumped, so a compare
    // checks exactly those.
    val wanted = args.drop(2).toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted.contains(n) }
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // a query that fails must leave no output, not an earlier run's
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // the class names a cause whose message is null (a JVM NPE)
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // release any per-query persisted scratch (LSH signatures etc.)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the names this run dumped (the full list with two args), so the
    // gate can detect a crashed no-oracle query (its output dir is
    // missing but it's named here)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
