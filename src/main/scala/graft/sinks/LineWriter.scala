package graft.sinks

import java.io.{BufferedOutputStream, IOException}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StringType

/** The text sinks' writer ([[MongoImportSink]], [[PrettyJsonSink]]):
  * each row of a one-string-column projection, then '\n', into part
  * files under a directory, laid out as `DataFrameWriter.text` lays
  * them out (`part-<partition>-<job>-c000.txt`, then `_SUCCESS`).
  *
  * Spark's writer lost on its per-task cost: `FileFormatWriter` puts
  * the Hadoop configuration into every write task twice (the job
  * description and the stats tracker), each copy about 1,100 entries
  * and 113 KB serialized, 5-7 ms per `readObject` warm; the OSM dump's
  * write tasks spent a median 33 ms deserializing before they ran
  * (scale 0.3, 4 cores). Here the configuration goes out once per
  * write as a broadcast, as [[graft.osm.OsmXmlSource]] sends its own,
  * and a task's closure holds only the broadcast handle and two
  * strings.
  *
  * The commit rule: each task streams its rows to a part file under
  * `<path>/_temporary/<job>/<task attempt>/` and returns that file;
  * the driver renames only the files `runJob` returns, one per
  * partition from its successful attempt, into `path`, then deletes
  * `_temporary/<job>` (also when the job failed) and writes `_SUCCESS`.
  * A task whose write fails deletes its own file. As with Spark's
  * writer, partition 0 always writes a file, empty or not, and another
  * partition without rows writes none; `overwrite` deletes `path`
  * first, and an append adds part files under a new job id. */
private[sinks] object LineWriter {

  def write(lines: DataFrame, path: String, overwrite: Boolean): Unit = {
    require(lines.schema.map(_.dataType) == Seq(StringType),
      s"a line writer takes one string column, got ${lines.schema.simpleString}")
    val sc = lines.sparkSession.sparkContext
    val dir = new Path(path)
    val fs = dir.getFileSystem(sc.hadoopConfiguration)
    if (overwrite) fs.delete(dir, true)
    val job = UUID.randomUUID().toString
    val temp = new Path(new Path(dir, "_temporary"), job)
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    val tempDir = temp.toString
    val qe = lines.queryExecution
    try {
      val written = SQLExecution.withNewExecutionId(qe, Some("text")) {
        val rows = qe.toRdd
        // as FileFormatWriter: input without partitions still writes
        // partition 0's (empty) file
        val parts = if (rows.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rows
        sc.runJob(parts, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writePart(conf, tempDir, job, ctx, it))
      }
      for (f <- written if f != null) {
        val src = new Path(f)
        val dst = new Path(dir, src.getName)
        if (!fs.rename(src, dst)) throw new IOException(s"could not rename $src to $dst")
      }
    } finally {
      fs.delete(temp, true)
      deleteIfEmpty(fs, temp.getParent)
    }
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** One partition's rows into its attempt's part file, which it
    * returns; null for a partition other than 0 without rows. */
  private def writePart(conf: Broadcast[SerializableWritable[Configuration]], tempDir: String,
      job: String, ctx: TaskContext, rows: Iterator[InternalRow]): String = {
    if (ctx.partitionId() != 0 && !rows.hasNext) return null
    val file = new Path(s"$tempDir/${ctx.taskAttemptId()}",
      f"part-${ctx.partitionId()}%05d-$job-c000.txt")
    val fs = file.getFileSystem(conf.value.value)
    val out = new BufferedOutputStream(fs.create(file, false), 1 << 16)
    try {
      rows.foreach { r =>
        if (!r.isNullAt(0)) r.getUTF8String(0).writeTo(out)
        out.write('\n')
      }
      out.close()
    } catch {
      case e: Throwable =>
        try out.close() catch { case _: IOException => }
        fs.delete(file.getParent, true)
        throw e
    }
    file.toString
  }

  private def deleteIfEmpty(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
}
