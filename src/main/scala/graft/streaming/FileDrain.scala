package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import scala.io.Source

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.DataSource

import graft.ops.SingleWriter

/** "Every file new in this dir since the last call", as one plain batch.
  *
  * Each call lists `dir` with the reader's own file source, so names
  * starting with `_` or `.` (`_SUCCESS`, `.crc`, a half-written hidden
  * temp file) are skipped exactly as a file-source stream skips them,
  * and the listing starts no Spark job. The files not yet drained are
  * read as one batch and handed to `body` with the next batch id; only
  * after `body` returns is the drain committed. Nothing new means no
  * batch, no job and no commit.
  *
  * The committed-file log lives under `checkpointDir`:
  * {{{
  *   drained/<batchId>    // "v1", then one file URI per line: every file
  *                        // drained so far, the last batch's included
  * }}}
  * An entry is written to a hidden temp file and renamed into place, so
  * a reader sees a whole entry or none; the superseded entry is deleted
  * after. The call holds [[SingleWriter.withLock]] on `checkpointDir`,
  * so two concurrent drains cannot both take batch id N.
  *
  * Recovery: a crash inside `body` commits nothing, and the next call
  * re-runs the same batch id over a superset of the same files. A `body`
  * that overwrites what its batch id wrote (as `Ingest.ingestBatch`
  * does) therefore converges, and delivery is effectively-once.
  */
private[streaming] object FileDrain {

  private val LogDir = "drained"
  private val Version = "v1"

  def apply(spark: SparkSession, reader: DataFrameReader, dir: String,
      checkpointDir: String)(body: (DataFrame, Long) => Unit): Unit = {
    val ckpt = new Path(checkpointDir)
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseStreamCheckpoint(fs, ckpt)
    SingleWriter.withLock(fs, ckpt) {
      val log = new Path(ckpt, LogDir)
      val last = latest(fs, log)
      val done = last.fold(Set.empty[String])(e => read(fs, new Path(log, e.toString)))
      val fresh = reader.load(dir).inputFiles.filterNot(done).sorted
      if (fresh.nonEmpty) {
        val id = last.fold(0L)(_ + 1)
        // The listed names are URIs; read them back as the exact paths,
        // not as glob patterns.
        body(reader.option(DataSource.GLOB_PATHS_KEY, "false")
          .load(fresh.map(f => new Path(new URI(f)).toString).toIndexedSeq: _*), id)
        commit(fs, log, id, done ++ fresh)
        last.foreach(e => fs.delete(new Path(log, e.toString), false))
      }
    }
  }

  /** A Structured Streaming checkpoint left by an earlier version holds
    * its own file log; starting an empty drain log beside it would
    * re-ingest every file in the dir.
    */
  private def refuseStreamCheckpoint(fs: FileSystem, ckpt: Path): Unit =
    if (fs.exists(new Path(ckpt, "offsets")) || fs.exists(new Path(ckpt, "metadata")))
      throw new IllegalStateException(
        s"$ckpt holds a Structured Streaming checkpoint (offsets/ or metadata), " +
          s"not a $LogDir/ log; draining from it would re-read every file in the " +
          "dir. Use a new checkpoint dir, and seed it or clear the input dir first.")

  private def latest(fs: FileSystem, log: Path): Option[Long] =
    if (!fs.exists(log)) None
    else fs.listStatus(log).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption

  private def read(fs: FileSystem, entry: Path): Set[String] = {
    val src = Source.fromInputStream(fs.open(entry), UTF_8.name)
    try {
      val lines = src.getLines()
      require(lines.hasNext && lines.next() == Version, s"$entry is not a $Version drain entry")
      lines.toSet
    } finally src.close()
  }

  private def commit(fs: FileSystem, log: Path, id: Long, files: Set[String]): Unit = {
    val tmp = new Path(log, s".$id.tmp")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write((Version +: files.toSeq.sorted).mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(log, id.toString)))
      throw new java.io.IOException(s"could not commit drain entry $id under $log")
  }
}
