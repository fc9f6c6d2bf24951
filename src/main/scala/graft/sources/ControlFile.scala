package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options,
  Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession

/** The one owner of small control files: the ingest watermark
  * (nb02:190-213), the run report, the manifest sync cursor, the
  * streaming MV commit marker, and the few-KB bronze page sets ingest
  * lands. Each is a few bytes to kilobytes that a later run (or an
  * orchestrator) reads back, so a reader must see the previous
  * document or the new one, never an empty or truncated file.
  *
  * Everything goes through the Hadoop FS on the driver: no Spark job,
  * any storage scheme (`file://`, `hdfs://`, `abfss://`), which
  * `java.nio` paths do not give (`Paths.get("hdfs://nn/x")` is a
  * relative local path). */
object ControlFile {

  /** The UTF-8 content at `path`, or None when nothing is there. A
    * directory (the legacy Spark-written layout) reads as its `part-*`
    * files concatenated in name order. */
  def read(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = Sources.fileSystem(spark, p)
    status(fs, p).map { st =>
      val files =
        if (!st.isDirectory) Seq(p)
        else fs.listStatus(p).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      files.map { f =>
        val in = fs.open(f)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }.mkString
    }
  }

  /** Replace `path` with `content` atomically: write a hidden temp
    * sibling, then rename it over the target. Replacing an existing
    * file uses `FileContext.rename(…, Rename.OVERWRITE)`, a single
    * in-place replace on HDFS and local filesystems, so there is no
    * instant in which a crash leaves the previous document lost or a
    * reader sees a truncated one. Filesystems with no
    * `AbstractFileSystem` binding fall back to delete-then-rename, a
    * microseconds-wide window. A directory at `path` (the legacy
    * Spark-written layout) is deleted first: no file-over-directory
    * rename exists anywhere. */
  def replace(spark: SparkSession, path: String, content: String): Unit = {
    val rawP = new Path(path)
    val fs = Sources.fileSystem(spark, rawP)
    val p = fs.makeQualified(rawP)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp${System.nanoTime()}")
    fs.mkdirs(p.getParent)
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
    if (status(fs, p).exists(_.isDirectory)) fs.delete(p, true)
    val renamedAtomically =
      try {
        FileContext.getFileContext(fs.getUri, fs.getConf)
          .rename(tmp, p, Options.Rename.OVERWRITE)
        true
      } catch {
        case _: UnsupportedFileSystemException =>
          false // no AbstractFileSystem for this scheme → legacy path
      }
    if (!renamedAtomically) {
      if (fs.exists(p)) fs.delete(p, true)
      if (!fs.rename(tmp, p))
        sys.error(s"control file rename $tmp -> $p failed")
    }
  }

  private def status(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  /** `s` as a JSON string literal (quotes, backslashes and control
    * characters escaped; `\n` for newline): the one escaper for every
    * JSON document the engine writes by hand. */
  def jsonString(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
      .getInstance().quoteAsString(s)) + "\""
}
