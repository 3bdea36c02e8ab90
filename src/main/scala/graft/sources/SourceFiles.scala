package graft.sources

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File plumbing shared by graft's own file sources and sinks: the load
  * paths of a V2 read, input listing, and the task-side commit of one
  * output file.
  */
private[sources] object SourceFiles {

  /** The load paths of a V2 read. `paths` arrives as a JSON array
    * (DataFrameReader.load(paths*) serializes it with Jackson) — parse it
    * as JSON, not by bracket/quote stripping, so a path containing a comma
    * or escaped quote survives; a single-path load sets `path` instead.
    */
  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("paths"))
      .map(new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(_, classOf[Array[String]]).toSeq)
      .getOrElse(Option(options.get("path")).toSeq)

  /** The input files under `paths`. A path names a file (taken as is), a
    * directory (its files whose names start with neither `_` nor `.` and
    * pass `keep`) or a glob pattern such as `dir/part-*.dat`, which
    * resolves like every built-in file source, each match then expanded
    * as above.
    */
  def list(paths: Seq[String], conf: Configuration,
           keep: FileStatus => Boolean = _ => true): Seq[FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def visible(s: FileStatus) =
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
      val roots: Seq[FileStatus] =
        if (p.exists("*?[{".contains(_))) {
          val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
          require(matches.nonEmpty, s"no files match glob $p")
          matches
        } else Seq(fs.getFileStatus(path))
      roots.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(s => s.isFile && visible(s) && keep(s))
        else Seq(st)
      }
    }

  /** Write one output file from inside a task. `write` streams into a
    * per-ATTEMPT temp file beside `part`, which is renamed into place when
    * `write` returns: a speculative or zombie duplicate attempt writing the
    * final name directly could interleave with the winner and corrupt the
    * file. An attempt that never commits drops its temp file on task
    * completion. Rename is atomic on HDFS-like stores, so the last
    * committer wins whole-file.
    */
  def writeTaskFile(part: Path, conf: Configuration)(write: OutputStream => Unit): Unit = {
    val tc = TaskContext.get()
    val attempt = Option(tc).map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(part.getParent, s".${part.getName}-$attempt.tmp")
    val fs = part.getFileSystem(conf)
    var committed = false
    Option(tc).foreach(_.addTaskCompletionListener[Unit] { _ =>
      if (!committed) {
        try fs.delete(tmp, false) catch { case _: Exception => () }
      }
    })
    val os = fs.create(tmp, true)
    try write(os) finally os.close()
    fs.delete(part, false)
    if (!fs.rename(tmp, part))
      throw new java.io.IOException(s"failed to commit $tmp -> $part")
    committed = true
  }
}
