package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PageSize
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The local runtime's per-task fixed costs, as `GraftSession.builder` sets
  * them: Tungsten pages sized to the task, and a local file system that
  * forks no `chmod` or `readlink` process.
  */
class LocalRuntimeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val MB = 1L << 20

  private def withDir[T](prefix: String)(body: NioPath => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally TempFiles.deleteRecursively(dir)
  }

  test("the page rule: a power of two from the heap per task, clamped to [1 MB, 64 MB]") {
    assert(GraftSession.pageSizeBytes(3L << 30, 4) == MB)
    assert(GraftSession.pageSizeBytes(8L << 30, 4) == 2 * MB)
    assert(GraftSession.pageSizeBytes(64L << 30, 1) == 64 * MB)
    // past 4 cores the page stops shrinking, so a task alone in the
    // execution pool stays far below the 8,192-page limit
    assert(GraftSession.pageSizeBytes(16L << 30, 32) == 4 * MB)
    assert(GraftSession.pageSizeBytes(1L << 30, 64) == MB)
    val cores = spark.sparkContext.defaultParallelism // starts the session
    assert(PageSize() == GraftSession.pageSizeBytes(Runtime.getRuntime.maxMemory, cores))
  }

  test("a one-task sort and aggregate across many pages return exact results") {
    // about 20 MB of rows in one partition: many 1-2 MB pages per task
    val n = 400000L
    val rows = spark.range(0, n, 1, 1).select(
      ((col("id") * 7919) % n).as("k"), // a permutation of 0 until n
      lpad(col("id").cast("string"), 24, "x").as("s"))
    val sorted = rows.sortWithinPartitions("k")
      .select(col("k"), monotonically_increasing_id().as("pos"))
      .agg(count(lit(1)), max(abs(col("pos") - col("k"))))
      .head()
    assert(sorted.getLong(0) == n && sorted.getLong(1) == 0L, sorted)
    // 200,000 string keys of two rows each: the aggregation maps span pages
    val grouped = rows.groupBy(lpad(floor(col("k") / 2).cast("string"), 24, "x").as("g"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
      .agg(count(lit(1)), min(col("c")), max(col("c")), sum(col("sk")))
      .head()
    assert(grouped.getLong(0) == n / 2 && grouped.getLong(1) == 2L &&
      grouped.getLong(2) == 2L && grouped.getLong(3) == n * (n - 1) / 2, grouped)
  }

  test("a parquet write and a checkpointed file-source stream fork no chmod or readlink") {
    withDir("local_fs_forks") { dir =>
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val written = try {
        val in = dir.resolve("in").toString
        spark.range(0, 1000, 1, 2).select(col("id"), (col("id") % 7).as("m"))
          .write.parquet(in)
        val q = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
          .groupBy("m").count()
          .writeStream.format("memory").queryName("local_fs_forks").outputMode("complete")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table("local_fs_forks").agg(sum("count")).head().getLong(0)
      } finally rec.stop()
      assert(written == 1000L)
      val jfr = dir.resolve("forks.jfr")
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forked = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(forked.size == 0, s"first forks: ${forked.take(3)}")
    }
  }

  test("files and directories get the default permissions under the conf umask") {
    withDir("local_fs_perms") { dir =>
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", "027")
      val fs = FileSystem.newInstance(new URI("file:///"), conf)
      try {
        assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
        val umask = FsPermission.getUMask(conf)
        def mode(p: NioPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
        val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
        assert(dirMode == "rwxr-x---" && fileMode == "rw-r-----")
        // FileSystem: mkdirs and create (with its .crc sidecar)
        assert(fs.mkdirs(new Path(dir.resolve("a/b").toString)))
        fs.create(new Path(dir.resolve("a/b/f").toString)).close()
        assert(mode(dir.resolve("a")) == dirMode && mode(dir.resolve("a/b")) == dirMode)
        assert(mode(dir.resolve("a/b/f")) == fileMode)
        assert(mode(dir.resolve("a/b/.f.crc")) == fileMode)
        // FileContext, as streaming checkpoints use it
        val fc = FileContext.getFileContext(conf)
        assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs], fc.getDefaultFileSystem.getClass)
        fc.mkdir(new Path(dir.resolve("c").toString), FsPermission.getDirDefault, true)
        fc.create(new Path(dir.resolve("c/g").toString), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        assert(mode(dir.resolve("c")) == dirMode && mode(dir.resolve("c/g")) == fileMode)
        // a non-default mode takes effect as given
        fs.setPermission(new Path(dir.resolve("a/b/f").toString), new FsPermission("711"))
        assert(mode(dir.resolve("a/b/f")) == "rwx--x--x")
      } finally fs.close()
    }
  }

  test("getFileLinkStatus reports a symlink and its target, and a plain file as itself") {
    withDir("local_fs_links") { dir =>
      val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
      val target = Files.write(dir.resolve("target"), "abc".getBytes("UTF-8"))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val linked = fs.getFileLinkStatus(new Path(link.toString))
      assert(linked.isSymlink, linked)
      assert(linked.getSymlink == fs.makeQualified(new Path(target.toString)), linked)
      val plain = fs.getFileLinkStatus(new Path(target.toString))
      assert(!plain.isSymlink && plain.isFile && plain.getLen == 3L, plain)
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("none").toString)))
    }
  }
}
