package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MetricsBridge
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The measurement layer: the reporter records every execution and
  * streaming trigger of its own session, from the listener bus, without
  * touching the query path; the process timer and heap sample are sane.
  */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("reporter captures rows read and produced for completed actions") {
    val rep = Metrics.attach(spark)
    try {
      val n = Seq(1L, 2L, 3L, 4L).toDF("x").filter($"x" > 1).count()
      assert(n == 3)
      // listener fires on the async listener bus — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      var got: Seq[Metrics.QueryReport] = Nil
      while (got.isEmpty && System.nanoTime() < deadline) {
        got = rep.reports.filter(r => r.action == "count" && !r.failed)
        if (got.isEmpty) Thread.sleep(50)
      }
      assert(got.nonEmpty, s"no count report arrived: ${rep.reports}")
      val r = got.last
      // Catalyst folds the x > 1 filter into the LocalRelation at
      // optimization time, so the leaf emits the 3 surviving rows
      assert(r.rowsRead == 3L, s"expected 3 rows at the leaves, got $r")
      assert(r.durationMs >= 0L)
    } finally rep.close()
  }

  test("a groupBy count's report carries jobs, stages, tasks, shuffle bytes and phases") {
    val rep = Metrics.attach(spark)
    try {
      val rows = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k"))
        .count().collect()
      assert(rows.length == 7)
      rep.drain()
      val r = rep.reports.filter(_.action == "collect")
      assert(r.size == 1, rep.reports)
      val q = r.head
      assert(q.jobs >= 1, q)
      assert(q.stages.size >= 2, q)
      assert(q.tasks > 0 && q.tasks == q.stages.map(_.tasks.toLong).sum, q)
      assert(q.shuffleWriteBytes > 0 && q.shuffleReadBytes > 0, q)
      assert(q.runMs >= 0 && q.cpuMs >= 0, q)
      assert(Set("analysis", "optimization", "planning").subsetOf(q.phasesMs.keySet), q)
      assert(!q.failed && q.outputRows == 7L, q)
    } finally rep.close()
  }

  test("attaching the reporter starts no job and leaves the result unchanged") {
    // count the jobs this thread's actions start (a local property rides
    // on every job the action submits, AQE stages and broadcasts included)
    def run(tag: String): (Int, Seq[Row]) = {
      val jobs = new AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("metricsspec.tag") == tag))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(counter)
      spark.sparkContext.setLocalProperty("metricsspec.tag", tag)
      try {
        val a = spark.range(0, 500, 1, 4).select(col("id"), (col("id") % 5).as("k"))
        val b = spark.range(0, 5).select(col("id").as("k"), (col("id") * 10).as("w"))
        val rows = a.join(b, "k").groupBy("k").agg(sum("w").as("s"), count("*").as("n"))
          .orderBy("k").collect().toSeq
        MetricsBridge.drain(spark.sparkContext)
        (jobs.get, rows)
      } finally {
        spark.sparkContext.setLocalProperty("metricsspec.tag", null)
        spark.sparkContext.removeSparkListener(counter)
      }
    }
    val (jobsWithout, rowsWithout) = run("without")
    val rep = Metrics.attach(spark)
    val (jobsWith, rowsWith) = try run("with") finally rep.close()
    assert(rep.reports.exists(_.action == "collect"), rep.reports)
    assert(jobsWithout > 0)
    assert(jobsWith == jobsWithout, s"$jobsWith jobs with the reporter, $jobsWithout without")
    assert(rowsWith == rowsWithout)
  }

  test("a reporter records nothing for actions of another session") {
    val rep = Metrics.attach(spark)
    try {
      val other = spark.newSession()
      assert(other.range(10).filter(col("id") > 2).count() == 7)
      rep.drain()
      assert(rep.reports.isEmpty, rep.reports)
      assert(spark.range(10).count() == 10)
      rep.drain()
      assert(rep.reports.map(_.action) == Seq("count"), rep.reports)
    } finally rep.close()
  }

  test("jobs outside any SQL execution are summed as unattributed") {
    val dir = java.nio.file.Files.createTempDirectory("metrics_loose")
    val path = dir.resolve("t").toString
    spark.range(0, 50, 1, 2).write.parquet(path)
    // the write's own end event must not reach the reporter attached below
    MetricsBridge.drain(spark.sparkContext)
    val rep = Metrics.attach(spark)
    try {
      assert(spark.sparkContext.parallelize(1 to 100, 3).map(_ * 2).count() == 100)
      rep.drain()
      val rdd = rep.unattributed
      assert(rdd.jobs == 1 && rdd.tasks == 3 && rdd.runMs >= 0, rdd)
      assert(rep.reports.isEmpty, rep.reports)
      // a SQL action's jobs belong to its execution, not here
      assert(spark.range(0, 100, 1, 2).count() == 100)
      rep.drain()
      assert(rep.unattributed == rdd, rep.unattributed)
      // reading parquet without a schema runs a footer job while the
      // DataFrame is built, before any execution starts
      val df = spark.read.parquet(path)
      rep.drain()
      val built = rep.unattributed
      assert(built.jobs > rdd.jobs && built.tasks > rdd.tasks, built)
      assert(df.count() == 50)
    } finally {
      rep.close()
      TempFiles.deleteRecursively(dir)
    }
  }

  test("a streaming query yields one trigger record per batch with its addBatch time") {
    implicit val sqlContext: SQLContext = spark.sqlContext
    val rep = Metrics.attach(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("metrics_ckpt")
    try {
      val input = MemoryStream[Int]
      val q = input.toDF().select((col("value") * 2).as("v"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        input.addData(1, 2, 3)
        q.processAllAvailable()
        input.addData(4, 5)
        q.processAllAvailable()
      } finally q.stop()
      rep.drain()
      val ts = rep.triggers.filter(_.runId == q.runId)
      assert(ts.map(_.batchId) == Seq(0L, 1L), ts)
      assert(ts.map(_.inputRows) == Seq(3L, 2L), ts)
      assert(ts.forall(_.durationMs.contains("addBatch")), ts)
    } finally {
      rep.close()
      TempFiles.deleteRecursively(ckpt)
    }
  }

  test("a failing action is recorded as failed") {
    val rep = Metrics.attach(spark)
    try {
      val run = Try(spark.range(0, 10, 1, 2)
        .select(assert_true(col("id") < 5).as("ok")).collect())
      assert(run.isFailure)
      rep.drain()
      val r = rep.reports.filter(_.action == "collect")
      assert(r.size == 1 && r.head.failed, rep.reports)
    } finally rep.close()
  }

  test("measure counts codegen compiles: one or more on a first run, none on its repeat") {
    // a literal no earlier run used is inlined into the generated code, so
    // the first collect must compile; its repeat must hit the cache
    val c = 1000000L + scala.util.Random.nextInt(1000000)
    def run() = spark.range(3).select((col("id") * lit(c)).as("v")).collect()
    val (first, cold) = Metrics.measure(run())
    val (again, warm) = Metrics.measure(run())
    assert(first.toSeq == again.toSeq)
    assert(cold.codegenCompiles >= 1, cold)
    assert(warm.codegenCompiles == 0, warm)
    assert(cold.jitS >= 0.0 && warm.jitS >= 0.0, (cold, warm))
  }

  test("measure times a body and the heap sample stays within -Xmx") {
    val (v, use) = Metrics.measure { Thread.sleep(20); 42 }
    assert(v == 42)
    assert(use.wallS >= 0.02 && use.cpuS >= 0.0 && use.gcS >= 0.0, use)
    System.gc()
    val heap = Metrics.heapAfterGcBytes()
    assert(heap > 0L && heap <= Runtime.getRuntime.maxMemory,
      s"$heap bytes after GC, max ${Runtime.getRuntime.maxMemory}")
  }
}
