package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.MetricsBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one measurement layer — the Spark-native form of the reference's
  * run reporting (LogReporter.scala aggregates per-run element/row counts;
  * ClusterMetricsListener.scala samples load).
  *
  * [[Reporter]] records, for every SQL execution of one session (an
  * action: `count`, `collect`, a write, a `localCheckpoint`), a
  * [[QueryReport]]: the action name, wall duration, rows read at the
  * leaves and produced at the root, whether it failed, the Catalyst phase
  * times (`analysis`, `optimization`, `planning`), its jobs, its stages
  * (id, name, tasks, executor run time) and, summed over its tasks,
  * executor run and CPU time, input bytes, shuffle bytes read and
  * written, spill and task GC. Jobs that run outside any SQL execution
  * while the reporter is attached — RDD actions, and the jobs Spark runs
  * while a DataFrame is being built, such as parquet schema inference's
  * footer read — carry no execution id and no session, so they are summed
  * context-wide into `unattributed`. For every streaming trigger of a query
  * started on that session it records a [[TriggerReport]]: the progress
  * `durationMs` (addBatch, getBatch, walCommit, triggerExecution, …) and
  * each state operator's update, removal and commit times.
  *
  * Attach with `Metrics.attach(spark)`, read `reports` / `triggers`, and
  * `close()` when done. `drain()` waits (at most 30 s) until every action
  * that has returned is in `reports` — the listener bus is asynchronous.
  * Passive: the reporter runs on the listener bus, starts no Spark job,
  * reads only metrics the executed plan and the tasks already carry, and
  * holds bounded queues (oldest dropped past `capacity`), so it is safe to
  * leave attached to a long-lived session feeding a metrics scraper.
  *
  * [[measure]] is the process-side timer (wall, process CPU, GC, JIT
  * compile time and Spark codegen compilations) and
  * [[heapAfterGcBytes]] the heap occupancy sample: `Bench`,
  * `Artifacts.prebuild` and the tools time with these, nothing else.
  */
object Metrics {

  final case class StageReport(id: Int, name: String, tasks: Int, runMs: Long)

  final case class QueryReport(action: String, durationMs: Long,
                               rowsRead: Long, outputRows: Long,
                               failed: Boolean, executionId: Long,
                               phasesMs: Map[String, Long], jobs: Int,
                               stages: Seq[StageReport], tasks: Long,
                               runMs: Long, cpuMs: Long, inputBytes: Long,
                               shuffleReadBytes: Long, shuffleWriteBytes: Long,
                               spillBytes: Long, gcMs: Long)

  /** Sums over the jobs that ran outside any SQL execution. */
  final case class JobTotals(jobs: Int, tasks: Long, runMs: Long, cpuMs: Long,
                             inputBytes: Long, shuffleReadBytes: Long,
                             shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long)

  final case class StateReport(operator: String, rows: Long, memoryBytes: Long,
                               updatesMs: Long, removalsMs: Long, commitMs: Long)

  final case class TriggerReport(query: String, runId: java.util.UUID,
                                 batchId: Long, inputRows: Long,
                                 durationMs: Map[String, Long],
                                 state: Seq[StateReport])

  /** A queue that drops its oldest entry past `capacity`. */
  private final class Bounded[A](capacity: Int) {
    private val buf = new ConcurrentLinkedQueue[A]()
    // ConcurrentLinkedQueue.size() is O(n); track it alongside so eviction
    // on the listener bus stays O(1) per record.
    private val bufSize = new AtomicInteger(0)

    def add(a: A): Unit = {
      buf.add(a)
      bufSize.incrementAndGet()
      while (bufSize.get > capacity) {
        if (buf.poll() != null) bufSize.decrementAndGet()
        else return // racing evictor emptied it; counter resyncs on next add
      }
    }

    def snapshot: Seq[A] = buf.iterator().asScala.toSeq
  }

  private final class StageTotals(val name: String) {
    var tasks = 0
    var runMs = 0L
  }

  /** One open execution's running sums, fed by its jobs' stages and tasks;
    * also the unattributed sums, which the caller's thread reads, hence
    * the locks.
    */
  private final class ExecTotals {
    private var jobs = 0
    val stages = mutable.LinkedHashMap.empty[Int, StageTotals]
    private var tasks, runMs, cpuNs, inputBytes, shuffleRead, shuffleWrite, spill, gcMs = 0L

    def addJob(): Unit = synchronized { jobs += 1 }

    def addTask(stageId: Int, m: TaskMetrics): Unit = synchronized {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      stages.get(stageId).foreach { s => s.tasks += 1; s.runMs += m.executorRunTime }
    }

    def jobTotals: JobTotals = synchronized {
      JobTotals(jobs, tasks, runMs, cpuNs / 1000000L, inputBytes, shuffleRead,
        shuffleWrite, spill, gcMs)
    }
  }

  final class Reporter private[Metrics] (spark: SparkSession, capacity: Int)
      extends SparkListener {
    private val queries = new Bounded[QueryReport](capacity)
    private val trigs = new Bounded[TriggerReport](capacity)
    // touched only on this listener's bus thread: executions still running
    // (keyed by the spark.sql.execution.id job property, which differs from
    // QueryExecution.id) and the execution each submitted stage belongs to
    private val open = mutable.HashMap.empty[Long, ExecTotals]
    private val stageExec = mutable.HashMap.empty[Int, Long]
    // jobs with no execution id (ids are never negative) sum into `loose`
    private val Loose = -1L
    private val loose = new ExecTotals

    private def executionId(props: java.util.Properties): Long =
      Option(props).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong).getOrElse(Loose)

    private def totals(id: Long): ExecTotals =
      if (id == Loose) loose else open.getOrElseUpdate(id, new ExecTotals)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      totals(executionId(e.properties)).addJob()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val id = executionId(e.properties)
      stageExec(info.stageId) = id
      if (id != Loose) totals(id).stages.getOrElseUpdate(info.stageId,
        new StageTotals(info.name.takeWhile(_ != '\n')))
    }

    // an execution's stages are forgotten at its end, a loose stage at its own
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageExec.get(e.stageInfo.stageId).contains(Loose)) stageExec -= e.stageInfo.stageId

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageExec.get(e.stageId); m <- Option(e.taskMetrics))
        (if (id == Loose) Some(loose) else open.get(id)).foreach(_.addTask(e.stageId, m))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => finish(end)
      case _ =>
    }

    /** Every task of an execution reaches the bus before its end event, so
      * the sums are complete here; executions of other sessions sharing
      * the SparkContext are dropped.
      */
    private def finish(e: SparkListenerSQLExecutionEnd): Unit = {
      val t = open.remove(e.executionId).getOrElse(new ExecTotals)
      stageExec --= t.stages.keys
      val qe = MetricsBridge.queryExecution(e)
      if (qe != null && (qe.sparkSession eq spark)) {
        val failed = MetricsBridge.failed(e)
        val (read, out) = if (failed) (-1L, -1L) else rowsAt(qe)
        val j = t.jobTotals
        queries.add(QueryReport(
          MetricsBridge.executionName(e).getOrElse(""),
          MetricsBridge.durationNs(e) / 1000000L, read, out, failed,
          e.executionId, qe.tracker.phases.map { case (k, p) => k -> p.durationMs },
          j.jobs,
          t.stages.toSeq.map { case (id, s) => StageReport(id, s.name, s.tasks, s.runMs) },
          j.tasks, j.runMs, j.cpuMs, j.inputBytes, j.shuffleReadBytes,
          j.shuffleWriteBytes, j.spillBytes, j.gcMs))
      }
    }

    private[Metrics] val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        trigs.add(TriggerReport(Option(p.name).getOrElse(""), p.runId, p.batchId,
          p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.toSeq.map(s => StateReport(s.operatorName, s.numRowsTotal,
            s.memoryUsedBytes, s.allUpdatesTimeMs, s.allRemovalsTimeMs, s.commitTimeMs))))
      }
    }

    /** The operator a node stands for: AQE's plan wrapper and its
      * materialized query stages hide their subtrees from
      * collect/collectLeaves, and neither they nor a whole-stage-codegen
      * node (nor the final result stage) carry a row count of their own,
      * so descend to the operator inside.
      */
    @scala.annotation.tailrec
    private def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case other => other
    }

    /** True leaves of an adaptively-executed plan. */
    private def deepLeaves(p: SparkPlan): Seq[SparkPlan] = unwrap(p) match {
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case other => other.children.flatMap(deepLeaves)
    }

    private def rowsAt(qe: QueryExecution): (Long, Long) = {
      val read = deepLeaves(qe.executedPlan)
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      // the ROOT needs the same unwrap the leaves get: under adaptive
      // execution (default on) executedPlan is AdaptiveSparkPlanExec,
      // which carries no numOutputRows of its own — without the unwrap
      // every report's output count read -1
      val out = unwrap(qe.executedPlan).metrics.get("numOutputRows")
        .map(_.value).getOrElse(-1L)
      (read, out)
    }

    /** Snapshot of captured execution reports, oldest first. */
    def reports: Seq[QueryReport] = queries.snapshot

    /** Snapshot of captured streaming triggers, oldest first. */
    def triggers: Seq[TriggerReport] = trigs.snapshot

    /** Sums over the jobs with no SQL execution id that started while
      * this reporter was attached, from any session of the context.
      */
    def unattributed: JobTotals = loose.jobTotals

    /** Waits, at most 30 s, until every event posted so far — the end of
      * every action that has returned, the progress of every trigger that
      * has finished — has reached this reporter; throws
      * java.util.concurrent.TimeoutException past the bound.
      */
    def drain(): Unit = MetricsBridge.drain(spark.sparkContext)

    /** Detaches both listeners; the captured reports stay readable. */
    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.streams.removeListener(streams)
    }
  }

  /** Register a reporter on the session and return it. */
  def attach(spark: SparkSession, capacity: Int = 1000): Reporter = {
    val r = new Reporter(spark, capacity)
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(r.streams)
    r
  }

  /** Wall, process-CPU, GC and JIT-compile seconds of one measured body,
    * and the number of classes Spark's code generator compiled in it.
    */
  final case class Usage(wallS: Double, cpuS: Double, gcS: Double,
                         jitS: Double, codegenCompiles: Long)

  // Process-CPU seconds (all JVM threads, via the platform
  // OperatingSystemMXBean): the work a body does is ~invariant under
  // external load, so cpuS is the number to trust when wall times disagree
  // across runs on a shared host.
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // GC time (r17): a run whose walls blow up needs to show WHERE the time
  // went — a uniform GC tax (heap pressure from pinned artifacts) reads
  // completely differently from scheduling contention (GC flat, walls
  // inflated). Summed across all collector beans.
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  // JIT compile time (all compiler threads) shows the compile work JIT
  // threads take from the query's cores; Spark's generated-class compile
  // count should not grow on a warm repeat, so a nonzero codegenCompiles
  // on a repeat names a codegen-cache miss.
  private val jitBean = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)

  private def gcMillis(): Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum

  private def jitMillis(): Long = jitBean.map(_.getTotalCompilationTime).getOrElse(0L)

  // one sample of the compile-time histogram per Janino compilation; a
  // codegen-cache hit adds none
  private def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` and returns its result with the wall, process-CPU, GC and
    * JIT seconds and codegen compilations it took; an exception propagates
    * unmeasured.
    */
  def measure[A](body: => A): (A, Usage) = {
    val g0 = gcMillis()
    val j0 = jitMillis()
    val k0 = codegenCompiles()
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, Usage(wall, (osBean.getProcessCpuTime - c0) / 1e9, (gcMillis() - g0) / 1e3,
      (jitMillis() - j0) / 1e3, codegenCompiles() - k0))
  }

  /** Whole-heap occupancy right after the latest collection, in bytes: for
    * each collector, the heap pools of its last collection's after-GC
    * usage summed — one collection's snapshot of every pool at the same
    * moment — and the largest of those sums; 0 before any collection.
    * Summing each pool's own peak instead adds watermarks from different
    * moments and can exceed -Xmx.
    */
  def heapAfterGcBytes(): Long = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    gcBeans.flatMap {
      case b: com.sun.management.GarbageCollectorMXBean => Option(b.getLastGcInfo)
      case _ => None
    }.map(_.getMemoryUsageAfterGc.asScala.collect {
      case (pool, usage) if heapPools(pool) => usage.getUsed
    }.sum).maxOption.getOrElse(0L)
  }
}
