package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a call into a graft module, or a whole operation.
  * `parent` is the enclosing span's id (-1 at the top), `op` the operation
  * id current when the span opened (-1 outside the timed loop).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** Span recorder kept in memory and written out at the end of a run. When
  * disabled, `span` is a plain call of its body: the untraced run pays one
  * boolean test per wrapped call.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, name, parent, op, t0, t1) }
      }
    }

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  def spans: Seq[Span] = synchronized(buf.sortBy(_.id).toSeq)
}

/** Spark scheduler counters from a listener the benchmark registers, plus
  * the planning phases of every action from a QueryExecutionListener.
  * Listener events arrive asynchronously; [[settle]] waits until every
  * started job has ended and the counts stop moving.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobsStarted, jobsEnded, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, inputBytes, shuffleWrite, shuffleRead, spill = new AtomicLong
  val actions, planningNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobsEnded.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_run_s" -> taskRunMs.get / 1e3,
    "task_cpu_s" -> taskCpuNs.get / 1e9, "input_mb" -> inputBytes.get / 1048576.0,
    "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
    "shuffle_read_mb" -> shuffleRead.get / 1048576.0,
    "spill_mb" -> spill.get / 1048576.0,
    "actions" -> actions.get.toDouble, "catalyst_phases_s" -> planningNs.get / 1e9)

  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (jobsStarted.get != jobsEnded.get || tasks.get != last)) {
      last = tasks.get
      Thread.sleep(50)
    }
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** Every streaming trigger's progress, from a StreamingQueryListener the
  * benchmark registers: phase durations, state size, late rows dropped.
  */
final class TriggerLog extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Trigger(batchId: Long, endNs: Long, rows: Long,
                           durations: Map[String, Long], stateRows: Long,
                           stateBytes: Long, lateDropped: Long)
  private val log = ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    synchronized {
      log += Trigger(p.batchId, System.nanoTime(), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  /** Triggers that completed after `t0` (System.nanoTime). */
  def since(t0: Long): Seq[Trigger] = synchronized(log.filter(_.endNs >= t0).toSeq)
}

object TriggerLog {
  def install(spark: SparkSession): TriggerLog = {
    val l = new TriggerLog
    spark.streams.addListener(l)
    l
  }
}

/** JVM-wide readings: process CPU, GC and JIT time, and the live heap. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  private def isOldGen(pool: String): Boolean = pool.contains("Old") || pool.contains("Tenured")

  /** Occupancy of the old-generation heap pool right after its last
    * collection (MemoryPoolMXBean.getCollectionUsage), in MB. This is the
    * live set the collector could not free — unlike a sum of per-pool
    * peaks, which never coexist and can exceed the heap limit.
    */
  def oldGenAfterGcMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
    val old = pools.filter(p => isOldGen(p.getName))
    (if (old.nonEmpty) old else pools)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** The largest old-generation occupancy seen just after a collection.
    * While recording, every collection the JVM runs reports the old
    * generation's usage after it (a GARBAGE_COLLECTION_NOTIFICATION
    * listener on the collector beans); [[sampleAfterGc]] adds a reading
    * after a forced full collection, which the benchmark takes at both ends
    * of the timed region.
    */
  final class LiveHeap {
    @volatile private var max = 0.0
    @volatile private var recording = false
    private var seen = 0

    private def record(mb: Double): Unit = synchronized { if (mb > max) max = mb }

    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          synchronized(seen += 1)
          record(after.collect { case (pool, u) if isOldGen(pool) => u.getUsed }.sum / 1048576.0)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }

    def start(): Unit = recording = true
    def stop(): Unit = recording = false

    def sampleAfterGc(): Double = {
      System.gc()
      val v = oldGenAfterGcMb()
      record(v)
      v
    }
    def maxMb: Double = max
    /** Collections seen while recording. */
    def collections: Int = synchronized(seen)
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}
