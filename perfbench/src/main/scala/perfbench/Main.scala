package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a query or a job. */
final case class Op(id: Int, kind: String, name: String, wallS: Double,
                    items: Long, ok: Boolean)

/** Everything a workload needs, and the record it fills in. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val counters: Option[SparkCounters], val data: Path,
                val work: Path, val seed: Long, val seconds: Double,
                val cores: Int, val heap: Jvm.LiveHeap) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific numbers for the report (per-layer figures, sizes). */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** How many times to repeat a timed unit of work that took about
    * `nominalS` seconds on the 4-core host the benchmark was defined on:
    * `seconds` sets the amount of work, not a deadline, so every run of a
    * workload times the same operations however fast the host is.
    */
  def repeats(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  /** Time one operation. A throwing operation is recorded as failed, with
    * its stack trace on stderr, and the run goes on: it counts towards the
    * failure ratio and turns the verdict false, it is never a fast success.
    * `body` returns the operation's item count (rows, docs, events), or a
    * negative number when it detected a wrong result itself.
    */
  def op(kind: String, name: String)(body: => Long): Op = {
    val id = ops.size
    tracer.op = id
    val t0 = System.nanoTime()
    val (items, ok) =
      try {
        val n = tracer.span(s"op.$kind")(body)
        if (n < 0) failures += s"$kind $name: wrong result"
        (math.max(n, 0L), n >= 0)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind $name FAILED")
          e.printStackTrace()
          failures += s"$kind $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          (0L, false)
      }
    val o = Op(id, kind, name, (System.nanoTime() - t0) / 1e9, items, ok)
    tracer.op = -1
    ops += o
    o
  }
}

trait Workload {
  /** Build the shared artifacts the timed operations need (cold). */
  def setup(ctx: Ctx): Unit
  /** Untimed warm-up after set-up (none by default). */
  def warm(ctx: Ctx): Unit = ()
  /** The timed region: a fixed number of operations, about `ctx.seconds`. */
  def timed(ctx: Ctx): Unit
  /** Traced run only, after the timed region and its readings: extra work
    * that splits the workload into layers (etl's ladder, catalog's
    * remaining artifact builds), so both runs time the same work.
    */
  def layers(ctx: Ctx): Unit = ()
  /** After timing: write what the correctness check reads. */
  def finish(ctx: Ctx): Unit = ()
}

/** Benchmark JVM entry point.
  *
  * {{{
  * perfbench.Main --workload catalog --seed 1 --seconds 10 --trace 0
  *   --data <generated inputs> --work <scratch dir> --out <report.json>
  *   [--cores N]
  * }}}
  *
  * Writes a raw JSON report (operations, timings, counters, spans);
  * perfbench/run.py turns it into metrics and checks the outputs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opt("workload") match {
      case "catalog" => Catalog
      case "etl" => Etl
      case "curate" => Curate
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val traced = opt.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(traced)
    val heap = new Jvm.LiveHeap

    // install the SQL extensions the way a deployment does: through conf
    System.setProperty("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
    val spark = tracer.span("session.start")(graft.GraftSession.get(cores))
    val sessionS = (System.nanoTime() - mainNs) / 1e9
    val counters = if (traced) Some(SparkCounters.install(spark)) else None
    val triggers = if (traced) Some(TriggerLog.install(spark)) else None
    val ctx = new Ctx(spark, tracer, counters, Paths.get(opt("data")),
      Paths.get(opt("work")), opt("seed").toLong, opt("seconds").toDouble, cores, heap)

    val tSetup0 = System.nanoTime()
    workload.setup(ctx) // a failure here propagates: non-zero exit, no report
    val setupS = bootS + (System.nanoTime() - mainNs) / 1e9
    val artifactsS = (System.nanoTime() - tSetup0) / 1e9

    val tWarm0 = System.nanoTime()
    workload.warm(ctx)
    val warmS = (System.nanoTime() - tWarm0) / 1e9
    ctx.ops.clear()

    counters.foreach(_.settle())
    val before = counters.map(_.snapshot()).getOrElse(Map.empty)
    heap.sampleAfterGc()
    heap.start()
    val cpu0 = Jvm.cpuSeconds(); val gc0 = Jvm.gcSeconds(); val jit0 = Jvm.jitSeconds()
    val t0 = System.nanoTime()
    workload.timed(ctx)
    val timedS = (System.nanoTime() - t0) / 1e9
    val cpuS = Jvm.cpuSeconds() - cpu0
    val gcS = Jvm.gcSeconds() - gc0
    val jitS = Jvm.jitSeconds() - jit0
    counters.foreach(_.settle())
    val after = counters.map(_.snapshot()).getOrElse(Map.empty)
    val timedTriggers = triggers.map(_.since(t0)).getOrElse(Nil)
    heap.sampleAfterGc()
    heap.stop()

    if (traced) workload.layers(ctx)
    workload.finish(ctx)
    val report = Json.obj(
      "workload" -> opt("workload"), "seed" -> ctx.seed, "trace" -> traced,
      "cores" -> cores, "slots" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Jvm.maxHeapMb,
      "setup_s" -> setupS, "jvm_boot_s" -> bootS, "session_s" -> sessionS,
      "artifacts_s" -> artifactsS, "warm_s" -> warmS,
      "timed_s" -> timedS, "cpu_s" -> cpuS, "gc_s" -> gcS, "jit_s" -> jitS,
      "heap_live_mb" -> heap.maxMb, "heap_collections" -> heap.collections,
      "ops" -> ctx.ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "wall_s" -> o.wallS, "items" -> o.items, "ok" -> o.ok)).toSeq,
      "failures" -> ctx.failures.toSeq,
      "spark" -> after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) },
      "spans" -> tracer.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)),
      "triggers" -> timedTriggers.map(t => Json.obj("batch" -> t.batchId,
        "durations" -> t.durations, "rows" -> t.rows, "state_rows" -> t.stateRows,
        "state_bytes" -> t.stateBytes, "late_dropped" -> t.lateDropped)),
      "extra" -> ctx.extra.toMap)
    Files.write(Paths.get(opt("out")), report.text.getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for the report. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): Raw = Raw(
    kv.map { case (k, v) => graft.Jsons.quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => graft.Jsons.quote(s)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => graft.Jsons.quote(other.toString)
  }
}
