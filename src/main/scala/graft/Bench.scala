package graft
import graft.queries.Artifacts
import org.apache.spark.sql.SparkSession
object Bench {
  // Load sentinel (r9): four rounds of committed artifacts were inflated
  // by co-tenant load the min-of-N couldn't fully shed. Record the host
  // 1-minute loadavg and mark the artifact "loaded" when the PRE-RUN
  // reading exceeds cores/4 — a flagged artifact means "re-run quiet
  // before reading regressions off these walls".
  private def loadavg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // FIRST thing in main: the pre-run loadavg must be read before the
    // session, table warmup, and index prebuild generate their own load —
    // read any later and the sentinel measures the bench itself.
    // ACTIVE load gate (r16): a loaded artifact of record cost r15 a
    // git-archaeology adjudication (phantom 6-8x regressions on untouched
    // code). When the box is busy at startup, WAIT for it to quiet —
    // re-reading every 15 s up to SPARK_GRAFT_LOAD_WAIT seconds (default
    // 120, 0 disables) — and only then start the sweep; if the window
    // expires still-loaded, proceed but warn on stderr and stamp the
    // artifact loaded:true (+ load_waited_s) so no reader ever has to
    // reconstruct machine state from git history again.
    val hostCores = Runtime.getRuntime.availableProcessors()
    val loadGate = hostCores / 4.0
    val waitBudgetS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT", "120").toInt
    var loadBefore = loadavg1m()
    var waitedS = 0
    while (loadBefore > loadGate && waitedS < waitBudgetS) {
      System.err.println(
        s"[bench] host loaded (load_1m=$loadBefore > $loadGate); waiting 15s " +
          s"($waitedS/$waitBudgetS s elapsed)")
      Thread.sleep(15000); waitedS += 15
      loadBefore = loadavg1m()
    }
    if (loadBefore > loadGate)
      System.err.println(s"[bench] proceeding LOADED after ${waitedS}s wait " +
        s"(load_1m=$loadBefore); artifact will carry loaded:true")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus()
    val spark = GraftSession.get(cpus)
    // a failed table load, artifact build, warmup or timed query must not
    // masquerade as a fast success — each lands here (and on stderr), goes
    // into the JSON's failed list, and makes the run exit non-zero
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    def attempt(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
    // Warm the JVM/codegen/file-listing paths so the first timed query isn't
    // charged for session startup; touch every table once.
    graft.Tables.all.foreach { t =>
      attempt(s"table:$t")(graft.Tables.load(spark, sfDir, t).count())
    }
    // optional comma-separated subset (quiet A-B reruns of a few queries
    // without paying the full 120-query sweep). Read BEFORE the prebuilds:
    // a subset run with no consumer of an index/label artifact must not
    // pay its derivation nor emit an unrelated *_build line item.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Shared artifacts (IVF/PQ indexes, cluster labels, the hybrid rank
    // list) are offline steps: prebuild them so their consumers time the
    // probe, not the build — each build is its own timed line item, so the
    // total still reflects ALL work performed.
    val prebuilt = Artifacts.prebuild(spark, sfDir, picked.map(_._1).toSet)
    failed ++= prebuilt.failed
    // Several operators (connected components, vancode, the embedding
    // index) pin localCheckpoint blocks that outlive their query; across
    // 80 queries × (warmup + timed) the leaked blocks grow old-gen
    // occupancy until GC pauses tax EVERY subsequent job (~+25% uniform
    // drift measured at 8g). Reclaim non-artifact blocks after each query,
    // warmup and timed, so each measurement starts from the same heap state.
    //
    // JMH-style warmup: run every query once untimed so the timed loop
    // measures steady-state execution, not whichever alphabetically-first
    // queries happen to absorb JIT/codegen warmup (disable with
    // SPARK_GRAFT_WARMUP=0 to measure cold).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      picked.foreach { case (name, fn) =>
        attempt(name)(fn(spark, sfDir).count())
        Artifacts.reclaim(spark, prebuilt.protectedRdds)
      }
      System.gc()
    }
    // Load robustness: the machine hosting the driver's snapshot runs other
    // work, and two rounds of artifacts were corrupted by CPU contention
    // (uniform-ish 1.6x inflation with a 3-10x scheduling-sensitive tail).
    // Two countermeasures, both recorded per query:
    //  - min-of-N wall time (N=SPARK_GRAFT_REPS, default 3): contention is
    //    bursty, so the min of two spaced runs sheds most of the tail;
    //  - process-CPU seconds (all JVM threads, via the platform
    //    OperatingSystemMXBean): the work a query does is ~invariant under
    //    external load, so cpu_s is the metric to trust when wall times
    //    disagree across artifacts.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // per-query GC time (r17, the r16 adjudication lesson): a run whose
    // walls blow up needs to show WHERE the time went — a uniform GC tax
    // (heap pressure from pinned artifacts) reads completely differently
    // from scheduling contention (GC flat, walls inflated). Sum across all
    // collector beans; deltas are attributed to the rep that ran.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var t = 0L
      val it = gcBeans.iterator()
      while (it.hasNext) { val v = it.next().getCollectionTime; if (v > 0) t += v }
      t
    }
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      val g0 = gcMillis()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      attempt(name)(fn(spark, sfDir).count())
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val gc = (gcMillis() - g0) / 1e3
      Artifacts.reclaim(spark, prebuilt.protectedRdds)
      (sec, cpu, gc)
    }
    // keep every rep's wall time: the per-rep spread in the artifact is
    // what lets a reader distinguish "code got slower" (all reps slow)
    // from "machine was busy" (min fine, max inflated) without a rerun
    val repWalls = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val timed = picked.map { case (name, fn) =>
      val runs = (1 to reps).map(_ => timeOnce(name, fn))
      repWalls(name) = runs.map(_._1)
      // min wall; CPU and GC from the min-wall run (the least-contended
      // sample)
      name -> runs.minBy(_._1)
    }.toMap ++
      prebuilt.seconds.map { case (name, s) => name -> (s, Double.NaN, Double.NaN) }
    val results = timed.map { case (k, (w, _, _)) => k -> w }
    val cpuResults = timed.collect { case (k, (_, c, _)) if !c.isNaN => k -> c }
    val gcResults = timed.collect { case (k, (_, _, g)) if !g.isNaN => k -> g }
    // The driver captures only the tail of stdout, and a single line carrying
    // all ~120 per-query timings truncates mid-line (BENCH parsed=null for 5
    // rounds). So: write the FULL per-query map to bench_full.json on disk,
    // and keep the final stdout line compact — summary stats plus the slowest
    // few queries — so it always parses.
    def f(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sorted = results.values.toSeq.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    val cpuTotal = if (cpuResults.nonEmpty) cpuResults.values.sum else 0.0
    def jmap(m: Iterable[(String, Double)]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val fullJson = jmap(results)
    val loadAfter = loadavg1m()
    // the flag keys on the BEFORE reading only: the after reading is
    // dominated by this bench's own 32-thread work (informational — it
    // shows how saturated the run itself kept the box), while co-tenant
    // contention is what the before value captures
    val loaded = loadBefore > loadGate
    // cpus + GC totals + heap peak stamped into every artifact (r17): the
    // r16 32-core regression cost a round of archaeology because the
    // artifact couldn't say what parallelism it ran at or whether the time
    // went to GC. Heap peak is the max across heap pools' peak-usage
    // watermarks (set by the JVM, no sampling needed).
    val gcTotal = gcResults.values.sum
    val heapPeakMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / (1024 * 1024)
    }
    val loadJson = s""""load_1m_before":${f(loadBefore)},"load_1m_after":${f(loadAfter)},"host_cores":$hostCores,"cpus":$cpus,"gc_total_s":${f(gcTotal)},"heap_peak_mb":$heapPeakMb,"loaded":$loaded,"load_waited_s":$waitedS"""
    val repsJson = repWalls.toSeq.sortBy(_._1).map { case (k, ws) =>
      "\"" + k + "\":[" + ws.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // subset runs don't clobber the full-sweep artifact
    val fullPath = java.nio.file.Paths.get(
      if (only.isEmpty) "bench_full.json" else "bench_subset.json")
    java.nio.file.Files.write(fullPath,
      s"""{"metric":"total","value":${f(total)},"unit":"sec","reps":$reps,"cpu_total_s":${f(cpuTotal)},$loadJson,"queries":$fullJson,"cpu":${jmap(cpuResults)},"gc":${jmap(gcResults)},"rep_walls":$repsJson,"sf":"$sfDir"}""".getBytes("UTF-8"))
    val slowest = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":[${failed.distinct.map(n => s"\"$n\"").mkString(",")}]"""
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"reps":$reps,"cpu_total_s":${f(cpuTotal)},"median_s":${f(median)},"max_s":${f(sorted.lastOption.getOrElse(0.0))},$loadJson,"queries":$slowest$failedJson,"full":"${fullPath.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
