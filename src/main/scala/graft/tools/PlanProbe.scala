package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: print the formatted physical plan of one registry query and
  * time N runs — the `.explain`-and-iterate loop SURVEY §5 prescribes.
  *
  * Usage: runMain graft.tools.PlanProbe <queryName> [sfDir] [runs] [--plan]
  *          [--set spark.conf.key=value ...]
  *
  * `--set k=v` applies runtime SQL confs before running — the A-B lever
  * for config experiments (e.g. AQE coalescing modes) without recompiling.
  */
object PlanProbe {

  /** A parsed command line: the positionals in order, the bare flags
    * (`--plan`, `--stages`, `--final`) and the `--set` confs.
    */
  private[graft] final case class Args(positional: Seq[String],
                                       flags: Set[String],
                                       sets: Seq[(String, String)])

  /** Flags are position-independent ("--plan" must not be consumed as a
    * positional); the value after a literal `--set` is a conf, never a
    * positional, and `--set=k=v` is the same conf. A conf with no `=` or an
    * empty key throws IllegalArgumentException.
    */
  private[graft] def parseArgs(args: Seq[String]): Args = {
    def conf(kv: String): (String, String) = kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(
        s"--set expects spark.conf.key=value, got '$kv'")
    }
    @scala.annotation.tailrec
    def go(rest: List[String], pos: Vector[String], flags: Set[String],
           sets: Vector[(String, String)]): Args = rest match {
      case Nil => Args(pos, flags, sets)
      case "--set" :: kv :: tail => go(tail, pos, flags, sets :+ conf(kv))
      case "--set" :: Nil => throw new IllegalArgumentException(
        "--set needs a spark.conf.key=value after it")
      case a :: tail if a.startsWith("--set=") =>
        go(tail, pos, flags, sets :+ conf(a.stripPrefix("--set=")))
      case a :: tail if a.startsWith("--") => go(tail, pos, flags + a, sets)
      case a :: tail => go(tail, pos :+ a, flags, sets)
    }
    go(args.toList, Vector.empty, Set.empty, Vector.empty)
  }

  def main(args: Array[String]): Unit = {
    val Args(positional, flags, sets) = parseArgs(args.toSeq)
    val name = positional.headOption.getOrElse("q1_agg")
    val sfDir = positional.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = positional.lift(2).map(_.toInt).getOrElse(3)
    // static (core) confs only take effect at context construction —
    // stage them as system properties (SparkConf loads spark.* props),
    // then ALSO set runtime-settable SQL confs on the live session
    sets.foreach { case (k, v) => System.setProperty(k, v) }
    val spark = graft.GraftSession.get()
    sets.foreach { case (k, v) =>
      println(s"[probe] conf $k=$v")
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        println(s"[probe]   ($k is static — applied via system property)")
      }
    }
    try {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; valid names: " +
          graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      if (flags("--plan")) fn(spark, sfDir).explain("formatted")
      // aggregate task metrics per run: input bytes ≈ how often the source
      // files were really scanned (runtime exchange/stage reuse is
      // invisible in the initial plan), shuffle bytes = exchange volume,
      // executor run time = the true parallel work behind the wall time
      val inB = new java.util.concurrent.atomic.AtomicLong
      val shB = new java.util.concurrent.atomic.AtomicLong
      val runMs = new java.util.concurrent.atomic.AtomicLong
      val nTasks = new java.util.concurrent.atomic.AtomicLong
      // per-stage attribution (--stages): stage id → (tasks, task-ms) so a
      // ballooning stage is nameable instead of guessed at
      val showStages = flags("--stages")
      val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
      val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              inB.addAndGet(m.inputMetrics.bytesRead)
              shB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              runMs.addAndGet(m.executorRunTime)
              nTasks.incrementAndGet()
              stageAgg.merge(e.stageId, (1L, m.executorRunTime),
                (a, b) => (a._1 + b._1, a._2 + b._2))
            }
          }
          override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            stageName.put(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n'))
        })
      (1 to runs).foreach { i =>
        inB.set(0); shB.set(0); runMs.set(0); nTasks.set(0); stageAgg.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give the bus a beat
        Thread.sleep(200)
        println(f"[probe] $name run $i: $sec%.3f s ($n rows) " +
          f"tasks=${nTasks.get} input=${inB.get / 1024}KB " +
          f"shuffleW=${shB.get / 1024}KB taskTime=${runMs.get / 1000.0}%.2fs")
        if (showStages && i == runs) {
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2._2).take(12).foreach {
            case (sid, (nt, ms)) =>
              println(f"[probe]   stage $sid%4d: $nt%3d tasks ${ms / 1000.0}%7.2fs  " +
                stageName.getOrDefault(sid, "?"))
          }
        }
        // --final: the executed (post-AQE) operator skeleton — join
        // strategies and exchange counts as they actually RAN, which the
        // initial --plan cannot show
        if (flags("--final") && i == runs) {
          val df = fn(spark, sfDir); df.count()
          val skeleton = df.queryExecution.executedPlan.toString.linesIterator
            .map(_.replaceAll("\\[.*", "").replaceAll("\\(\\d+\\)", ""))
            .filter(l => l.exists(_.isLetter)).take(120)
          skeleton.foreach(l => println("[probe]  |" + l))
        }
      }
    } finally spark.stop()
  }
}
