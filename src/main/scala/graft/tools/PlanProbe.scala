package graft.tools

import graft.Metrics
import graft.queries.Artifacts

/** Dev utility: print the formatted physical plan of one registry query,
  * or build one shared artifact, and time N runs — the
  * `.explain`-and-iterate loop SURVEY §5 prescribes. Each run is read from
  * a [[graft.Metrics]] reporter: a summary line, then one line per SQL
  * execution (an artifact's iterative rounds each show up as their own).
  *
  * Usage: runMain graft.tools.PlanProbe <queryName | artifactName> [sfDir]
  *          [runs] [--plan] [--stages] [--final]
  *          [--set spark.conf.key=value ...]
  *
  * Artifact names are the `Artifacts.all` line items, e.g.
  * `d_cluster_labels_build`. Every run uses the one session; before each
  * artifact run `Artifacts.release` drops what the session had built, so
  * the build is cold while the JVM stays warm.
  * Jobs outside any SQL execution (e.g. an RDD action inside an operator)
  * count in the summary totals. The summary also gives the run's JIT
  * compile seconds and `codegen`, the classes Spark's code generator
  * compiled during it: a warm repeat of a query should show `codegen=0`,
  * and a repeat that does not has missed the codegen cache. `--set k=v`
  * applies runtime SQL confs before running — the A-B lever for config
  * experiments (e.g. AQE coalescing modes) without recompiling. `--stages` lists the last run's 12 most
  * expensive stages; `--plan` and `--final` apply to queries only.
  */
object PlanProbe {

  def main(args: Array[String]): Unit = {
    val Cli.Args(positional, flags, sets) = Cli.parseArgs(args.toSeq)
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
      val query = graft.SparkEntry.queries.get(name)
      val artifact = Artifacts.all.find(_.name == name)
      if (query.isEmpty && artifact.isEmpty)
        sys.error(s"unknown query or artifact '$name'; valid names: " +
          (graft.SparkEntry.queries.keys ++ Artifacts.all.map(_.name))
            .toSeq.sorted.mkString(", "))
      def runOnce(): String = query match {
        case Some(fn) => s"${fn(spark, sfDir).count()} rows"
        case None => artifact.get.build(spark, sfDir); "built"
      }
      if (flags("--plan")) query.foreach(_(spark, sfDir).explain("formatted"))
      def kb(b: Long): String = s"${b / 1024}KB"
      def sec(ms: Long): String = f"${ms / 1000.0}%.2fs"
      (1 to runs).foreach { i =>
        // a cold build: drop what the earlier runs built, and free its blocks
        // so no run builds under a heap holding the previous ones
        if (artifact.isDefined) Artifacts.release(spark)
        val rep = Metrics.attach(spark)
        try {
          val (what, use) = Metrics.measure(runOnce())
          // the listener bus is asynchronous: read only once every
          // execution this run ended has reached the reporter
          try rep.drain()
          catch { case e: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              s"$name run $i: execution reports did not arrive in time", e)
          }
          val rs = rep.reports
          if (rs.isEmpty)
            throw new IllegalStateException(s"$name run $i: no execution report arrived")
          val u = rep.unattributed
          // input bytes ≈ how often the source files were really scanned
          // (runtime exchange/stage reuse is invisible in the initial
          // plan), shuffle bytes = exchange volume, executor run time =
          // the true parallel work behind the wall time
          println(f"[probe] $name run $i: ${use.wallS}%.3f s ($what) " +
            f"cpu=${use.cpuS}%.2fs gc=${use.gcS}%.2fs jit=${use.jitS}%.2fs " +
            s"codegen=${use.codegenCompiles} executions=${rs.size} " +
            s"tasks=${rs.map(_.tasks).sum + u.tasks} " +
            s"input=${kb(rs.map(_.inputBytes).sum + u.inputBytes)} " +
            s"shuffleW=${kb(rs.map(_.shuffleWriteBytes).sum + u.shuffleWriteBytes)} " +
            s"taskTime=${sec(rs.map(_.runMs).sum + u.runMs)} " +
            s"(outside executions: jobs=${u.jobs} tasks=${u.tasks})")
          // one line per execution: an iterative build (the CC loop) shows
          // each round's cost
          rs.foreach { r =>
            println(f"[probe]   exec ${r.executionId}%5d ${r.action}%-16s " +
              f"${r.durationMs / 1000.0}%7.3f s plan=${r.phasesMs.values.sum}ms " +
              s"jobs=${r.jobs} stages=${r.stages.size} tasks=${r.tasks} " +
              s"input=${kb(r.inputBytes)} shuffleR=${kb(r.shuffleReadBytes)} " +
              s"shuffleW=${kb(r.shuffleWriteBytes)} spill=${kb(r.spillBytes)} " +
              s"taskTime=${sec(r.runMs)} taskCpu=${sec(r.cpuMs)} taskGc=${sec(r.gcMs)}" +
              (if (r.failed) " FAILED" else ""))
          }
          // per-stage attribution (--stages): a ballooning stage is
          // nameable instead of guessed at
          if (flags("--stages") && i == runs)
            rs.flatMap(_.stages).sortBy(-_.runMs).take(12).foreach { st =>
              println(f"[probe]   stage ${st.id}%4d: ${st.tasks}%3d tasks " +
                f"${st.runMs / 1000.0}%7.2fs  ${st.name}")
            }
        } finally rep.close()
        // --final: the executed (post-AQE) operator skeleton — join
        // strategies and exchange counts as they actually RAN, which the
        // initial --plan cannot show
        if (flags("--final") && i == runs) query.foreach { fn =>
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
