package graft.tools

/** Dev utility (r16): dump `.explain("formatted")` for MANY registry
  * queries in one JVM — the per-query PlanProbe pays a full session
  * startup per plan, which makes a whole-registry plan audit impractical.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [sfDir] [q1,q2,... | all]
  *
  * Each query's plan lands in `<outDir>/<name>.txt`. Plans are captured
  * WITHOUT executing the query (initial AQE plan), which is what the
  * optimization round's before/after artifacts pin. Every plan that can be
  * written is; the run then exits 1, listing the queries that failed.
  */
object PlanDump {
  def main(argv: Array[String]): Unit = {
    val args = Cli.parseArgs(argv.toSeq).positional
    val outDir = args.headOption.getOrElse("plans/tmp")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] = args.lift(2) match {
      case None | Some("all") => graft.SparkEntry.queries.keys.toSeq.sorted
      case Some(csv) => csv.split(",").toSeq
    }
    val spark = graft.GraftSession.get()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    try names.foreach { name =>
      try {
        val fn = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'"))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
