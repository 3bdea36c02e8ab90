package graft
import graft.queries.Artifacts
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Every query that
  * can be written is; the run then exits non-zero if any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — verify just those
    // (fast single-query iteration; the driver always runs all)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.get(GraftSession.envCpus())
    new java.io.File(outDir).mkdirs()
    val picked = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    // shared artifacts build inside their first consumer
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // reclaim blocks pinned by iterative operators after each query —
      // across 80 sequential queries the leak taxes every later job with
      // GC pauses
      Artifacts.reclaim(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
