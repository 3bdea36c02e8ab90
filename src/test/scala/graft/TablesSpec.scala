package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MetricsBridge
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Tables reads each table's schema from one footer on the driver: the
  * schema is the one Spark's own inference gives, and building a table's
  * DataFrame starts no Spark job.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("every table's schema equals Spark's inferred schema") {
    Tables.all.foreach { t =>
      assert(Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("building a table's DataFrame starts no Spark job") {
    // events of earlier actions must not reach the reporter attached here
    MetricsBridge.drain(spark.sparkContext)
    val rep = Metrics.attach(spark)
    try {
      val dfs = Tables.all.map(Tables.load(spark, sf, _))
      rep.drain()
      assert(rep.unattributed.jobs == 0, rep.unattributed)
      assert(rep.reports.isEmpty, rep.reports)
      assert(dfs.forall(_.columns.nonEmpty))
    } finally rep.close()
  }

  test("a multi-file and a partitioned directory get the inferred schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("tables_spec")
    try {
      val src = spark.range(0, 40, 1, 4)
        .select(col("id"), (col("id") % 3).as("k"), concat(lit("r"), col("id")).as("s"),
          (col("id") / 7.0).as("d"))
      src.write.parquet(s"$dir/multi.parquet")
      src.write.partitionBy("k").parquet(s"$dir/parted.parquet")
      Seq("multi", "parted").foreach { t =>
        val p = s"$dir/$t.parquet"
        val inferred = spark.read.parquet(p)
        val loaded = Tables.load(spark, dir.toString, t)
        assert(loaded.schema == inferred.schema, t)
        assert(loaded.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq, t)
      }
      assert(new java.io.File(s"$dir/multi.parquet").list().count(_.endsWith(".parquet")) > 1)
    } finally TempFiles.deleteRecursively(dir)
  }

  test("events.ts is a timestamp") {
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }
}
