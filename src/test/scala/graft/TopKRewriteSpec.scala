package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def windowTopK(keepRank: Boolean) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val ranked = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    if (keepRank) ranked else ranked.select("o_orderkey", "o_custkey")
  }

  test("rule rewrites rank-dropped window top-k into TopKPerGroup") {
    val df = windowTopK(keepRank = false)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKFinal"), s"rewrite did not fire:\n$physical")
    // neither the Window operator nor Spark's own WindowGroupLimit remains
    assert(!physical.contains("Window ["), physical)
    assert(!physical.contains("WindowGroupLimit"), physical)
    assert(!physical.contains("Sort "), physical)
  }

  test("rewritten plan returns exactly the window result") {
    val got = windowTopK(keepRank = false)
      .as[(Long, Long)].collect().toSet
    // reference computed with the rule disabled via a plain filter shape the
    // rule can't touch (rank kept in output)
    val reference = windowTopK(keepRank = true)
      .select("o_orderkey", "o_custkey").as[(Long, Long)].collect().toSet
    assert(got == reference)
  }

  test("rule leaves the plan alone when the rank column survives") {
    val physical = windowTopK(keepRank = true).queryExecution.executedPlan.toString
    assert(physical.contains("Window"), physical)
    assert(!physical.contains("TopKFinal"), physical)
  }
}
