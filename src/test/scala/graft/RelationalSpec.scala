package graft

import graft.queries.Artifacts
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("every registered query runs and returns a stable schema") {
    SparkEntry.registry.foreach { d =>
      val df = d.run(spark, sf)
      assert(df.columns.nonEmpty, s"${d.name} has no columns")
      assert(df.count() >= 0, s"${d.name} failed to execute")
      Artifacts.reclaim(spark)
      // a subset: the ContextCleaner may drop an owned RDD nothing reaches
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- Artifacts.owned(spark)
      assert(left.isEmpty, s"persisted RDDs $left outlived the reclaim after ${d.name}")
    }
  }

  test("q1_agg aggregates all 6 flag/status groups with exact decimals") {
    val rows = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    val liCount = Tables.lineitem(spark, sf).count()
    assert(total == liCount)
  }

  test("q4_broadcast_join broadcasts the dimension tables") {
    val plan = SparkEntry.queries("q4_broadcast_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q2_filter_project pushes filters into the parquet scan") {
    val plan = SparkEntry.queries("q2_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("l_shipdate"), plan)
  }

  test("q7_topk result is deterministic and ordered") {
    val a = SparkEntry.queries("q7_topk")(spark, sf).collect()
    val b = SparkEntry.queries("q7_topk")(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    val prices = a.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (x, y) => x >= y })
  }

  test("entry smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
