package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one install path: GraftSession.builder names GraftExtensions in
  * `spark.sql.extensions`, so every session on its context gets the TopK
  * rewrite and the custom SQL functions with no imperative registration.
  */
class ExtensionsSpec extends AnyFunSuite {

  private def topKPlan(s: SparkSession): String = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    s.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderkey", "o_custkey")
      .queryExecution.executedPlan.toString
  }

  private def one(df: DataFrame) = df.collect()(0)

  test("GraftSession.builder installs the extension once, with no register call") {
    val spark = TestSpark.spark
    // the rule arrives only through the injected batches
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.sessionState.planner.strategies.count(_ == graft.plans.TopKStrategy) == 1)
    val cos = one(spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))")).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
    assert(one(spark.sql("SELECT strip_markup('<b>hi</b> &amp; bye')")).getString(0) == "hi & bye")
    val plan = topKPlan(spark)
    assert(plan.contains("TopKFinal"), s"rewrite did not fire:\n$plan")
  }

  test("the extensions conf appends graft once and keeps other entries") {
    val graftExt = classOf[GraftExtensions].getName
    assert(GraftSession.withGraftExtension(None) == graftExt)
    assert(GraftSession.withGraftExtension(Some("a.Ext")) == s"a.Ext,$graftExt")
    assert(GraftSession.withGraftExtension(Some(s"$graftExt, a.Ext")) == s"$graftExt,a.Ext")
  }

  test("GraftExtensions installs functions and the TopK rewrite on a fresh session") {
    val base = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, new session state built from the context's
      // spark.sql.extensions conf alone
      val s2 = SparkSession.builder().getOrCreate()
      assert(s2 ne base, "expected a fresh session, got the shared one")

      val cos = one(s2.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))")).getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-9)
      val nfc = one(s2.sql("SELECT nfc_normalize('cafe\\u0301')")).getString(0)
      assert(nfc == "caf\u00e9")
      // a composed-builtin builder (eagerExpression path) also injects
      val clean = one(s2.sql("SELECT strip_markup('<b>hi</b> &amp; bye')")).getString(0)
      assert(clean == "hi & bye", s"got '$clean'")
      val plan = topKPlan(s2)
      assert(plan.contains("TopKFinal"), s"extension-injected rewrite did not fire:\n$plan")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
