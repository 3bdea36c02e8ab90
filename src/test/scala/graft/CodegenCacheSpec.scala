package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.builder sizes Spark's generated-code cache to graft's
  * working set: a cycle of more distinct classes than Spark's default
  * 100-entry cache holds must be served from the cache on its second pass,
  * not recompiled. Counting compiles (not reading the conf back) proves
  * the static conf took effect in this JVM.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a second pass over 300 distinct generated classes compiles none of them") {
    // primitive literals are inlined into the generated code, so each
    // literal gives a class of its own; a random base keeps them unseen by
    // any earlier test, whatever that left in the cache
    val base = 1000000000L + scala.util.Random.nextInt(1000000) * 1000L
    val projections = (0 until 300).map { i =>
      spark.range(2).select((col("id") + lit(base + i)).as("v"))
    }
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Seq[Long] = projections.map(_.collect()(1).getLong(0))

    val c0 = compiles()
    val first = pass()
    val c1 = compiles()
    val second = pass()
    val c2 = compiles()
    assert(first == (0 until 300).map(i => base + i + 1))
    assert(second == first)
    assert(c1 - c0 >= 300, s"the first pass compiled ${c1 - c0} classes")
    assert(c2 - c1 == 0, s"the second pass recompiled ${c2 - c1} classes")
  }
}
