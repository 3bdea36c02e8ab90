package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("b", StringType), StructField("a", LongType),
    StructField("c", DoubleType)))
  private def fp(rows: Seq[Row]): String =
    Canon.fingerprint(Canon.rows(rows.toArray, schema), Canon.columns(schema))

  test("result fingerprint ignores row order") {
    val rows = Seq(Row("x", 1L, 0.5), Row("y", 2L, null), Row(null, 3L, 1e-5))
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) == fp(Seq(rows(1), rows(2), rows(0))))
  }

  test("result fingerprint sees changed, missing and duplicated rows") {
    val rows = Seq(Row("x", 1L, 0.5), Row("y", 2L, null))
    val base = fp(rows)
    assert(fp(Seq(Row("x", 1L, 0.5), Row("y", 2L, 0.0))) != base)
    assert(fp(rows.take(1)) != base)
    assert(fp(rows :+ rows.head) != base)
    // a null moving between columns is a different result
    assert(fp(Seq(Row(null, 1L, 0.5))) != fp(Seq(Row("", 1L, 0.5))))
    assert(fp(Seq(Row("x", 1L, 0.5), Row("x", 1L, 0.5))) != fp(Seq(Row("x", 1L, 0.5))))
  }

  test("result fingerprint depends on the column names") {
    val other = StructType(schema.fields.updated(0, StructField("z", StringType)))
    val rows = Array(Row("x", 1L, 0.5))
    assert(Canon.fingerprint(Canon.rows(rows, schema), Canon.columns(schema)) !=
      Canon.fingerprint(Canon.rows(rows, other), Canon.columns(other)))
  }

  test("canonical rows sort columns by name and tag values by type") {
    val r = Canon.rows(Array(Row("q\"1", 7L, 2.5)), schema)
    assert(r.toSeq == Seq("""[{"n":"7"},"q\"1",{"d":"2.5"}]"""))
    assert(Canon.cell(new java.math.BigDecimal("6.0000"), DecimalType(10, 4)) == """{"n":"6.0000"}""")
    assert(Canon.cell(0.1f, FloatType) == s"""{"d":"${0.1f.toDouble}"}""")
    assert(Canon.cell(java.sql.Date.valueOf("1970-01-02"), DateType) == """{"t":86400000000}""")
    assert(Canon.cell(java.time.Instant.ofEpochSecond(1, 5000), TimestampType) == """{"t":1000005}""")
    assert(Canon.cell(Seq(1, null), ArrayType(IntegerType)) == """[{"n":"1"},null]""")
    assert(Canon.cell(Map("b" -> 2, "a" -> 1), MapType(StringType, IntegerType)) ==
      """{"m":[["a",{"n":"1"}],["b",{"n":"2"}]]}""")
  }

  test("span self time and nesting") {
    val t = new Tracer(enabled = true)
    t.op = 3
    t.span("outer") { t.span("inner")(Thread.sleep(20)); Thread.sleep(20) }
    val Seq(outer, inner) = t.spans
    assert(outer.name == "outer" && outer.parent == -1 && outer.op == 3)
    assert(inner.name == "inner" && inner.parent == outer.id)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("live heap after GC is positive and never exceeds -Xmx") {
    val heap = new Jvm.LiveHeap
    val keep = (1 to 40).map(_ => new Array[Byte](4 << 20))
    val mb = heap.sampleAfterGc()
    assert(keep.map(_.length.toLong).sum > 0)
    assert(mb > 100.0, s"expected the 160 MB kept alive to show, got $mb")
    assert(mb <= Jvm.maxHeapMb)
    (1 to 20).foreach(_ => new Array[Byte](16 << 20))
    assert(heap.sampleAfterGc() <= Jvm.maxHeapMb)
    assert(heap.maxMb <= Jvm.maxHeapMb)
  }

  test("live heap records the collections that run while it records") {
    val heap = new Jvm.LiveHeap
    heap.start()
    // keep a growing set alive while churning garbage, so collections run
    // on their own while the set is held
    val keep = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var sink = 0L
    for (i <- 1 to 3000) {
      if (i % 50 == 0) keep += new Array[Byte](2 << 20)
      sink += new Array[Byte](256 << 10).length
    }
    val deadline = System.currentTimeMillis() + 5000
    while (heap.collections == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    heap.stop()
    assert(sink > 0 && keep.nonEmpty)
    assert(heap.collections > 0, "no collection was seen while recording")
    assert(heap.maxMb > 0.0 && heap.maxMb <= Jvm.maxHeapMb)
    val n = heap.collections
    System.gc()
    Thread.sleep(200)
    assert(heap.collections == n, "a collection after stop() was recorded")
  }
}
