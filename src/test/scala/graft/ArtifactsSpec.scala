package graft

import graft.queries.{Artifacts, DocumentQueries, RetrievalQueries}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The artifact memo owns the blocks of what it builds: a reclaim between
  * queries keeps them (a reclaimed localCheckpoint-backed artifact fails
  * its later consumers with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and a
  * release frees them. Tests that build cold use their own
  * `newSession()`: the memo is keyed by session.
  */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every consumer of each artifact runs with a reclaim between consumers") {
    val queries = SparkEntry.queries
    val consumers = Artifacts.all.flatMap(_.consumers)
    assert(consumers.forall(queries.contains), consumers.filterNot(queries.contains))
    val pre = Artifacts.prebuild(spark, sf, queries.keySet.toSet)
    assert(pre.failed.isEmpty, pre.failed)
    assert(pre.builds.map(_._1) == Artifacts.all.map(_.name))
    for (a <- Artifacts.all; name <- a.consumers.toSeq.sorted) {
      val run = Try(queries(name)(spark, sf).count())
      assert(run.isSuccess,
        s"${a.name} consumer $name failed: ${run.failed.fold(_ => "", _.getMessage)}")
      Artifacts.reclaim(spark)
      val left = persisted -- Artifacts.owned(spark)
      assert(left.isEmpty, s"persisted RDDs $left outlived the reclaim after $name")
    }
  }

  test("a reclaim uncaches an operator's persisted table, so it caches again next time") {
    def cached = org.apache.spark.sql.graft.CacheEntries(spark)
    val before = cached
    val docs = Tables.documents(spark, sf)
    for (_ <- 1 to 2) {
      graft.operators.Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 3).count()
      assert(cached == before + 1)
      Artifacts.reclaim(spark)
      assert(cached == before, "the signature table is still registered")
    }
  }

  test("a labels consumer builds the labels itself, and a reclaim keeps them for the others") {
    val s = spark.newSession()
    try {
      val Seq(first, rest @ _*) = DocumentQueries.labelConsumers.toSeq.sorted
      SparkEntry.queries(first)(s, sf).count()
      Artifacts.reclaim(s)
      rest.foreach { name =>
        val run = Try(SparkEntry.queries(name)(s, sf).count())
        assert(run.isSuccess, s"$name failed: ${run.failed.fold(_ => "", _.getMessage)}")
      }
    } finally Artifacts.release(s)
  }

  test("release frees owned blocks and staging dirs, and the next call rebuilds") {
    val s = spark.newSession()
    try {
      val before = Artifacts.owned(s)
      DocumentQueries.clusterLabels(s, sf)
      val labels = Artifacts.owned(s) -- before
      assert(labels.nonEmpty)
      val staged = RetrievalQueries.hybridServePrebuild(s, sf)
      assert(Files.exists(Paths.get(staged)))
      Artifacts.release(s)
      assert((persisted intersect labels).isEmpty)
      assert(!Files.exists(Paths.get(staged)))
      DocumentQueries.clusterLabels(s, sf)
      assert((Artifacts.owned(s) -- before -- labels).nonEmpty, "labels were not rebuilt")
      val again = RetrievalQueries.hybridServePrebuild(s, sf)
      assert(again != staged && Files.exists(Paths.get(again)))
    } finally Artifacts.release(s)
  }

  test("a build may call the memo from inside its own build") {
    val s = spark.newSession()
    try {
      val outer = Artifacts.memo(s, "outer", sf)(Artifacts.memo(s, "inner", sf)(1) + 1)
      assert(outer == 2)
      assert(Artifacts.memo(s, "inner", sf)(-1) == 1)
      assert(Artifacts.memo(s, "outer", sf)(-1) == 2)
    } finally Artifacts.release(s)
  }

  test("a build that throws leaves no entry, so the next call retries") {
    val s = spark.newSession()
    var calls = 0
    def flaky(): Int = {
      calls += 1
      if (calls == 1) throw new IllegalStateException("first build fails")
      7
    }
    try {
      intercept[IllegalStateException](Artifacts.memo(s, "flaky", sf)(flaky()))
      assert(Artifacts.memo(s, "flaky", sf)(flaky()) == 7)
      assert(Artifacts.memo(s, "flaky", sf)(flaky()) == 7)
      assert(calls == 2)
    } finally Artifacts.release(s)
  }
}
