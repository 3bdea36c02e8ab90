package graft

import graft.queries.Artifacts
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The declared shared artifacts survive the per-query reclaim: a harness
  * that prebuilds through [[Artifacts]] and reclaims between queries must
  * see every consumer of every artifact succeed (a reclaimed
  * localCheckpoint-backed artifact fails its later consumers with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
  */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

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
      Artifacts.reclaim(spark, pre.protectedRdds)
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- pre.protectedRdds
      assert(left.isEmpty, s"persisted RDDs $left outlived the reclaim after $name")
    }
  }
}
