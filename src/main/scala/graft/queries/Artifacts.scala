package graft.queries

import org.apache.spark.sql.SparkSession

/** The shared artifacts: offline steps that several registered queries
  * read, built once per (session, data dir) by their accessors. A harness
  * prebuilds the ones its queries read and keeps their blocks out of the
  * per-query [[reclaim]] — the cluster labels are localCheckpoint-backed,
  * so releasing them after one consumer fails the others with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Each consumer set lives next to its
  * accessor: register a new consumer there, or a subset run pays the build
  * inside that query's timed window.
  */
object Artifacts {

  /** `name` is the artifact's line item in the bench artifact. */
  final case class Artifact(name: String, consumers: Set[String],
                            build: (SparkSession, String) => Unit)

  val all: Seq[Artifact] = Seq(
    // the natural index and the planted-copy margin index d_ann_ivf probes
    Artifact("d_ann_ivf_build", AnnQueries.ivfConsumers, { (s, d) =>
      AnnQueries.ivfIndex(s, d).indexed.count()
      AnnQueries.ivfIndexPlanted(s, d).indexed.count()
    }),
    Artifact("d_ann_pq_build", AnnQueries.pqConsumers, AnnQueries.pqBooks(_, _)),
    Artifact("d_cluster_labels_build", DocumentQueries.labelConsumers,
      DocumentQueries.clusterLabels(_, _).count()),
    Artifact("s_hybrid_serve_build", RetrievalQueries.hybridServeConsumers,
      RetrievalQueries.hybridServePrebuild(_, _)))

  /** Build seconds per artifact built, the artifacts whose build failed,
    * and the persisted RDDs [[reclaim]] must keep.
    */
  final case class Prebuilt(seconds: Seq[(String, Double)], failed: Seq[String],
                            protectedRdds: Set[Int])

  /** Builds, timed, every artifact a `picked` query reads; a failed build
    * goes to stderr and `failed`, never into `seconds`. Call it before the
    * first query: every RDD persisted by then is protected.
    */
  def prebuild(spark: SparkSession, dir: String, picked: Set[String]): Prebuilt = {
    val (failed, built) = all.filter(_.consumers.exists(picked)).partitionMap { a =>
      val t0 = System.nanoTime()
      try { a.build(spark, dir); Right(a.name -> (System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[artifacts] ${a.name} FAILED: ${e.getMessage}")
        Left(a.name)
      }
    }
    Prebuilt(built, failed, spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  /** Releases every persisted RDD outside `protectedRdds` — the blocks a
    * query pinned — so the next query starts from the same heap.
    */
  def reclaim(spark: SparkSession, protectedRdds: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => protectedRdds(id) }
      .values.foreach(_.unpersist(blocking = false))
}
