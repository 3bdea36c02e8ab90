package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import graft.{Metrics, TempFiles}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one memo of what queries build once and reuse: a new artifact goes
  * through [[memo]] or [[staged]]. An entry is keyed by (session, name, data
  * dir), lives as long as its session, and owns its staging dir and the
  * persisted RDDs that appeared while it was built (so builds on one
  * context run one at a time). [[reclaim]] frees every block no entry owns,
  * with no snapshot to keep; [[release]] frees a session's entries. A build
  * that persists a Dataset must materialize it: its RDD registers on first
  * run.
  *
  * [[all]] declares the offline steps several registered queries read; each
  * consumer set lives next to its accessor (see DocumentQueries.labelConsumers).
  */
object Artifacts {

  /** `spark` compares by reference: SparkSession keeps Object's equality. */
  private final case class Key(spark: SparkSession, name: String, dir: String)

  /** Built under its own lock, not the map's, so a build may call the memo;
    * a staged value is a path, so what its write persisted is not its own. */
  private final class Entry(staged: Boolean) {
    @volatile private var value: Option[Any] = None
    @volatile var owned = Set.empty[Int]

    def get(sc: SparkContext, build: => Any): Any = synchronized {
      value.getOrElse {
        val before = sc.getPersistentRDDs.keySet
        val v = build
        if (!staged) owned = sc.getPersistentRDDs.keySet.toSet -- before
        value = Some(v)
        v
      }
    }

    def stagingDir: Option[String] = if (staged) value.map(_.toString) else None
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()

  private def entry[T](spark: SparkSession, name: String, dir: String, staged: Boolean)
                      (build: => T): T = {
    // the blocks of a stopped context died with it
    entries.keySet.removeIf(_.spark.sparkContext.isStopped)
    val key = Key(spark, name, dir)
    val e = entries.computeIfAbsent(key, _ => new Entry(staged))
    try e.get(spark.sparkContext, build).asInstanceOf[T]
    catch { case t: Throwable => entries.remove(key, e); throw t }
  }

  /** `build`'s value, once per (session, name, dir). A build that throws
    * leaves no entry, so the next call builds again.
    */
  def memo[T](spark: SparkSession, name: String, dir: String)(build: => T): T =
    entry(spark, name, dir, staged = false)(build)

  /** A temp dir `write` fills once per (session, name, dir), for a file a
    * query writes and reads back. It is deleted by [[release]] or, with
    * what was written into it later (Derby logs), at JVM exit.
    */
  def staged(spark: SparkSession, name: String, dir: String)(write: String => Unit): String =
    entry(spark, name, dir, staged = true) {
      val tmp = TempFiles.createDir(s"graft_$name")
      try write(tmp)
      catch { case t: Throwable => TempFiles.deleteRecursively(Paths.get(tmp)); throw t }
      tmp
    }

  /** The persisted-RDD ids the live entries on `spark`'s context own. */
  def owned(spark: SparkSession): Set[Int] =
    entries.asScala.filter(_._1.spark.sparkContext eq spark.sparkContext)
      .flatMap(_._2.owned).toSet

  /** Unpersists every persisted RDD no live entry owns: the blocks a query
    * pinned, so the next query starts from the same heap.
    */
  def reclaim(spark: SparkSession): Unit = {
    val keep = owned(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Drops `spark`'s entries, unpersists the RDDs they own and deletes their
    * staging dirs.
    */
  def release(spark: SparkSession): Unit = {
    val mine = entries.asScala.filter(_._1.spark eq spark).toSeq
    mine.foreach { case (k, e) => entries.remove(k, e) }
    val rdds = spark.sparkContext.getPersistentRDDs
    mine.flatMap(_._2.owned).flatMap(rdds.get).foreach(_.unpersist(blocking = false))
    mine.flatMap(_._2.stagingDir).map(Paths.get(_)).filter(Files.exists(_))
      .foreach(TempFiles.deleteRecursively)
  }

  /** `name` is the artifact's line item in the bench artifact. */
  final case class Artifact(name: String, consumers: Set[String],
                            build: (SparkSession, String) => Unit)

  val all: Seq[Artifact] = Seq(
    // the planted-copy margin index d_ann_ivf probes, and the natural index
    // it derives from
    Artifact("d_ann_ivf_build", AnnQueries.ivfConsumers, AnnQueries.ivfIndexPlanted(_, _)),
    Artifact("d_ann_pq_build", AnnQueries.pqConsumers, AnnQueries.pqBooks(_, _)),
    Artifact("d_cluster_labels_build", DocumentQueries.labelConsumers,
      DocumentQueries.clusterLabels(_, _)),
    Artifact("s_hybrid_serve_build", RetrievalQueries.hybridServeConsumers,
      RetrievalQueries.hybridServePrebuild(_, _)))

  /** Wall, CPU and GC seconds per artifact built, and the artifacts whose
    * build failed.
    */
  final case class Prebuilt(builds: Seq[(String, Metrics.Usage)], failed: Seq[String])

  /** Builds, timed by [[Metrics.measure]], every artifact a `picked` query
    * reads; a failed build goes to stderr and `failed`, never into
    * `builds`.
    */
  def prebuild(spark: SparkSession, dir: String, picked: Set[String]): Prebuilt = {
    val (failed, built) = all.filter(_.consumers.exists(picked)).partitionMap { a =>
      try Right(a.name -> Metrics.measure(a.build(spark, dir))._2)
      catch { case e: Throwable =>
        System.err.println(s"[artifacts] ${a.name} FAILED: ${e.getMessage}")
        Left(a.name)
      }
    }
    Prebuilt(built, failed)
  }
}
