package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.{AnnQueries, DocumentQueries, RetrievalQueries}

/** `catalog`: registered queries at a small scale factor, where fixed
  * per-query cost (planning, scheduling, codegen, streaming start)
  * dominates the rows processed.
  *
  * The queries are a fixed stratified slice of `SparkEntry.registry`:
  * sorted by name, every [[Stride]]-th one from index [[Offset]] (eight
  * queries across the families, one of them streaming), so every run times
  * the same mix and the seed changes only the order. One operation runs
  * one query and takes an order-independent fingerprint of its whole
  * collected result.
  */
object Catalog extends Workload {
  val Stride = 24
  val Offset = 10

  def slice: Seq[String] =
    SparkEntry.registry.map(_.name).sorted.drop(Offset).grouped(Stride).map(_.head).toSeq

  private lazy val queries = SparkEntry.queries
  private val reference = scala.collection.mutable.Map.empty[String, String]
  private var protectedRdds = Set.empty[Int]

  /** The shared artifacts: (span, consuming queries, cold build). */
  private val artifacts: Seq[(String, Set[String], (SparkSession, String) => Any)] = Seq(
    ("artifacts.ivf_build", AnnQueries.ivfConsumers, (s, d) => {
      AnnQueries.ivfIndex(s, d).indexed.count()
      AnnQueries.ivfIndexPlanted(s, d).indexed.count()
    }),
    ("artifacts.pq_build", AnnQueries.pqConsumers, AnnQueries.pqBooks),
    ("artifacts.labels_build", DocumentQueries.labelConsumers,
      (s, d) => DocumentQueries.clusterLabels(s, d).count()),
    ("artifacts.hybrid_build", RetrievalQueries.hybridServeConsumers,
      RetrievalQueries.hybridServePrebuild))

  /** Builds, cold, every artifact a sliced query reads. A failed build
    * fails the run.
    */
  def setup(ctx: Ctx): Unit = {
    val sliced = slice.toSet
    artifacts.foreach { case (span, consumers, build) =>
      if (consumers.exists(sliced)) ctx.span(span)(build(ctx.spark, ctx.data.toString))
    }
    protectedRdds = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** The traced run also builds, after its timed region, the artifacts no
    * sliced query reads, so every artifact's build time is reported. Each
    * is built for the first time there, in a JVM the run has warmed.
    */
  override def layers(ctx: Ctx): Unit = {
    val sliced = slice.toSet
    artifacts.foreach { case (span, consumers, build) =>
      if (!consumers.exists(sliced)) ctx.span(span)(build(ctx.spark, ctx.data.toString))
    }
  }

  /** Blocks that a query pinned (localCheckpoint, persist) are released
    * after it, outside the timing, so each query starts from the same heap;
    * the shared artifacts stay.
    */
  private def reclaim(ctx: Ctx, blocking: Boolean = false): Unit =
    ctx.spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => protectedRdds(id) }
      .values.foreach(_.unpersist(blocking))

  private def runQuery(ctx: Ctx, name: String): (Array[String], Seq[String]) = {
    val df = ctx.span("catalog.build")(queries(name)(ctx.spark, ctx.data.toString))
    if (ctx.tracer.enabled) ctx.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = ctx.span("spark.execute")(df.collect())
    (Canon.rows(rows, df.schema), Canon.columns(df.schema))
  }

  /** The untimed warm pass: every sliced query once, in name order. It
    * takes the reference results: the canonical rows go to the DuckDB
    * check, and the timed passes must reproduce their fingerprints.
    */
  override def warm(ctx: Ctx): Unit = {
    val out = Files.createDirectories(ctx.work.resolve("catalog_results"))
    slice.foreach { name =>
      ctx.op("warm", name) {
        val (rows, cols) = runQuery(ctx, name)
        reference(name) = Canon.fingerprint(rows, cols)
        Files.write(out.resolve(s"$name.jsonl"),
          (cols.map(graft.Jsons.quote).mkString("[", ",", "]") +: rows.toSeq)
            .mkString("", "\n", "\n").getBytes(UTF_8))
        rows.length.toLong
      }
      reclaim(ctx)
    }
    val oracles = SparkEntry.oracleSql
    Files.write(out.resolve("index.json"), Json.value(slice.map(n => Json.obj(
      "name" -> n, "oracle" -> oracles.get(n), "fingerprint" -> reference.get(n))))
      .getBytes(UTF_8))
  }

  /** Whole passes over the slice, each in a new seeded order; a pass
    * takes about 5-7 s.
    */
  def timed(ctx: Ctx): Unit = {
    val names = slice
    val rnd = new scala.util.Random(ctx.seed)
    val passes = ctx.repeats(5)
    for (_ <- 1 to passes) {
      rnd.shuffle(names).foreach { name =>
        ctx.op("query", name) {
          val (rows, cols) = runQuery(ctx, name)
          // a result that differs from the warm pass is a wrong result
          if (reference.get(name).contains(Canon.fingerprint(rows, cols))) rows.length.toLong
          else -1L
        }
        reclaim(ctx)
      }
    }
    reclaim(ctx, blocking = true) // so the live-heap reading sees no stragglers
    ctx.extra("passes") = passes
    ctx.extra("slice") = names
  }
}
