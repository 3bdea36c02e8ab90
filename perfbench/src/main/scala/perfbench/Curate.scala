package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sinks.Sinks
import graft.streaming.Streams

/** `curate`: one training-data curation job over a seeded near-duplicate
  * corpus — a quality gate, exact dedup, MinHash pairs, connected
  * components and canonical survivors, SimHash-verified pairs over the
  * exact-deduplicated set, an IVF semantic probe, and a shuffled sharded
  * write.
  * CPU-heavy custom expressions plus the iterative components loop.
  */
object Curate extends Workload {
  val ProbeQueries = 20
  val K = 10

  private var nDocs = 0L
  private var last: Map[String, DataFrame] = Map.empty

  def setup(ctx: Ctx): Unit =
    nDocs = new String(Files.readAllBytes(ctx.data.resolve("source_rows.txt")), UTF_8).trim.toLong

  private def corpus(ctx: Ctx): DataFrame = ctx.spark.read.parquet(ctx.data.resolve("corpus").toString)
  private def vectors(ctx: Ctx): DataFrame = ctx.spark.read.parquet(ctx.data.resolve("vectors").toString)
  private def probes(ctx: Ctx): DataFrame = vectors(ctx).filter(col("vec_id") < ProbeQueries)
  private val nCells = 32
  private val nProbe = 8

  private def job(ctx: Ctx): Long = {
    val gated = ctx.span("curate.gate")(Streams.qualityGate(corpus(ctx)).drop("quality"))
    val exact = ctx.span("dedup.exact") {
      Dedup.exact(gated, "text", "doc_id").localCheckpoint()
    }
    val unique = gated.join(exact.select(col("keep_id").as("doc_id")), "doc_id")
    val pairs = ctx.span("dedup.pairs") {
      Dedup.minhashPairs(unique, "text", "doc_id", threshold = 0.7).localCheckpoint()
    }
    ctx.counters.foreach(_.settle())
    val jobs0 = ctx.counters.map(_.jobsEnded.get).getOrElse(0L)
    val labels = ctx.span("dedup.cc")(Dedup.components(pairs))
    ctx.counters.foreach { c => c.settle(); ctx.extra("dedup.cc_jobs") = c.jobsEnded.get - jobs0 }
    val kept = ctx.span("dedup.keep")(Dedup.keepCanonicalLabeled(unique, labels, "doc_id"))
    // SimHash-verified pairs over the exact-deduplicated set: an
    // independent second opinion on the MinHash pairs
    val verified = ctx.span("dedup.simhash") {
      Dedup.simhashVerifiedPairs(unique, "text", "doc_id").localCheckpoint()
    }
    val index = ctx.span("similarity.ivf_build") {
      Similarity.ivfBuild(vectors(ctx), "embedding", "vec_id", nCentroids = nCells)
    }
    ctx.span("similarity.probe") {
      Similarity.ivfQuery(index, probes(ctx), "embedding", "vec_id", k = K, nProbe = nProbe).collect()
    }
    ctx.span("sinks.write") {
      Sinks.writeShuffledShards(kept, ctx.work.resolve("curate_out").resolve("shards").toString,
        "doc_id", ctx.seed, nShards = ctx.cores)
    }
    index.indexed.unpersist(blocking = false)
    last.values.foreach(_.unpersist(blocking = false))
    last = Map("gated" -> gated.select("doc_id"), "exact" -> exact, "pairs" -> pairs,
      "labels" -> labels, "verified" -> verified, "unique" -> unique.select("doc_id", "text"))
    nDocs
  }

  /** Jobs of about 25 s each, the first one cold. */
  def timed(ctx: Ctx): Unit = for (_ <- 1 to ctx.repeats(25)) ctx.op("job", "job")(job(ctx))

  /** Dump every stage of the last job for the DuckDB check, and measure the
    * figures that need extra work (recall against brute force, SimHash
    * candidate count) here, outside the timing.
    */
  override def finish(ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("curate_out")
    last.filter { case (name, _) => Set("gated", "exact", "pairs", "labels")(name) }.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    ctx.extra("docs") = nDocs
    if (ctx.tracer.enabled) {
      val index = Similarity.ivfBuild(vectors(ctx), "embedding", "vec_id", nCentroids = nCells)
      val approx = Similarity.ivfQuery(index, probes(ctx), "embedding", "vec_id", k = K, nProbe = nProbe)
        .select("query_id", "corpus_id")
      val exact = Similarity.bruteForceTopK(vectors(ctx), probes(ctx), "embedding", "vec_id", K)
        .select("query_id", "corpus_id")
      val found = approx.intersect(exact).count()
      ctx.extra("similarity.recall_at_10") = found.toDouble / (ProbeQueries * K)
      val kept = ctx.spark.read.parquet(dir.resolve("shards").toString)
      val nKept = kept.count()
      ctx.extra("dedup.kept_ratio") = nKept.toDouble / nDocs
      ctx.extra("dedup.minhash_pairs") = last("pairs").count()
      ctx.extra("dedup.candidate_pairs") = Dedup.simhashPairs(last("unique"), "text", "doc_id", 7).count()
      ctx.extra("dedup.verified_pairs") = last("verified").count()
    }
  }
}
