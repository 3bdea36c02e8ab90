package graft.tools

import graft.GraftSession
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-trigger cost attribution for the streaming document gates
  * (STREAMSCALE's slowest surfaces): run each gate's per-batch compute as
  * a BATCH over the full staged corpus, so the number isolates the
  * per-document CPU from the per-trigger streaming overhead
  * (trigger scheduling, state-store maintenance, checkpoint IO). If the
  * batch pass is fast, the streaming gap is trigger/state overhead; if it
  * is slow, the per-doc compute itself is the ceiling.
  *
  * Usage: runMain graft.tools.GateProfile [srcDir]
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("target/sf1")
    val spark = GraftSession.get(GraftSession.envCpus(32))
    val docs = graft.Tables.documents(spark, src)
      .localCheckpoint() // isolate gate compute from the parquet scan
    val n = docs.count()
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    bench.count()

    def time(name: String)(mk: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val out = mk.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[gateprofile] $name: $sec%.2f s, ${(n / sec).round} docs/s")
    }

    time("quality_batch")(Streams.qualityGate(docs))
    time("signature_only")(docs.select(col("doc_id"),
      graft.operators.Dedup.signatureColumn(col("text"), 3, 64).as("sig")))
    time("neardup_batch")(Streams.crossNearDedupStream(docs, bench))
    time("contamination_batch")(Streams.contaminationStream(
      docs.withColumn("__b", lit(0)).drop("__b"), bench))

    // streaming per-batch attribution: stage 8 files, print every
    // micro-batch's reported durations for the two slow gates
    val base = "target/gateprofile"
    val docDir = s"$base/docs"
    docs.repartition(8).write.mode("overwrite").parquet(docDir)
    def docsStream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema(Streams.documentSchema).parquet(docDir)
    def streamed(name: String)(df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt-${System.nanoTime()}")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }.start()
      q.processAllAvailable(); q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val per = q.recentProgress.map(p =>
        s"${p.batchId}:${p.durationMs.getOrDefault("triggerExecution", -1L)}ms(" +
          s"q=${p.durationMs.getOrDefault("queryPlanning", -1L)}," +
          s"a=${p.durationMs.getOrDefault("addBatch", -1L)})")
      println(f"[gateprofile] $name: $sec%.2f s; " + per.mkString(" "))
    }
    streamed("quality_stream")(Streams.qualityGate(docsStream))
    streamed("neardup_stream")(Streams.crossNearDedupStream(docsStream, bench))
    // bisect: signature alone, then signature+bands, then +bloom probe
    streamed("sig_stream")(docsStream.select(col("doc_id"),
      graft.operators.Dedup.signatureColumn(col("text"), 3, 64).as("__sig")))
    streamed("bands_stream")(docsStream
      .withColumn("__sig",
        graft.operators.Dedup.signatureColumn(col("text"), 3, 64))
      .withColumn("__keys",
        graft.operators.Dedup.bandKeysFromSig(col("__sig"), 64, 16))
      .select(col("doc_id"), size(col("__keys")).as("nk")))
    spark.stop()
  }
}
