package graft.tools

import graft.GraftSession
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming-throughput harness: how many events/docs per second do the
  * structured-streaming surfaces sustain when the input arrives as a
  * multi-batch stream (maxFilesPerTrigger), not one giant batch?
  *
  * The streaming surfaces are parity-spec'd (StreamingSpec) and two run
  * inside the oracle gate (s_sessionize, s_cdc_apply) — this harness adds
  * the missing axis: sustained micro-batch THROUGHPUT, the number a
  * capacity plan starts from. Each surface consumes the full staged corpus
  * through `nBatches` file-triggered micro-batches into a noop-write
  * foreachBatch sink (forces full computation of every batch, collects
  * nothing on the driver), timed end-to-end including state maintenance
  * across batches (watermark eviction, dedup state, session merges).
  *
  * Output: one JSON line
  *   {"metric":"stream_scale","events_n":…,"docs_n":…,"n_batches":…,
  *    "surfaces":{name:{"sec":…,"rows_per_s":…,"batches":…,
  *                      "trigger_ms":{"addBatch":…,"getBatch":…,…}}}}
  * where `trigger_ms` sums each progress `durationMs` key over the
  * surface's triggers — the per-trigger split of `sec` between compute
  * and sink (addBatch) and offset, log and state machinery (the rest).
  *
  * Usage: runMain graft.tools.StreamScale [srcDir] [nBatches]
  */
object StreamScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("target/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = GraftSession.get(GraftSession.envCpus(32))
    run(spark, src, nBatches)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, nBatches: Int): Unit = {
    val base = "target/streamscale"
    val evDir = s"$base/events"
    val docDir = s"$base/docs"
    // stage each corpus as nBatches files; maxFilesPerTrigger=1 then makes
    // each file one micro-batch, so every surface pays nBatches rounds of
    // trigger + state maintenance, not one batch-sized pass
    graft.Tables.events(spark, src).repartition(nBatches)
      .write.mode("overwrite").parquet(evDir)
    graft.Tables.documents(spark, src).repartition(nBatches)
      .write.mode("overwrite").parquet(docDir)
    val eventsN = spark.read.parquet(evDir).count()
    val docsN = spark.read.parquet(docDir).count()

    def eventsStream: DataFrame = spark.readStream
      .option("maxFilesPerTrigger", 1).schema(Streams.eventSchema).parquet(evDir)
    def docsStream: DataFrame = spark.readStream
      .option("maxFilesPerTrigger", 1).schema(Streams.documentSchema).parquet(docDir)

    // static reference for the contamination screen: a benchmark-sized
    // slice of the same corpus (what the registered query does)
    val bench = spark.read.parquet(docDir).filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    bench.count()

    /** Runs the query `start` returns to completion: wall seconds and the
      * summed `durationMs` of its triggers (addBatch, getBatch, walCommit,
      * triggerExecution, …), read from a [[graft.Metrics]] reporter on the
      * session that starts it. The reporter holds twice as many records
      * as there are staged files (a stateful query may follow each data
      * trigger with a no-data one), so no trigger is dropped.
      */
    def drained(session: SparkSession)(start: => StreamingQuery)
        : (Double, Map[String, Long]) = {
      val rep = graft.Metrics.attach(session, nBatches * 2 + 16)
      try {
        val (q, use) = graft.Metrics.measure {
          val q = start
          q.processAllAvailable()
          q.stop()
          q
        }
        rep.drain()
        val triggerMs = rep.triggers.filter(_.runId == q.runId)
          .flatMap(_.durationMs).groupMapReduce(_._1)(_._2)(_ + _)
        (use.wallS, triggerMs)
      } finally rep.close()
    }

    def time(streamed: DataFrame, mode: OutputMode): (Double, Long, Map[String, Long]) = {
      // count triggers in the callback, NOT via recentProgress — that is a
      // ring buffer (default 100 entries), so nBatches above ~100 would
      // silently under-report the harness's own every-file-is-a-trigger
      // sanity signal
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      val (sec, triggerMs) = drained(streamed.sparkSession) {
        streamed.writeStream.outputMode(mode)
          .option("checkpointLocation",
            s"$base/ckpt-${System.nanoTime()}")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            batches.incrementAndGet()
            b.write.format("noop").mode("overwrite").save()
          }
          .start()
      }
      (sec, batches.get(), triggerMs)
    }

    def msJson(m: Map[String, Long]): String =
      m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    def surface(name: String, sec: Double, rows: Long, batches: Long,
                triggerMs: Map[String, Long]): String = {
      val rps = (rows / math.max(sec, 1e-9)).round
      println(s"[streamscale] $name: ${f"$sec%.2f"} s, $rps rows/s, $batches batches, " +
        s"addBatch ${triggerMs.getOrElse("addBatch", 0L)} ms")
      s""""$name":{"sec":${f"$sec%.3f"},"rows_per_s":$rps,"batches":$batches,""" +
        s""""trigger_ms":${msJson(triggerMs)}}"""
    }

    // r15: the online SemDeDup gate — every incoming embedding probes
    // the static IVF reference (cell assignment map-side, anti-join on
    // the cell). Reference = the corpus itself, so every row scores a
    // full cell's worth of candidates and drops: the worst-case (most
    // compute) path for the gate.
    val emb = graft.Tables.embeddings(spark, src)
      .select(col("vec_id"), col("embedding"))
    val embDir = s"$base/emb"
    // fan the STREAMED side x10 (ids remapped, vectors reused): the
    // embeddings table is 10-25x smaller than documents, so at
    // nBatches triggers its micro-batches under-amortize the fixed
    // per-trigger cost (plan + static-side broadcast) that every other
    // surface amortizes over 3k+ row batches — the x10 fan prices the
    // gate's sustained capacity, not its trigger floor.
    // Fanned ids OFFSET PAST the corpus id range (r16, ADVICE: the old
    // vec_id*10+j remap collided with real corpus ids, so ivfQuery's
    // self-exclusion silently dropped an unrelated corpus vector from
    // some fanned queries' candidate sets) — j=0 keeps the original id
    // (self-exclusion is the un-fanned query's own semantics), j>=1
    // lands beyond maxId where no corpus row can match.
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(9))).as("j"))
      .select((col("vec_id") + col("j").cast("long") * lit(maxId + 1L))
        .cast("long").as("vec_id"), col("embedding"))
      .repartition(nBatches).write.mode("overwrite").parquet(embDir)
    val embN = spark.read.parquet(embDir).count()
    val refN = emb.count()
    // √N cell sizing (the knnJoin scale note): per-row candidate work is
    // one cell ≈ √N vectors; 16 cells on a 20k reference meant 1250
    // candidates per row and the gate measured 4.35 s/batch of pure
    // cosine scanning
    val idx = graft.operators.Similarity.ivfBuild(emb, "embedding",
      "vec_id", nCentroids = math.max(16, math.sqrt(refN.toDouble).toInt),
      trainTarget = 8000)
    idx.indexed.count() // build outside the timed window, like `bench`
    val embSchema = spark.read.parquet(embDir).schema

    val surfaces = Seq[(String, Long, () => (DataFrame, OutputMode))](
      ("windowed_agg", eventsN,
        () => (Streams.windowedCounts(eventsStream), OutputMode.Update())),
      ("dedup", eventsN,
        () => (Streams.dedupStream(eventsStream), OutputMode.Append())),
      ("sessionize", eventsN,
        () => (Streams.sessionCounts(eventsStream), OutputMode.Append())),
      ("user_state", eventsN,
        () => ({ implicit val s: SparkSession = spark
                 Streams.runningUserTotals(eventsStream).toDF() },
               OutputMode.Update())),
      ("quality_gate", docsN,
        () => (Streams.qualityGate(docsStream), OutputMode.Append())),
      // r15: continuous sequence packing — tokenCount is the per-row cost,
      // the keyed state is two longs per source. r16: the query starts on
      // a session clone at 8 shuffle partitions — state-partition count
      // pins at query start and per-trigger store IO scales with the
      // PARTITION count, not the key count (#sources is single digits);
      // PackProfile measured addBatch 1.0 s → 0.24 s per trigger.
      ("pack", docsN,
        () => ({ val sp = spark.newSession()
                 sp.conf.set("spark.sql.shuffle.partitions", "8")
                 implicit val s: SparkSession = sp
                 Streams.packStream(
                   sp.readStream.option("maxFilesPerTrigger", 1)
                     .schema(Streams.documentSchema).parquet(docDir)
                     .select(col("doc_id"), col("source"),
                       graft.functions.TextFunctions.tokenCount(col("text"))
                         .as("n_tokens")),
                   budget = 2048L).toDF() },
               OutputMode.Append())),
      // Append since r15: the broadcast-index contamination gate is
      // stateless (the old join+aggregation form was Update-only)
      ("contamination", docsN,
        () => (Streams.contaminationStream(docsStream, bench), OutputMode.Append())),
      ("neardup_gate", docsN,
        () => (Streams.crossNearDedupStream(docsStream, bench), OutputMode.Append()))
    ) ++ {
      Seq(("semdedup_gate", embN, () => (
        Streams.semDedupGateStream(
          spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(embSchema).parquet(embDir),
          idx, "embedding", tau = 2.0), // tau > 1: nothing matches, every
        // candidate still scores — isolates probe compute from drop-rate
        OutputMode.Append())))
    }

    val results = surfaces.map { case (name, rows, mk) =>
      val (df, mode) = mk()
      val (sec, batches, triggerMs) = time(df, mode)
      surface(name, sec, rows, batches, triggerMs)
    } :+ {
      // r13: the drift monitor — every micro-batch scores against the
      // PERSISTED baseline (one ≤nBuckets-row read + one batch scan per
      // trigger), so the per-batch cost prices the recurring-check path,
      // baseline never re-scanned
      graft.operators.Profiling.writeDriftBaseline(
        spark.read.parquet(docDir), "n_chars",
        lo = 0.0, hi = 4096.0, nBuckets = 32, dir = s"$base/driftbase")
      val rep = s"$base/driftrep-${System.nanoTime()}"
      val (sec, triggerMs) = drained(spark) {
        Streams.toDriftSink(docsStream, "n_chars", s"$base/driftbase",
          rep, s"$base/ckpt-${System.nanoTime()}")
      }
      val batches = spark.read.parquet(rep)
        .select(col("batch_id")).distinct().count()
      surface("drift_sink", sec, docsN, batches, triggerMs)
    } :+ {
      // r15: online ANN SERVING — every micro-batch of query vectors runs
      // the full probe (cell ranking, exact cosine over probed cells,
      // per-query top-10) via the foreachBatch serve sink; results land as
      // batch_id partitions, so the batch count reads back from the report
      val rep = s"$base/serverep-${System.nanoTime()}"
      val (sec, triggerMs) = drained(spark) {
        Streams.toAnnServeSink(
          spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(embSchema).parquet(embDir),
          idx, "embedding", "vec_id", k = 10, nProbe = 2,
          rep, s"$base/ckpt-${System.nanoTime()}")
      }
      val batches = spark.read.parquet(rep)
        .select(col("batch_id")).distinct().count()
      surface("ann_serve", sec, embN, batches, triggerMs)
    } :+ {
      // r16: online HYBRID serving — the ann_serve probe plus per-query
      // RRF fusion against a static 50-row lexical artifact (built once,
      // localCheckpointed; the offline half of hybrid retrieval). The
      // delta over ann_serve prices the fusion join, not the probe.
      val lex = graft.operators.Retrieval.bm25TopK(
          spark.read.parquet(docDir), "doc_id", "text", k = 50)
        .select(col("doc_id"), col("rk")).localCheckpoint()
      lex.count()
      val rep = s"$base/hsrvrep-${System.nanoTime()}"
      val (sec, triggerMs) = drained(spark) {
        Streams.toHybridServeSink(
          spark.readStream.option("maxFilesPerTrigger", 1)
            .schema(embSchema).parquet(embDir),
          idx, "embedding", "vec_id", lex, listKDense = 10, nProbe = 2,
          kRrf = 60.0, k = 20, rep, s"$base/ckpt-${System.nanoTime()}")
      }
      val batches = spark.read.parquet(rep)
        .select(col("batch_id")).distinct().count()
      graft.Checkpoints.release(lex)
      surface("hybrid_serve", sec, embN, batches, triggerMs)
    }
    println(s"""{"metric":"stream_scale","events_n":$eventsN,""" +
      s""""docs_n":$docsN,"n_batches":$nBatches,""" +
      s""""surfaces":{${results.mkString(",")}}}""")
  }
}
