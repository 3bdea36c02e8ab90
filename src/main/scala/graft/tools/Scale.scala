package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Checkpoints, GraftSession, Jsons, Metrics, Tables, TempFiles}
import graft.queries.Artifacts
import graft.sources.{Dfasdl, Sources}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StringType

/** The one scale harness: each surface stages a scaled input in one temp
  * dir (deleted, with the blocks the surface pinned, when it ends), times
  * every leg with [[leg]] and prints one JSON line whose legs carry `sec`,
  * `cpu_s`, `gc_s`, `jit_s` and `codegen`.
  *
  * Usage: runMain graft.tools.Scale <surface> [args…]
  *   dedup  <srcDir> [factor=30] [ops]
  *   ann    <srcDir> [factor=30]
  *   stream <srcDir> [nBatches=16]
  *   source <srcDir> [files=64] [reps=3]
  *   jdbc   <srcDir>
  * `srcDir` is a generated scale-factor dir (e.g. sf0.1, or the sf1 that
  * `ScaleUp` builds).
  */
object Scale {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.envCpus(32))
    try run(spark, args.toSeq) finally spark.stop()
  }

  private val surfaces: Map[String, (SparkSession, Cli.Args, String) => Jsons.Obj] =
    Map("dedup" -> dedup, "ann" -> ann, "stream" -> stream, "source" -> source,
      "jdbc" -> jdbc)

  /** Runs the surface `args` names on `spark`, which it leaves running;
    * prints its JSON line and returns it.
    */
  def run(spark: SparkSession, args: Seq[String]): String = {
    val cli = Cli.parseArgs(args)
    val name = cli.positional.headOption.getOrElse("")
    val surface = surfaces.getOrElse(name, throw new IllegalArgumentException(
      s"unknown surface '$name'; one of ${surfaces.keys.toSeq.sorted.mkString(", ")}"))
    require(cli.flags.isEmpty && cli.sets.isEmpty,
      s"Scale takes positional arguments only, got ${cli.flags ++ cli.sets.map(_._1)}")
    val surfaceArgs = cli.copy(positional = cli.positional.drop(1))
    require(surfaceArgs.positional.nonEmpty, s"Scale $name needs a srcDir")
    val staging = TempFiles.createDir(s"graft_scale_$name")
    val line = try surface(spark, surfaceArgs, staging).toString
    finally {
      Artifacts.reclaim(spark)
      TempFiles.deleteRecursively(Paths.get(staging))
    }
    println(line)
    line
  }

  /** The leg timer: `body` `reps` times under `Metrics.measure`; the
    * result and usage of the minimum-wall rep (Bench's rule).
    */
  private def leg[A](reps: Int)(body: => A): (A, Metrics.Usage) = {
    require(reps > 0, s"reps must be positive, got $reps")
    Seq.fill(reps)(Metrics.measure(body)).minBy(_._2.wallS)
  }

  /** A leg's record: `sec`, then `fields`, then CPU, GC, JIT and codegen. */
  private def legJson(u: Metrics.Usage, fields: (String, Any)*): Jsons.Obj =
    Jsons.Obj(("sec" -> u.wallS) +: fields ++: Seq("cpu_s" -> u.cpuS,
      "gc_s" -> u.gcS, "jit_s" -> u.jitS, "codegen" -> u.codegenCompiles))

  private def rate(rows: Long, u: Metrics.Usage): Long =
    (rows / math.max(u.wallS, 1e-9)).round

  /** Writes `df` as `parts` parquet files at `path` and reads them back. */
  private def stage(df: DataFrame, parts: Int, path: String): DataFrame = {
    df.repartition(parts).write.mode("overwrite").parquet(path)
    Tables.parquet(df.sparkSession, path)
  }

  /** A fresh dir under `staging` (a checkpoint or a stream report). */
  private def fresh(staging: String, prefix: String): String =
    Files.createTempDirectory(Paths.get(staging), prefix).toString

  // ---------------------------------------------------------------- fan-out

  // Ids stride by 10^7 per copy — far above both the planted-fixture bases
  // and any real id — but nothing here feeds the oracle: these surfaces are
  // perf-only (the correctness of each operator is pinned by its sf0.01
  // oracle row and specs).
  private val stride = 10000000L

  /** The embeddings `factor`× with per-element jitter: distinct bits,
    * direction shift ~1e-3 (cos≈0.999); a pure scalar multiple would keep
    * every hyperplane sign identical.
    */
  private def fannedEmbeddings(spark: SparkSession, src: String, factor: Int): DataFrame =
    Tables.embeddings(spark, src)
      .select(col("vec_id"), col("embedding"))
      .withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(
        (col("vec_id") + col("__c") * stride).as("vec_id"),
        when(col("__c") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, i) => x * (lit(1.0d) +
              (pmod(i * col("__c"), lit(7)) - lit(3.0d)) * lit(0.001d)))
            .cast("array<float>")).as("embedding"))

  // ------------------------------------------------------------------ dedup

  /** Fresh-content scale for the near-dup dedup family.
    *
    * [[ScaleUp]] fans tables with EXACT copies, which the r7 exact-collapse
    * rewrites (distinct-signature / distinct-gram-set / distinct-vector
    * grouping) absorb by construction — quadratic work tracks distinct
    * content, and exact copies add none. That makes the 10× ScaleUp
    * evidence the EASY case. This surface measures the hard one: every
    * fanned copy is a NEAR-duplicate with DISTINCT content (two appended
    * tokens per text copy; per-element jitter on embeddings keeping cosine
    * ≈ 0.999), so distinct-content volume grows O(n) with the fan-out and
    * the collapse optimizations cannot help. Operators run with the SAME
    * parameters as their registered queries.
    *
    * `ops`: comma-separated subset of simhash, minhash, ngram, ngrampf,
    * embed, embed12, semdedup, substring_rewrite, tfidf, inverted_index,
    * token_budget, heavy_hitters (default: all but ngrampf). Each op
    * reports its result rows.
    */
  private def dedup(spark: SparkSession, args: Cli.Args, staging: String): Jsons.Obj = {
    import graft.operators.{Corpus, Dedup}
    val src = args.positional.head
    val factor = args.int(1, 30)
    val only = args.positional.lift(2).map(_.split(",").toSet)

    // near-dup fan-out with O(n) distinct content: copy 0 is the original;
    // copy c appends two copy-and-doc-specific tokens (distinct gram sets,
    // distinct simhash for token-rich docs, true Jaccard stays high)
    val docs = Tables.documents(spark, src)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(
        (col("doc_id") + col("__c") * stride).as("doc_id"),
        when(col("__c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rev"), col("__c"),
            lit(" m"), pmod(col("doc_id") * 31 + col("__c"), lit(9973)))).as("text"),
        col("lang"), col("source"))

    // materialize the fanned inputs as multi-file parquet (the shape scaled
    // data has; also keeps mutation cost out of every measured operator)
    val d = stage(docs, 32, s"$staging/documents.parquet")
    val e = stage(fannedEmbeddings(spark, src, factor), 32, s"$staging/embeddings.parquet")
    val nDocs = d.count(); val nVecs = e.count()

    // diagnostic ops run only when explicitly named: ngrampf forces the
    // PPJoin prefix path regardless of block population, and on THIS
    // template-generated synthetic corpus its candidate volume measures
    // the corpus's sub-threshold similarity mass (every doc's rarest grams
    // are still shared by hundreds of template-mates), not the operator —
    // the exact reason ngramJaccardPairs auto-prefers the quadratic walk
    // until blocks outgrow maxQuadraticBlock. A-B at factor 10: identical
    // 224,794 pairs, 8.4 s quadratic vs 29.6 s forced-prefix.
    val diagnosticOnly = Set("ngrampf")
    def op(name: String)(rows: => Long): Option[(String, Jsons.Obj)] =
      if (only.exists(o => !o(name)) ||
          (only.isEmpty && diagnosticOnly(name))) None
      else {
        val (n, u) = leg(1)(rows)
        Some(name -> legJson(u, "rows" -> n))
      }

    val ops = Seq(
      op("simhash") {
        Dedup.simhashPairs(d, "text", "doc_id", maxDist = 3).count()
      },
      op("minhash") {
        Dedup.minhashPairs(d, "text", "doc_id",
          shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5).count()
      },
      op("ngram") {
        Dedup.ngramJaccardPairs(d, "text", "doc_id",
          blockCols = Seq("lang", "source"), n = 4, threshold = 0.8).count()
      },
      op("ngrampf") { // forced PPJoin prefix-filter path (the hot-block
        // strategy) measured against the same corpus for the strategy A-B
        Dedup.ngramJaccardPairs(d, "text", "doc_id",
          blockCols = Seq("lang", "source"), n = 4, threshold = 0.8,
          maxQuadraticBlock = 0).count()
      },
      op("embed") { // the registered query's setting (8 hyperplanes)
        Dedup.embeddingPairs(e, "embedding", "vec_id",
          nBits = 8, threshold = 0.95, probeRadius = 2).count()
      },
      op("embed12") { // the scale-tuned setting: more hyperplanes ->
        // finer buckets; the operator's documented knob for larger corpora
        Dedup.embeddingPairs(e, "embedding", "vec_id",
          nBits = 12, threshold = 0.95, probeRadius = 2).count()
      },
      op("semdedup") {
        Dedup.semanticDedup(e, "embedding", "vec_id",
          nCells = 16, threshold = 0.92).count()
      },
      op("substring_rewrite") { // r13: the span-REMOVED corpus at fresh-
        // content scale — every fanned copy shares its parent's full text
        // as duplicated spans, so nearly the whole corpus rewrites (the
        // worst case). sum(length) forces the text assembly, not just the
        // survivor count; the KEEP/DROP decision exchanges carry only
        // (id, pos, hash) — pinned by ScaleSpec.
        val out = Dedup.removeDuplicatedSpans(d, "text", "doc_id", k = 5)
        out.agg(count(lit(1)), sum(length(col("clean_text"))))
          .collect()(0).getLong(0)
      },
      // ---- curation family at the same fresh-content scale (r11): the
      // non-dedup §2e workhorses at their registered-query settings. The
      // inverted index's df band scales WITH the fan-out ([50,400]·factor):
      // every original token's df multiplies by `factor` on this corpus
      // (mutations only append), so the scaled band selects the SAME
      // underlying mid-frequency vocabulary the registered query indexes —
      // a fixed band would go empty (everything exits through the top).
      // Postings lists then grow to maxDf·factor entries: the inherent
      // cost of indexing the same band of a 100×-bigger corpus.
      op("tfidf") {
        Corpus.tfIdfTopK(d, "doc_id", "text", k = 3).count()
      },
      op("inverted_index") {
        Corpus.invertedIndex(d, "doc_id", "text",
          minDf = 50L * factor, maxDf = 400L * factor).count()
      },
      op("token_budget") {
        import graft.functions.TextFunctions.{qualityScore, tokenCount}
        val q = d.select(col("doc_id"), qualityScore(col("text")).as("quality"),
          tokenCount(col("text")).as("n_tokens"))
        Corpus.selectUnderBudgetFraction(
          q, "quality", "doc_id", "n_tokens", 1L, 2L).count()
      },
      op("heavy_hitters") {
        Corpus.heavyHitterTokens(d, "text", denom = 200, capacity = 800).count()
      }
    ).flatten

    // Bucket-population diagnostics for the two banded paths (r11): the
    // scale claim is that the candidate exchanges key on (band, hash)
    // buckets whose population stays bounded as the corpus grows — a
    // hot bucket is where a banded join would collapse to one task. Uses
    // the same bucketing the operators use: minhash band keys over the
    // 64-hash signature (16 bands), simhash 16-bit pigeonhole chunks over
    // DISTINCT signatures.
    def bucketStats(keyed: DataFrame): Jsons.Obj = {
      val counts = keyed.groupBy(col("k")).count()
        .agg(max(col("count")), percentile_approx(col("count"), lit(0.5), lit(1000)))
        .collect()(0)
      Jsons.obj("hottest" -> counts.getLong(0), "p50" -> counts.getLong(1))
    }
    val buckets =
      if (!only.forall(o => o("minhash") || o("simhash"))) Nil
      else Seq("buckets" -> Jsons.obj(
        "minhash_band" -> bucketStats(
          d.select(col("doc_id").as("id"),
              Dedup.signatureColumn(col("text"), 3, 64).as("sig"))
            .select(explode(Dedup.bandKeysFromSig(col("sig"), 64, 16)).as("k"))),
        "simhash_chunk_distinct_sigs" -> bucketStats(
          Dedup.simhash(d, "text", "doc_id").select(col("simhash")).distinct()
            .select(explode(array((0 until 4).map(i =>
              struct(lit(i).as("c"),
                shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*))
              .as("k")))))
    Jsons.Obj(Seq("metric" -> "dedup_scale", "factor" -> factor, "n_docs" -> nDocs,
      "n_vecs" -> nVecs, "distinct_content" -> true, "ops" -> Jsons.Obj(ops)) ++ buckets)
  }

  // -------------------------------------------------------------------- ann

  /** ANN serving-path scale step (r9): fan the embedding corpus `factor`×
    * with jittered near-duplicates (dense cos≈0.999 clusters — the WORST
    * case for IVF cell balance), build the IVF index and PQ codebooks at
    * scale-appropriate settings, then probe a sampled query set at several
    * nProbe settings and measure recall@10 against the exact brute force
    * over the same corpus.
    *
    * nCells is sqrt(n), at least 16 and at most 1024. The coarse quantizer
    * trains DRIVER-SIDE (Lloyd over a 100-per-cell sample) up to 256 cells;
    * past ~256 cells × 25.6k samples the driver k-means, not the cluster,
    * is the build bottleneck, so larger corpora train with the distributed
    * trainer (r11: full-corpus assignment + elementwise-mean passes). The
    * cap and the trainer are recorded so the reader sees which regime the
    * build ran in.
    */
  private def ann(spark: SparkSession, args: Cli.Args, staging: String): Jsons.Obj = {
    import graft.operators.Similarity
    val src = args.positional.head
    val factor = args.int(1, 30)
    val e = stage(fannedEmbeddings(spark, src, factor), 64, s"$staging/embeddings.parquet")
    val n = e.count()
    val nCells = math.max(16, math.min(1024, math.sqrt(n.toDouble).toInt))
    val distributed = nCells > 256
    val (idx, build) = leg(1) {
      val i =
        if (distributed)
          Similarity.ivfBuildDistributed(e, "embedding", "vec_id",
            nCentroids = nCells, iters = 3)
        else Similarity.ivfBuild(e, "embedding", "vec_id",
          nCentroids = nCells, trainTarget = nCells * 100)
      i.indexed.count() // materialize the persisted cell assignment
      i
    }
    val (books, pqTrain) = leg(1) {
      Similarity.pqTrain(e, "embedding", m = 8, ksub = 16, trainTarget = 25600)
    }
    val cellCounts = idx.indexed.groupBy(col("cell")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    // deterministic ~100-query sample spread across originals AND copies
    // (hash, not a multiplicative scramble: ids reach ~5e9 at factor 500
    // and a 32-bit-constant multiply overflows Long under ANSI mode)
    val q = Checkpoints.persist(e.filter(pmod(xxhash64(col("vec_id")),
        lit(math.max(1L, n / 100L))) === 0L).limit(100))
    val nQ = q.count()
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bruteP, brute) = leg(1) {
      pairs(Similarity.bruteForceTopK(e, q, "embedding", "vec_id", k = 10))
    }
    def recall(p: Set[(Long, Long)]): Double =
      if (bruteP.isEmpty) 1.0 else p.intersect(bruteP).size.toDouble / bruteP.size
    def probe(setting: String)(result: => DataFrame): (String, Jsons.Obj) = {
      val (p, u) = leg(1)(pairs(result))
      setting -> legJson(u, "recall" -> recall(p))
    }
    val probes = Seq(1, 2, 4).map { np =>
      probe(s"ivf_np$np") {
        Similarity.ivfQuery(idx, q, "embedding", "vec_id", k = 10, nProbe = np)
      }
    } :+ probe("ivfpq_np4") {
      Similarity.ivfPqQuery(idx, books, q, "embedding", "vec_id", k = 10, nProbe = 4)
    }
    Jsons.obj("metric" -> "ann_scale", "n_vecs" -> n, "factor" -> factor,
      "n_queries" -> nQ, "n_cells" -> nCells, "n_cells_capped" -> (nCells == 1024),
      "trainer" -> (if (distributed) "distributed" else "driver"),
      "build_sec" -> build.wallS, "pq_train_sec" -> pqTrain.wallS,
      "cell_max" -> cellCounts.last, "cell_p50" -> cellCounts(cellCounts.length / 2),
      "brute_sec" -> brute.wallS, "probes" -> Jsons.Obj(probes),
      "legs" -> Jsons.obj("build" -> legJson(build), "pq_train" -> legJson(pqTrain),
        "brute" -> legJson(brute)))
  }

  // ----------------------------------------------------------------- stream

  /** Streaming throughput: how many events/docs per second do the
    * structured-streaming surfaces sustain when the input arrives as a
    * multi-batch stream (maxFilesPerTrigger), not one giant batch?
    *
    * The streaming surfaces are parity-spec'd (StreamingSpec) and two run
    * inside the oracle gate (s_sessionize, s_cdc_apply) — this adds the
    * missing axis: sustained micro-batch THROUGHPUT, the number a capacity
    * plan starts from. Each surface consumes the full staged corpus
    * through `nBatches` file-triggered micro-batches into a noop-write
    * foreachBatch sink (forces full computation of every batch, collects
    * nothing on the driver), timed end-to-end including state maintenance
    * across batches (watermark eviction, dedup state, session merges).
    * Line:
    * {"metric":"stream_scale","events_n","docs_n","n_batches",
    *  "surfaces":{name:{"sec","rows_per_s","batches","trigger_ms",…}}}
    * where `trigger_ms` sums each progress `durationMs` key over the
    * surface's triggers — the per-trigger split of `sec` between compute
    * and sink (addBatch) and offset, log and state machinery (the rest).
    */
  private def stream(spark: SparkSession, args: Cli.Args, staging: String): Jsons.Obj = {
    val src = args.positional.head
    val nBatches = args.int(1, 16)
    val evDir = s"$staging/events"
    val docDir = s"$staging/docs"
    // stage each corpus as nBatches files; maxFilesPerTrigger=1 then makes
    // each file one micro-batch, so every surface pays nBatches rounds of
    // trigger + state maintenance, not one batch-sized pass
    val eventsN = stage(Tables.events(spark, src), nBatches, evDir).count()
    val docsN = stage(Tables.documents(spark, src), nBatches, docDir).count()

    def files(dir: String, schema: org.apache.spark.sql.types.StructType,
              session: SparkSession = spark): DataFrame =
      session.readStream.option("maxFilesPerTrigger", 1).schema(schema).parquet(dir)
    def eventsStream: DataFrame = files(evDir, Streams.eventSchema)
    def docsStream: DataFrame = files(docDir, Streams.documentSchema)

    // static reference for the contamination screen: a benchmark-sized
    // slice of the same corpus (what the registered query does)
    val bench = Tables.parquet(spark, docDir).filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    bench.count()

    /** Runs the query `start` returns to completion under the leg timer,
      * with the summed `durationMs` of its triggers (addBatch, getBatch,
      * walCommit, triggerExecution, …) and the count of its triggers that
      * read input rows, read from a [[graft.Metrics]] reporter on the
      * session that starts it. The reporter holds twice as many records as
      * there are staged files (a stateful query may follow each data
      * trigger with a no-data one), so no trigger is dropped.
      */
    def drained(session: SparkSession)(start: => StreamingQuery)
        : (Metrics.Usage, Map[String, Long], Long) = {
      val rep = Metrics.attach(session, nBatches * 2 + 16)
      try {
        val (q, use) = leg(1) {
          val q = start
          q.processAllAvailable()
          q.stop()
          q
        }
        rep.drain()
        val triggers = rep.triggers.filter(_.runId == q.runId)
        val triggerMs = triggers.flatMap(_.durationMs)
          .groupMapReduce(_._1)(_._2)(_ + _)
        (use, triggerMs, triggers.count(_.inputRows > 0).toLong)
      } finally rep.close()
    }

    def surface(name: String, rows: Long, batches: Long, u: Metrics.Usage,
                triggerMs: Map[String, Long]): (String, Jsons.Obj) = {
      println(f"[scale] stream $name: ${u.wallS}%.2f s, ${rate(rows, u)} rows/s, " +
        s"$batches batches, addBatch ${triggerMs.getOrElse("addBatch", 0L)} ms")
      name -> legJson(u, "rows_per_s" -> rate(rows, u), "batches" -> batches,
        "trigger_ms" -> Jsons.Obj(triggerMs.toSeq.sorted))
    }

    /** A noop-sink surface; `batches` counts the run's triggers that read
      * input rows, so the no-data trigger a watermark query may run before
      * `q.stop()` (only sometimes, depending on host load) is not counted
      * and every file is exactly one batch.
      */
    def noop(name: String, rows: Long, streamed: DataFrame, mode: OutputMode)
        : (String, Jsons.Obj) = {
      val (u, triggerMs, dataTriggers) = drained(streamed.sparkSession) {
        streamed.writeStream.outputMode(mode)
          .option("checkpointLocation", fresh(staging, "ckpt"))
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            b.write.format("noop").mode("overwrite").save()
          }
          .start()
      }
      surface(name, rows, dataTriggers, u, triggerMs)
    }

    /** A report-sink surface: results land as batch_id partitions of
      * `report`, so the batch count reads back from it.
      */
    def reported(name: String, rows: Long)(start: (String, String) => StreamingQuery)
        : (String, Jsons.Obj) = {
      val report = fresh(staging, "report")
      val (u, triggerMs, _) = drained(spark)(start(report, fresh(staging, "ckpt")))
      val batches = Tables.parquet(spark, report).select(col("batch_id")).distinct().count()
      surface(name, rows, batches, u, triggerMs)
    }

    // r15: the online SemDeDup gate — every incoming embedding probes
    // the static IVF reference (cell assignment map-side, anti-join on
    // the cell). Reference = the corpus itself, so every row scores a
    // full cell's worth of candidates and drops: the worst-case (most
    // compute) path for the gate.
    val emb = Tables.embeddings(spark, src).select(col("vec_id"), col("embedding"))
    val embDir = s"$staging/emb"
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
    val embStaged = stage(emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(9))).as("j"))
      .select((col("vec_id") + col("j").cast("long") * lit(maxId + 1L))
        .cast("long").as("vec_id"), col("embedding")), nBatches, embDir)
    val embN = embStaged.count()
    def embStream: DataFrame = files(embDir, embStaged.schema)
    val refN = emb.count()
    // √N cell sizing (the knnJoin scale note): per-row candidate work is
    // one cell ≈ √N vectors; 16 cells on a 20k reference meant 1250
    // candidates per row and the gate measured 4.35 s/batch of pure
    // cosine scanning
    val idx = graft.operators.Similarity.ivfBuild(emb, "embedding",
      "vec_id", nCentroids = math.max(16, math.sqrt(refN.toDouble).toInt),
      trainTarget = 8000)
    idx.indexed.count() // build outside the timed window, like `bench`

    val noops = Seq(
      noop("windowed_agg", eventsN, Streams.windowedCounts(eventsStream), OutputMode.Update()),
      noop("dedup", eventsN, Streams.dedupStream(eventsStream), OutputMode.Append()),
      noop("sessionize", eventsN, Streams.sessionCounts(eventsStream), OutputMode.Append()),
      noop("user_state", eventsN, {
        implicit val s: SparkSession = spark
        Streams.runningUserTotals(eventsStream).toDF()
      }, OutputMode.Update()),
      noop("quality_gate", docsN, Streams.qualityGate(docsStream), OutputMode.Append()),
      // r15: continuous sequence packing — tokenCount is the per-row cost,
      // the keyed state is two longs per source. r16: the query starts on
      // a session clone at 8 shuffle partitions — state-partition count
      // pins at query start and per-trigger store IO scales with the
      // PARTITION count, not the key count (#sources is single digits);
      // PackProfile measured addBatch 1.0 s → 0.24 s per trigger.
      noop("pack", docsN, {
        val sp = spark.newSession()
        sp.conf.set("spark.sql.shuffle.partitions", "8")
        implicit val s: SparkSession = sp
        Streams.packStream(
          files(docDir, Streams.documentSchema, sp).select(col("doc_id"), col("source"),
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          budget = 2048L).toDF()
      }, OutputMode.Append()),
      // Append since r15: the broadcast-index contamination gate is
      // stateless (the old join+aggregation form was Update-only)
      noop("contamination", docsN, Streams.contaminationStream(docsStream, bench),
        OutputMode.Append()),
      noop("neardup_gate", docsN, Streams.crossNearDedupStream(docsStream, bench),
        OutputMode.Append()),
      // tau > 1: nothing matches, every candidate still scores — isolates
      // probe compute from drop-rate
      noop("semdedup_gate", embN,
        Streams.semDedupGateStream(embStream, idx, "embedding", tau = 2.0),
        OutputMode.Append()))

    // r13: the drift monitor — every micro-batch scores against the
    // PERSISTED baseline (one ≤nBuckets-row read + one batch scan per
    // trigger), so the per-batch cost prices the recurring-check path,
    // baseline never re-scanned
    val driftBase = s"$staging/driftbase"
    graft.operators.Profiling.writeDriftBaseline(Tables.parquet(spark, docDir),
      "n_chars", lo = 0.0, hi = 4096.0, nBuckets = 32, dir = driftBase)
    val drift = reported("drift_sink", docsN) { (report, ckpt) =>
      Streams.toDriftSink(docsStream, "n_chars", driftBase, report, ckpt)
    }
    // r15: online ANN SERVING — every micro-batch of query vectors runs
    // the full probe (cell ranking, exact cosine over probed cells,
    // per-query top-10) via the foreachBatch serve sink
    val annServe = reported("ann_serve", embN) { (report, ckpt) =>
      Streams.toAnnServeSink(embStream, idx, "embedding", "vec_id", k = 10,
        nProbe = 2, report, ckpt)
    }
    // r16: online HYBRID serving — the ann_serve probe plus per-query
    // RRF fusion against a static 50-row lexical artifact (built once,
    // localCheckpointed; the offline half of hybrid retrieval). The
    // delta over ann_serve prices the fusion join, not the probe.
    val lex = graft.operators.Retrieval.bm25TopK(
        Tables.parquet(spark, docDir), "doc_id", "text", k = 50)
      .select(col("doc_id"), col("rk")).localCheckpoint()
    lex.count()
    val hybrid = reported("hybrid_serve", embN) { (report, ckpt) =>
      Streams.toHybridServeSink(embStream, idx, "embedding", "vec_id", lex,
        listKDense = 10, nProbe = 2, kRrf = 60.0, k = 20, report, ckpt)
    }
    Jsons.obj("metric" -> "stream_scale", "events_n" -> eventsN, "docs_n" -> docsN,
      "n_batches" -> nBatches,
      "surfaces" -> Jsons.Obj(noops :+ drift :+ annServe :+ hybrid))
  }

  // ----------------------------------------------------------------- source

  private val csvDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCCSV">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <num id="ck" stop-sign=";"/>
      |    <str id="prio" stop-sign=";"/>
      |    <str id="status"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  private val tokenDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCTOK">
      |  <seq id="s"><elem id="r">
      |    <str class="label" stop-sign=":"/>
      |    <num id="okey"/>
      |    <str class="label" stop-sign=":"/>
      |    <str id="prio"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  private val choiceDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCCHOICE">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <choice id="kv">
      |      <celem id="labeled">
      |        <str class="label" start-sign="K" stop-sign=":"/>
      |        <str id="prio" stop-sign=";"/>
      |      </celem>
      |      <celem id="plain"><num id="ck" stop-sign=";"/></celem>
      |    </choice>
      |    <str id="status"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  /** The combination-cap stressor: five [num|str] choices after a
    * multi-leaf one = 2^6 = 64 combinations, exactly the typed-error
    * bound. Honest worst-case pricing for the alternation framing + 64
    * staged matches per record — the number that justifies (or indicts)
    * the cap.
    */
  private val choice64Doc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRC64">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <choice id="kv">
      |      <celem id="labeled">
      |        <str class="label" start-sign="K" stop-sign=":"/>
      |        <str id="prio" stop-sign=";"/>
      |      </celem>
      |      <celem id="plain"><num id="ck" stop-sign=";"/></celem>
      |    </choice>
      |""".stripMargin +
      (1 to 5).map(i =>
        s"""    <choice id="c$i">
           |      <celem id="n$i-b"><num id="n$i" stop-sign=";"/></celem>
           |      <celem id="s$i-b"><str id="s$i" stop-sign=";"/></celem>
           |    </choice>
           |""".stripMargin).mkString +
      """    <str id="status"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)

  /** Text-source throughput: how fast do the three DFASDL text-parsing
    * paths and the two fixed-width readers scan a 10x corpus, and does
    * per-file parallelism actually hold?
    *
    * The DFASDL readers are oracle-gated for correctness (q42-q53) but had
    * no measured scale leg. Each is a different execution shape:
    *   - csv: the uniform-separator path — Spark's csv source + typed
    *     projection (per-SPLIT parallel, the fastest possible baseline).
    *   - token_stream: the whole-record regex over per-file text (q50
    *     shape, two physical lines per record).
    *   - choice_stream: the r12 branch-combination alternation (q53 shape,
    *     branch-dependent record arity; alternation + per-combination
    *     dispatch predicates are the costliest regex path).
    *   - fixed_width_fn / fixed_width_v2: the same fixed-width records
    *     through [[Sources.readFixedWidth]] (text scan + substring
    *     projection) and `format("fixedwidth")` (the same text scan's
    *     splits, sliced inside the V2 reader), on `files` files and on one
    *     file.
    *
    * Each leg stages the orders (~1.5M records at sf1) into `files` text
    * files, then times a full scan -> count + checksum aggregate (forces
    * every record through parse + typed coercion; nothing collects but two
    * scalars); the checksum is checked in every rep. Line:
    * {"metric":"source_scale","orders_n","files","reps",
    *  "surfaces":{name:{"sec","rows_per_s",…}}}
    */
  private def source(spark: SparkSession, args: Cli.Args, staging: String): Jsons.Obj = {
    val src = args.positional.head
    val files = args.int(1, 64)
    val reps = args.int(2, 3)
    val orders = Tables.orders(spark, src)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderstatus")
    val n = orders.count()
    // one staged directory per shape, `files` files each so every leg has
    // identical file-level parallelism, and a one-file twin where the
    // single-file ceiling is the question
    def text(name: String, parts: Int, line: org.apache.spark.sql.Column): String = {
      val path = s"$staging/$name"
      orders.repartition(parts).select(line.as("value")).write.mode("overwrite").text(path)
      path
    }
    val csvPath = text("csv", files, concat_ws(";", col("o_orderkey"), col("o_custkey"),
      col("o_orderpriority"), col("o_orderstatus")))
    val tokLine = concat(lit("KEY:"), col("o_orderkey"), lit("\nPRI:"), col("o_orderpriority"))
    val tokPath = text("tok", files, tokLine)
    // single-file twin of the 2-line token stack: r14's block framing must
    // fan this one file across byte-range splits (pre-r14 it was the
    // wholetext one-task ceiling)
    val tok1Path = text("tok1", 1, tokLine)
    val choiceLine = concat(col("o_orderkey"), lit(";"),
      when(col("o_orderkey") % 2 === 0,
        concat(lit("K:"), col("o_orderpriority")))
        .otherwise(col("o_custkey").cast(StringType)),
      lit(";"), col("o_orderstatus"))
    val chPath = text("choice", files, choiceLine)
    // the SAME records in ONE file: this leg prices the single-file
    // constraint instead of just documenting it
    val ch1Path = text("choice1", 1, choiceLine)
    // 64-combination stressor data: the five extra tokens alternate
    // num/str by key so records land across the combination space
    val ch64Path = text("choice64", files, concat(col("o_orderkey"), lit(";"),
      when(col("o_orderkey") % 2 === 0,
        concat(lit("K:"), col("o_orderpriority")))
        .otherwise(col("o_custkey").cast(StringType)),
      lit(";"),
      concat_ws(";", (1 to 5).map(i =>
        when((col("o_orderkey") / i.toDouble).cast("long") % 2 === 0,
          (col("o_custkey") + i).cast(StringType))
          .otherwise(concat(lit("tok"), lit(i)))): _*),
      lit(";"), col("o_orderstatus")))

    // fixed-width twins of the same records; padded wider than any sf
    // value so no field truncates
    val fwFields = Seq("okey" -> 12, "ck" -> 12, "prio" -> 16, "status" -> 2)
    val fwLine = concat(fwFields.zip(Seq("o_orderkey", "o_custkey",
      "o_orderpriority", "o_orderstatus")).map { case ((_, w), c) =>
      rpad(col(c).cast(StringType), w, " ")
    }: _*)
    val fwPath = text("fw", files, fwLine)
    val fw1Path = text("fw1", 1, fwLine)
    val fwSpec = fwFields.map { case (f, w) => s"$f:$w" }.mkString(",")
    def fwFn(p: String) = Sources.readFixedWidth(spark, p, fwFields)
      .select(col("okey").cast("long").as("okey"))
    def fwV2(p: String) = spark.read.format("fixedwidth")
      .option("fields", fwSpec).load(p)
      .select(col("okey").cast("long").as("okey"))

    def scan(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("okey"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val expect = scan(orders.select(col("o_orderkey").as("okey")))
    def scanLeg(name: String)(read: => DataFrame): (String, Jsons.Obj) = {
      val (_, u) = leg(reps) {
        val got = scan(read)
        require(got == expect, s"$name: scanned $got, expected $expect — " +
          "a reader mis-framed records at scale")
      }
      name -> legJson(u, "rows_per_s" -> rate(n, u))
    }

    val legs = Seq(
      scanLeg("csv")(Dfasdl.readDelimited(spark, csvPath, csvDoc)),
      scanLeg("token_stream")(Dfasdl.readDelimited(spark, tokPath, tokenDoc)),
      scanLeg("token_stream_1file")(Dfasdl.readDelimited(spark, tok1Path, tokenDoc)),
      scanLeg("choice_stream")(Dfasdl.readDelimited(spark, chPath, choiceDoc)),
      scanLeg("choice_stream_1file")(Dfasdl.readDelimited(spark, ch1Path, choiceDoc)),
      scanLeg("choice_stream_64")(Dfasdl.readDelimited(spark, ch64Path, choice64Doc)),
      scanLeg("fixed_width_fn")(fwFn(fwPath)),
      scanLeg("fixed_width_fn_1file")(fwFn(fw1Path)),
      scanLeg("fixed_width_v2")(fwV2(fwPath)),
      scanLeg("fixed_width_v2_1file")(fwV2(fw1Path)))
    Jsons.obj("metric" -> "source_scale", "orders_n" -> n, "files" -> files,
      "reps" -> reps, "surfaces" -> Jsons.Obj(legs))
  }

  // ------------------------------------------------------------------- jdbc

  /** Throughput of the keyed JDBC write family (upsert / delete / CDC)
    * against embedded Derby — the scale evidence for the r9/r10 DB-sync
    * sinks. The orders seed the target (Spark's own jdbc writer), then one
    * measured pass each: a keyed UPDATE+INSERT batch (writeJdbcUpsert), a
    * full CDC batch with tombstones (writeJdbcCdc), and an idempotent
    * re-application.
    *
    * Embedded Derby is a single-process floor, not a distributed target —
    * the numbers bound the SINK overhead (binding, batching, transactions,
    * key routing), which is what transfers to a real warehouse endpoint:
    * rows/s scale with the target's ingest capacity, the per-partition
    * transaction shape is already the 1000-executor one.
    */
  private def jdbc(spark: SparkSession, args: Cli.Args, staging: String): Jsons.Obj = {
    import graft.sinks.Sinks
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:$staging/db;create=true"
    val base = Tables.orders(spark, args.positional.head)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("o_orderdate"))
    val n = base.count()
    // the database is shut down before its files go with the staging dir;
    // Derby reports a clean shutdown (08006), or no database (XJ004), as an
    // exception
    try {
      val (_, seed) = leg(1) {
        Sinks.writeJdbc(base, url, "orders_t", props,
          mode = org.apache.spark.sql.SaveMode.Overwrite)
      }
      // upsert batch: every 10th key changed, every 7th key re-keyed high
      val changed = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      val rekeyed = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000000L))
      val upsBatch = changed.unionByName(rekeyed)
      val nUps = upsBatch.count()
      val (_, ups) = leg(1) {
        Sinks.writeJdbcUpsert(upsBatch, url, "orders_t", Seq("o_orderkey"), props)
      }
      // CDC batch: updates (every 20th), tombstones (every 13th)
      val cdc = base.filter(col("o_orderkey") % 20 === 0 &&
          col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 2.0)
        .withColumn("__op", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("__op", lit("D")))
      val nCdc = cdc.count()
      def applyCdc(): Unit =
        Sinks.writeJdbcCdc(cdc, url, "orders_t", Seq("o_orderkey"), "__op", "D", props)
      val (_, cdcU) = leg(1)(applyCdc())
      // idempotence: re-apply the same CDC batch (absent keys delete 0)
      val (_, reapply) = leg(1)(applyCdc())
      val nFinal = Sources.readJdbc(spark, url, "orders_t", props).count()
      Jsons.obj("metric" -> "jdbc_scale", "n_seed" -> n,
        "seed_s" -> seed.wallS, "seed_rows_per_s" -> rate(n, seed),
        "upsert_rows" -> nUps, "upsert_s" -> ups.wallS, "upsert_rows_per_s" -> rate(nUps, ups),
        "cdc_rows" -> nCdc, "cdc_s" -> cdcU.wallS, "cdc_rows_per_s" -> rate(nCdc, cdcU),
        "reapply_s" -> reapply.wallS, "final_rows" -> nFinal,
        "legs" -> Jsons.obj("seed" -> legJson(seed), "upsert" -> legJson(ups),
          "cdc" -> legJson(cdcU), "reapply" -> legJson(reapply)))
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$staging/db;shutdown=true")
      catch {
        case e: java.sql.SQLException if Set("08006", "XJ004")(e.getSQLState) => ()
      }
    }
  }
}
