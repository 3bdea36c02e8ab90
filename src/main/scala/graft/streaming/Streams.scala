package graft.streaming

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming pipelines (SURVEY.md §2f).
  *
  * The reference agent is itself a long-running process fed by its server
  * (TenseiAgent.scala); its continuous-operation analog on Spark is
  * Structured Streaming: file/rate sources → event-time windows with
  * watermarks → sinks, with `dropDuplicates` and stateful `mapGroupsWithState`
  * covering the UniqueValueBuffer-style dedup and custom per-key state.
  */
object Streams {

  /** Event schema of testdata events.parquet, with `ts` as a proper
    * timestamp (producers staging event drops normalize through
    * graft.Tables.events, which handles legacy nano-long files).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** File-based event stream over a directory of parquet drops — the
    * streaming twin of Tables.events.
    *
    * CONTRACT (changed r7): `ts` must already be a parquet TIMESTAMP —
    * legacy INT64(NANOS) drops are NOT normalized here (a streaming schema
    * is fixed up front; per-file type dispatch can't happen mid-stream).
    * Producers staging from a legacy directory go through [[stageEvents]],
    * which applies the same Tables.events normalization batch readers get.
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Stage a batch events table into a streaming drop directory with the
    * `ts` column normalized to TimestampType (Tables.events handles the
    * legacy nano-long and NTZ shapes) — the supported way to feed
    * [[eventStream]] from any historical events file.
    */
  def stageEvents(spark: SparkSession, srcDir: String, dropDir: String,
                  mode: String = "append"): Unit =
    graft.Tables.events(spark, srcDir)
      .write.mode(mode).parquet(dropDir)

  /** Sliding event-time windowed aggregation with a watermark bounding
    * state. The streaming twin of q14_events_bucket.
    */
  def windowedCounts(events: DataFrame, window_ : String = "5 minutes",
                     slide: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("event_type"), col("n"), col("total"))

  /** Streaming dedup on event_id within the watermark horizon — the
    * streaming form of processor/UniqueValueBuffer.scala.
    * `dropDuplicatesWithinWatermark` is what makes the horizon real: plain
    * dropDuplicates only evicts state when the event-time column is part
    * of the key set, so keying on event_id alone would grow state forever
    * despite the watermark (r8 review).
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Declarative sessionization: gap-based session windows per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sstart"),
        col("session_window.end").as("send"), col("user_id"), col("n_events"))

  /** Document schema for streaming text pipelines (matches the
    * documents.parquet testdata table).
    */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** File-based document stream — the ingestion shape of a continuously
    * arriving training-data corpus.
    */
  def documentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(dir)

  /** Streaming contamination screening — the streaming form of
    * operators/Contamination.sharedShingles, which is how a pipeline
    * screens documents AS THEY ARRIVE instead of re-scanning the corpus.
    *
    * The static benchmark corpus collapses ONCE, at gate construction,
    * into a broadcast shingle→benchmark inverted index
    * ([[graft.functions.ShingleIndex]] — CSR over sorted distinct shingle
    * hashes), and each arriving document counts its distinct-shared-
    * shingle overlaps map-side in one generated call. ZERO state, zero
    * shuffle, append-mode legal — a forever-on gate. (The r8–r14
    * formulation was a stream-static join feeding dropDuplicates + an
    * unwatermarked aggregation: per-trigger it re-derived the benchmark
    * shingles, paid a broadcast exchange, and maintained two state
    * stores that grew with every matched pair — GateProfile r15 measured
    * 1.3 s/trigger against 0.35 for a stateless gate on the same corpus,
    * and the state made Update the only legal output mode.)
    *
    * The index is driver/broadcast-sized BY NATURE — the benchmark side
    * is the eval suite, not the corpus — and `maxIndexEntries` enforces
    * that assumption up front the way the near-dup gate's maxBloomBytes
    * does: one posting is one (shingle, bench_id) pair, 16 bytes plus
    * CSR overhead.
    */
  def contaminationStream(docs: DataFrame, bench: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          k: Int = 3, minShared: Int = 3,
                          maxIndexEntries: Long = 1L << 24): DataFrame = {
    import graft.functions.{ContaminationExpr, ShingleHash, ShingleIndex}
    val postings = bench
      .select(col(idCol).cast("long").as("bench_id"),
        explode(ShingleHash.wordShingleHashes(col(textCol), k)).as("sh"))
      .dropDuplicates("sh", "bench_id")
      .select(col("sh"), col("bench_id"))
    // guard BEFORE the collect: an oversized benchmark must fail with this
    // message, not with a driver OOM mid-collect (one extra aggregate over
    // the already-deduped postings — benchmark-sized by assumption, and
    // cheap even when the assumption is violated)
    val nPostings = postings.count()
    require(nPostings <= maxIndexEntries,
      s"contaminationStream: the benchmark side explodes to $nPostings " +
        s"(shingle, bench_id) postings > maxIndexEntries=$maxIndexEntries — " +
        "that is corpus-scale, not benchmark-scale; screen it with the batch " +
        "operator (Contamination.sharedShingles) or raise the bound explicitly")
    val pairs = postings.collect().map(r => (r.getLong(0), r.getLong(1)))
    val index = docs.sparkSession.sparkContext.broadcast(
      ShingleIndex.build(pairs, minShared))
    docs
      .select(col(idCol).as("corpus_id"),
        ShingleHash.wordShingleHashes(col(textCol), k).as("__sh"))
      .select(col("corpus_id"),
        explode(ContaminationExpr.matches(col("__sh"),
          col("corpus_id").cast("long"), index)).as("__m"))
      .select(col("corpus_id"), col("__m.bench_id").as("bench_id"),
        col("__m.n_shared").as("n_shared"))
  }

  /** Streaming incremental-ingestion dedup: drop arriving documents whose
    * normalized content already exists in the static historical index — the
    * streaming form of Dedup.crossDedup, as a STREAM-STATIC left-anti join
    * on 8-byte content hashes (the reference side collapses to distinct
    * hashes; no text crosses any exchange). Stateless like
    * [[contaminationStream]]: each micro-batch screens independently
    * against the index, so no watermark is required. Within-stream
    * duplicates are a different operator ([[nearDupDedupStream]] /
    * `dropDuplicates`) — run it downstream if both gates are needed.
    */
  def crossDedupStream(docs: DataFrame, reference: DataFrame,
                       textCol: String = "text"): DataFrame =
    crossDedupStreamManaged(docs, reference, textCol)._1

  /** [[crossDedupStream]] plus the persisted reference-digest handle, so a
    * long-lived session constructing many gates can unpersist each
    * deterministically (`handle.unpersist()`) when its query stops —
    * without the handle, repeated gate construction accumulates
    * MEMORY_AND_DISK blocks until `spark.catalog.clearCache()`.
    */
  def crossDedupStreamManaged(docs: DataFrame, reference: DataFrame,
                              textCol: String = "text"): (DataFrame, DataFrame) = {
    // 256-bit digest for the same reason as Dedup.crossDedup: a deletion
    // key must not collide at reference-corpus scale.
    import graft.functions.TextFunctions.contentDigest
    // persist the digested reference: the static side of a stream-static
    // join re-evaluates EVERY micro-batch, and re-digesting a historical
    // corpus per batch would dominate gate latency (cache materializes on
    // the first batch; lifecycle belongs to the query — unpersist via the
    // returned handle when the query stops)
    val refHashes = Checkpoints.persist(
      reference.select(contentDigest(col(textCol)).as("__h")).distinct())
    val gated = docs.withColumn("__h", contentDigest(col(textCol)))
      .join(refHashes, Seq("__h"), "left_anti")
      .drop("__h")
    (gated, refHashes)
  }

  /** STREAM-STREAM interval join with watermark-bounded state: attribute
    * each purchase to the clicks of the same user in the preceding
    * `attributionWindow`. Both sides carry a watermark and the join
    * condition bounds event-time distance, so Spark can expire buffered
    * rows — the state never grows past (watermark + window) per side,
    * which is what makes a stream-stream join runnable forever at scale.
    * The batch twin is q24_interval_join (a plain range join), hash-checked
    * against the DuckDB oracle; StreamingSpec pins stream/batch parity.
    */
  def attributionJoin(events: DataFrame,
                      attributionWindow: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", watermark)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr(s"INTERVAL $attributionWindow"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_millis(col("cts")).as("click_ms"),
        unix_millis(col("pts")).as("purchase_ms"))
  }

  /** Streaming near-duplicate dedup: keep the first document per 64-bit
    * SimHash signature (Hamming-0 near-dups — whitespace/case/token-order
    * jitter collapses to the same signature). The signature computes
    * map-side in the same fused codegen pass as the batch operator; state
    * is one 8-byte key per distinct surviving document — bounded by the
    * event-time watermark when `tsCol` is set (via
    * dropDuplicatesWithinWatermark; keying on the signature alone would
    * never evict) and UNBOUNDED without one, so a forever-on gate must
    * supply `tsCol`. The streaming form of
    * Dedup.simhash + exact-signature grouping — candidate-PAIR near-dup
    * (banded LSH joins) stays a batch/backfill concern; this is the cheap
    * in-flight pass that runs on ingest.
    */
  def nearDupDedupStream(docs: DataFrame, textCol: String = "text",
                         tsCol: Option[String] = None,
                         watermark: String = "1 hour"): DataFrame = {
    val sig = docs.withColumn("__simhash",
      graft.functions.SimHashExprApi.simhashOf(
        graft.functions.ShingleHash.tokenHashes(col(textCol))))
    tsCol match {
      case Some(t) => sig.withWatermark(t, watermark)
        .dropDuplicatesWithinWatermark("__simhash").drop("__simhash")
      case None => sig.dropDuplicates("__simhash").drop("__simhash")
    }
  }

  /** Streaming quality gate: per-document scoring + threshold filtering is
    * stateless row-at-a-time work, identical in batch and streaming — the
    * shape that lets one scoring definition serve both the backfill and the
    * live ingest path.
    */
  def qualityGate(docs: DataFrame, textCol: String = "text",
                  minQuality: Long = 300L): DataFrame =
    docs.withColumn("quality", graft.functions.TextFunctions.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)

  /** Streaming cross-batch NEAR-dup gate — the stream form of
    * [[graft.operators.Dedup.crossNearDedup]]. Stream-stream anti-joins
    * aren't supported, so the reference corpus reduces to a broadcast
    * BLOOM FILTER over its LSH band keys and the gate becomes a pure
    * per-row predicate: a document drops when ANY of its band keys might
    * be in the reference. Conservative by construction — bloom filters
    * have no false negatives, so every document the batch operator would
    * drop, this drops too (same banding, same keys); the price is a small
    * extra false-drop rate (bloom fpp × per-band collision odds) instead
    * of the batch path's signature-agreement verification. Zero state,
    * zero shuffle: the filter rides each micro-batch map-side, which is
    * what an ingest gate in front of a 100 TB corpus wants.
    */
  def crossNearDedupStream(docs: DataFrame, reference: DataFrame,
                           textCol: String = "text", shingleK: Int = 3,
                           nHashes: Int = 64, bands: Int = 16,
                           expectedBandKeys: Long = 1000000L,
                           fpp: Double = 0.000001,
                           maxBloomBytes: Long = 256L << 20): DataFrame = {
    import graft.operators.Dedup
    // a false positive here DROPS a novel document, so the filter's sizing
    // is correctness-adjacent in both directions: an expectedBandKeys far
    // above reality requests a driver-killing filter (the bits are
    // allocated from the PARAMETER — reject upfront), and a reference that
    // has outgrown expectedBandKeys saturates the bits and silently
    // inflates the false-drop rate (caught below from the built filter's
    // bit saturation, no extra pass over the reference).
    require(expectedBandKeys > 0,
      s"crossNearDedupStream: expectedBandKeys must be positive, got $expectedBandKeys")
    val neededBytes =
      graft.operators.BloomJoin.requiredBloomBytes(expectedBandKeys, fpp)
    require(neededBytes <= maxBloomBytes,
      s"crossNearDedupStream: a $expectedBandKeys-key filter at fpp=$fpp needs " +
        s"${neededBytes >> 20} MB > maxBloomBytes=${maxBloomBytes >> 20} MB " +
        "— shard the reference gate or raise the bound explicitly")
    // two-step selects so the signature computes once per row (CollapseProject
    // leaves the non-cheap alias alone), not once per band expression
    val refKeys = reference
      .select(Dedup.signatureColumn(col(textCol), shingleK, nHashes).as("__sig"))
      .select(explode(Dedup.bandKeysFromSig(col("__sig"), nHashes, bands)).as("__k"))
    val bf = refKeys.stat.bloomFilter("__k", expectedBandKeys, fpp)
    val realizedFpp = bf.expectedFpp()
    require(realizedFpp <= math.max(fpp * 8, 1e-4),
      f"crossNearDedupStream: the reference outgrew expectedBandKeys=$expectedBandKeys " +
        f"(realized fpp $realizedFpp%.2e vs requested $fpp%.2e) — novel documents " +
        "would silently drop at this rate; raise expectedBandKeys")
    val handle = reference.sparkSession.sparkContext.broadcast(bf)
    // bloom_any probes every band key in ONE generated call — the
    // exists(keys, k -> might_contain(k)) higher-order form evaluated its
    // lambda INTERPRETED per element (boxed key, closure dispatch), and on
    // a single-file micro-batch that interpreted probe was the gate's
    // measured ceiling (GateProfile r15: 2.6 s vs 0.5 s per batch). The
    // drop rides an explode-over-conditional-array, NOT a .filter: a
    // deterministic filter is pushed below the staging projections by
    // alias substitution, which re-inlines the 64-lane signature once PER
    // BAND KEY — measured 40x slower (the dispatchRows lesson; the old
    // interpreted lambda was accidentally unpushable and hid this).
    docs
      .withColumn("__sig", Dedup.signatureColumn(col(textCol), shingleK, nHashes))
      .withColumn("__keys", Dedup.bandKeysFromSig(col("__sig"), nHashes, bands))
      .select(col("*"), explode(when(
        !graft.functions.BloomExpr.mightContainAny(col("__keys"), handle),
        array(lit(true)))).as("__pass"))
      .drop("__sig", "__keys", "__pass")
  }

  /** Streaming SEMANTIC dedup gate — online SemDeDup: drop an incoming
    * document whose embedding has cosine ≥ `tau` to ANY vector of a static
    * reference corpus, probed through the reference's IVF cell layout
    * ([[graft.operators.Similarity.ivfBuild]] — build once offline, gate
    * forever). The incoming batch assigns to its nearest cell map-side
    * (the centroids are driver literals in one codegen pass, exactly the
    * probe's own cell ranking), and a stream-static LEFT ANTI equi-join on
    * the cell id applies the cosine threshold as the join residual — zero
    * state, zero stream-side shuffle beyond the (bounded) micro-batch
    * keyed by cell; at cluster scale the static side is the
    * cell-partitioned index table, so each batch reads only the cells it
    * probes.
    *
    * Cell-pruning caveat (the FAISS recall argument, conservative the safe
    * way around for an ingest gate): a near-dup pair straddling a cell
    * boundary can escape the gate — an IDENTICAL vector cannot, it ranks
    * the centroids identically and lands in its twin's cell — so the gate
    * admits a small near-boundary slice that batch [[graft.operators.Dedup.semanticDedup]]
    * would drop, and NEVER falsely drops a novel document (the anti-join
    * only removes rows with a genuine cos ≥ tau witness in the probed
    * cell).
    */
  def semDedupGateStream(docs: DataFrame, index: graft.operators.Similarity.IvfIndex,
                         vecCol: String = "embedding",
                         tau: Double = 0.9): DataFrame = {
    val assigned = docs.withColumn("__cell", element_at(
      graft.functions.VectorExprs.nearestCells(col(vecCol), index.centroids), 1))
    val ref = index.indexed
      .select(col("cell").as("__refcell"), col("cv").as("__rv"))
    assigned.join(ref,
        assigned("__cell") === ref("__refcell") &&
          graft.functions.VectorExprs.cosineSim(assigned(vecCol), ref("__rv")) >= lit(tau),
        "left_anti")
      .drop("__cell")
  }

  /** Streaming frequent-token report: the Misra–Gries sketch
    * ([[graft.functions.MisraGriesAgg]]) as a streaming global aggregate —
    * each micro-batch's partials merge into the running state-store buffer,
    * so state is `capacity` counters FOREVER, not a per-token map that
    * grows with the stream's vocabulary (the failure mode of a naive
    * streaming `groupBy(token).count`). Run in Complete/Update mode; the
    * emitted sketch rows carry the same superset guarantee as the batch
    * aggregate, so a downstream exact recount (batch, over the archived
    * corpus) turns any snapshot into exact heavy hitters.
    */
  def heavyHittersStream(docs: DataFrame, textCol: String = "text",
                         capacity: Int = 400): DataFrame =
    docs.select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(graft.functions.MisraGriesAgg.misraGries(col("tok"), capacity)
        .as("sketch"))

  // ------------------------------------------------------- custom state

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-key state via mapGroupsWithState: a running per-user
    * aggregate that survives across micro-batches — the Spark analog of the
    * reference's stateful processor actors (AutoIncrementValueBuffer /
    * UniqueValueBuffer workers).
    */
  def runningUserTotals(events: DataFrame)(implicit spark: SparkSession): Dataset[UserRunning] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val (n, v) = rows.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), r) => (cn + 1, cv + r.value)
          }
          val next = UserRunning(uid, n, v)
          state.update(next)
          next
      }
  }

  case class PackDoc(source: String, doc_id: Long, n_tokens: Long)
  case class PackState(seq_id: Long, used: Long)
  case class PackSlice(source: String, seq_id: Long, doc_id: Long,
                       doc_off: Long, seq_off: Long, take_n: Long)

  /** CONTINUOUS sequence packing — the streaming face of
    * [[graft.operators.Corpus.packChunks]]: incoming documents tile into
    * exact `budget`-token context windows per source, and the OPEN window
    * (sequence id + tokens used) carries across micro-batches in keyed
    * state, so a sequence can span a batch boundary without gaps or
    * padding. Each output row is one (sequence, document) slice with
    * doc_off / seq_off / take_n; every closed sequence holds exactly
    * `budget` tokens.
    *
    * Determinism contract: within a batch, each source's documents pack in
    * doc_id order (the batch buffer holds only (source, id, n_tokens)
    * triples — never text); batch BOUNDARIES must be deterministic by
    * construction (one drain per staged file set, or all-at-once — the r13
    * FileStreamSource rule). Zero-token documents emit nothing. State is
    * two longs per source — O(#sources), unbounded corpus.
    *
    * Memory shape (r16, ADVICE): the STATE is O(1) per source, but the
    * in-flight micro-batch is not — the doc_id-order contract forces each
    * source's triples for the batch into one task's heap before emission
    * (24 bytes/doc; a 100M-doc single-batch drain of one source is ~2.4 GB
    * in one task). At scale, size triggers (`maxFilesPerTrigger`) so a
    * batch per source stays in task memory; the gate's one-drain fixture
    * is small by construction. The sort cannot move upstream: Spark does
    * not guarantee group-iterator order into flatMapGroupsWithState even
    * over sorted partitions.
    *
    * State-partition sizing (r16, measured 2x): every trigger pays
    * per-STATE-PARTITION store load/commit file IO, and state partitions
    * are fixed at the session's shuffle-partition count when the query
    * first starts. Pack's key cardinality is #sources, so a 32-partition
    * session leaves most stores empty yet still committing every trigger
    * — PackProfile measured addBatch 1.0 s → 0.24 s per trigger (whole
    * drain 18.4 → 9.5 s) by starting the query at 8 partitions. Start
    * low-cardinality stateful queries under [[withShufflePartitions]]
    * with n sized to the key count, as the s_pack gate does.
    */
  /** Run `f` with the session's shuffle-partition count temporarily set
    * to `n`, restoring the previous value after. For STARTING stateful
    * streaming queries whose key cardinality is far below the session's
    * partition count: state-partition count pins to this conf at the
    * query's first batch (and persists in its checkpoint), and each
    * trigger pays per-state-partition store load/commit IO whether or not
    * the partition holds keys. Run the query to completion INSIDE `f` —
    * the restore is safe once the query is stopped (batch plans read the
    * conf at action time; the stateful operator reads its checkpoint).
    */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, old)
  }

  def packStream(docs: DataFrame, budget: Long)
                (implicit spark: SparkSession): Dataset[PackSlice] = {
    import spark.implicits._
    require(budget > 0, s"token budget must be positive, got $budget")
    docs.selectExpr("source", "doc_id", "n_tokens").as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[PackDoc], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(0L, 0L))
          val out = Seq.newBuilder[PackSlice]
          val buf = rows.filter(_.n_tokens > 0).toArray
          java.util.Arrays.sort(buf,
            (a: PackDoc, b: PackDoc) => java.lang.Long.compare(a.doc_id, b.doc_id))
          buf.foreach { d =>
            var off = 0L
            while (off < d.n_tokens) {
              val take = math.min(budget - st.used, d.n_tokens - off)
              out += PackSlice(src, st.seq_id, d.doc_id, off, st.used, take)
              off += take
              st = if (st.used + take == budget) PackState(st.seq_id + 1, 0L)
                   else PackState(st.seq_id, st.used + take)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Continuous parquet sink with checkpointing — the production file-drop
    * shape: exactly-once per file batch, resumable from the checkpoint.
    */
  def toParquet(streamed: DataFrame, outDir: String, checkpointDir: String,
                outputMode: OutputMode = OutputMode.Append())
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .start()

  /** Exactly-once-per-key parquet sink: each micro-batch anti-joins the
    * keys already on disk before appending (Sinks.appendUnique — the
    * reference's BaseWriterFilter semantics), so REPLAYED batches after a
    * checkpoint recovery, and duplicate keys arriving across batches, land
    * at most once. The target's key columns are the only state — column-
    * pruned scan, no driver memory — which is what makes the idempotence
    * hold at any table size.
    */
  def toParquetUnique(streamed: DataFrame, outDir: String, checkpointDir: String,
                      keys: Seq[String])
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.Sinks.appendUnique(batch, outDir, keys); ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Continuous distribution-drift monitor: every micro-batch is scored
    * against a PERSISTED numeric baseline
    * ([[graft.operators.Profiling.writeDriftBaseline]]'s layout — bucket
    * counts + binning contract, written ONCE), and the per-bin PSI report
    * appends to `reportDir` tagged with the batch id. The recurring-check
    * cost is one scan of the BATCH plus a ≤ nBuckets-row baseline read —
    * the baseline snapshot itself is never re-scanned, which is the whole
    * point of persisting it.
    *
    * The report is a batch_id-partitioned parquet table of (bucket,
    * count_a, count_b, psi_term) — each batch's partition is OVERWRITTEN
    * on write, so a batch replayed after checkpoint recovery rewrites its
    * own rows instead of double-counting its PSI (the replay-idempotence
    * rule the keyed sinks follow): a monitor reads
    * `SUM(psi_term) GROUP BY batch_id` and
    * alerts past its threshold (the usual read: <0.1 stable, >0.25
    * shifted). Batches with zero in-range rows RAISE (the batch-side
    * totals guard) rather than appending a silently-null report.
    */
  def toDriftSink(streamed: DataFrame, valueCol: String, baselineDir: String,
                  reportDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        // bounded report plan (≤ nBuckets keys) — see rollingLedgerSink's
        // note; scoped to the query's cloned session
        batch.sparkSession.conf.set("spark.sql.shuffle.partitions", "1")
        val baseline = batch.sparkSession.read.parquet(baselineDir)
        // one Hive-style partition dir per batch, OVERWRITTEN on write: a
        // batch replayed after checkpoint recovery rewrites its own rows
        // instead of appending duplicates that double the batch's PSI
        // (the repo-wide replay-idempotence rule; batch_id comes back as
        // the partition column on read)
        graft.operators.Profiling
          .distributionDriftFromBaseline(baseline, batch, valueCol)
          .write.mode("overwrite").parquet(s"$reportDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** ROLLING-window variant of [[toDriftSink]]: each micro-batch scores
    * against the accumulated counts of the PREVIOUS `window` batches
    * instead of a fixed baseline — the "is this batch unlike the recent
    * stream?" check, which tracks legitimate seasonal movement where a
    * static baseline would alarm forever after the first real shift.
    *
    * State is a tiny parquet ledger under `stateDir`: (batch_id, bucket,
    * count) — ≤ window·nBuckets rows, rewritten per batch (read ledger →
    * append this batch's counts → prune past `window` → atomic swap, the
    * toUpsertSink discipline, so a crashed batch never half-updates the
    * window). The first batch has no history and seeds the ledger without
    * a report; replayed batch ids (checkpoint recovery) overwrite their
    * own ledger rows instead of double-counting.
    *
    * Report rows: (batch_id, bucket, count_a, count_b, psi_term) where
    * count_a is the rolling-window total — per batch, row-identical to
    * `distributionDrift(previous-window-union, batch, …)` (spec-pinned).
    */
  def toRollingDriftSink(streamed: DataFrame, valueCol: String,
                         lo: Double, hi: Double, nBuckets: Int,
                         windowBatches: Int,
                         stateDir: String, reportDir: String,
                         checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    rollingLedgerSink(streamed,
      batch => graft.operators.Profiling
        .bucketCounts(batch, valueCol, lo, hi, nBuckets),
      keyCols = Seq("bucket"),
      psiOf = graft.operators.Profiling.distributionDriftFromCountPair,
      windowBatches, stateDir, reportDir, checkpointDir)

  /** [[toRollingDriftSink]]'s categorical twin: batches fold through a
    * PERSISTED vocabulary (one `category` column —
    * [[graft.operators.Profiling.writeCategoricalVocabulary]]; the fold
    * key must stay FIXED across the window or ledger counts would mix
    * vocabularies) and score against the previous `windowBatches`
    * batches' folded counts. Same ledger/replay/report contract.
    */
  def toRollingCatDriftSink(streamed: DataFrame, catCol: String,
                            vocabDir: String, windowBatches: Int,
                            stateDir: String, reportDir: String,
                            checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    rollingLedgerSink(streamed,
      batch => graft.operators.Profiling.foldedCounts(batch, catCol,
        batch.sparkSession.read.parquet(vocabDir)),
      keyCols = Seq("category", "is_fold"),
      psiOf = graft.operators.Profiling.categoricalDriftFromCountPair,
      windowBatches, stateDir, reportDir, checkpointDir)

  /** A numeric column monitored by [[toRollingMultiDriftSink]] — the
    * fixed equi-width binning contract [[toRollingDriftSink]] takes as
    * loose parameters (counts in a shared window are only summable under
    * one contract per column, so it travels with the column name).
    */
  case class NumericDriftCol(name: String, lo: Double, hi: Double,
                             nBuckets: Int)

  /** A categorical column monitored by [[toRollingMultiDriftSink]]: folds
    * through the persisted vocabulary at `vocabDir`
    * ([[graft.operators.Profiling.writeCategoricalVocabulary]]) — fixed
    * across the window, per [[toRollingCatDriftSink]]'s contract.
    */
  case class CatDriftCol(name: String, vocabDir: String)

  /** Multi-column rolling drift: ONE streaming query monitors N numeric +
    * M categorical columns with one checkpoint and one COLUMN-KEYED
    * ledger — (batch_id, column, key, is_fold, count) — where the
    * single-column sinks would each cost their own query, checkpoint, and
    * ledger. Report rows: (column, key, is_fold, count_a, count_b,
    * psi_term), with the numeric `bucket` carried in the unified string
    * `key` (is_fold = false for numeric rows).
    *
    * Each column scores against its OWN window slice with its OWN totals,
    * through the same count-pair primitives as the single-column sinks —
    * per column, the report is row-identical to [[toRollingDriftSink]] /
    * [[toRollingCatDriftSink]] on the same batches (spec-pinned). A
    * column with zero in-range rows in a scored batch RAISES, same as the
    * single sinks; the first batch seeds the whole ledger without a
    * report. Ledger/replay/crash contract: [[toRollingDriftSink]].
    *
    * Scale shape: the per-batch reduction is one union plan in which each
    * column's branch prunes the micro-batch scan to that column (a
    * columnar source reads each column once); the ledger stays
    * ≤ window · Σ per-column keys rows. Over a row-oriented source
    * (e.g. JSON) a wide monitor re-parses the batch per column — stage
    * such streams to parquet first ([[toParquet]]).
    */
  def toRollingMultiDriftSink(streamed: DataFrame,
                              numeric: Seq[NumericDriftCol],
                              categorical: Seq[CatDriftCol],
                              windowBatches: Int, stateDir: String,
                              reportDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    require(numeric.nonEmpty || categorical.nonEmpty,
      "need at least one monitored column")
    val names = numeric.map(_.name) ++ categorical.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate monitored columns: ${names.diff(names.distinct).distinct}")
    def countsOf(batch: DataFrame): DataFrame = {
      val num = numeric.map { c =>
        graft.operators.Profiling
          .bucketCounts(batch, c.name, c.lo, c.hi, c.nBuckets)
          .select(lit(c.name).as("column"),
            col("bucket").cast(StringType).as("key"),
            lit(false).as("is_fold"), col("count"))
      }
      val cat = categorical.map { c =>
        graft.operators.Profiling.foldedCounts(batch, c.name,
            batch.sparkSession.read.parquet(c.vocabDir))
          .select(lit(c.name).as("column"), col("category").as("key"),
            col("is_fold"), col("count"))
      }
      (num ++ cat).reduce(_ unionByName _)
    }
    // h/b arrive keyed (column, key, is_fold) with count_a/count_b; each
    // column routes through the SAME count-pair primitive as its
    // single-column sink, so totals, smoothing, and the zero-side guard
    // are per column by construction
    def psiOf(h: DataFrame, b: DataFrame): DataFrame = {
      val parts = numeric.map { c =>
        graft.operators.Profiling.distributionDriftFromCountPair(
            h.filter(col("column") === c.name)
              .select(col("key").cast(LongType).as("bucket"), col("count_a")),
            b.filter(col("column") === c.name)
              .select(col("key").cast(LongType).as("bucket"), col("count_b")))
          .select(lit(c.name).as("column"),
            col("bucket").cast(StringType).as("key"),
            lit(false).as("is_fold"),
            col("count_a"), col("count_b"), col("psi_term"))
      } ++ categorical.map { c =>
        graft.operators.Profiling.categoricalDriftFromCountPair(
            h.filter(col("column") === c.name)
              .select(col("key").as("category"), col("is_fold"),
                col("count_a")),
            b.filter(col("column") === c.name)
              .select(col("key").as("category"), col("is_fold"),
                col("count_b")))
          .select(lit(c.name).as("column"), col("category").as("key"),
            col("is_fold"), col("count_a"), col("count_b"), col("psi_term"))
      }
      parts.reduce(_ unionByName _)
    }
    rollingLedgerSink(streamed, countsOf,
      keyCols = Seq("column", "key", "is_fold"), psiOf,
      windowBatches, stateDir, reportDir, checkpointDir)
  }

  /** The shared rolling-ledger core: `countsOf` reduces a batch to its
    * bounded per-key counts (`keyCols`… , `count`), the ledger keeps the
    * last `windowBatches` batches' counts, and `psiOf` scores this
    * batch's counts against the window total. See [[toRollingDriftSink]]
    * for the state/replay/crash contract.
    */
  private def rollingLedgerSink(streamed: DataFrame,
                                countsOf: DataFrame => DataFrame,
                                keyCols: Seq[String],
                                psiOf: (DataFrame, DataFrame) => DataFrame,
                                windowBatches: Int, stateDir: String,
                                reportDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    require(windowBatches > 0, "need windowBatches > 0")
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        // every post-scan exchange in this sink moves ≤ window·keys rows
        // by contract (the batch scan's parallelism is input-driven and
        // unaffected; its aggregate combines map-side). AQE is off inside
        // streaming micro-batches, so without this the tiny ledger/report
        // joins each run session-width shuffles whose task scheduling
        // dwarfs the data. Scoped to the streaming query's CLONED session
        // — the caller's session keeps its own width.
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        // LAZY checkpoint (r16): consumed twice (report + ledger update),
        // but an eager materialization is its own job per trigger — the
        // first consumer's write materializes the blocks instead, and
        // both writes run before the ledger swap, so nothing re-reads a
        // swapped file
        val batchCounts = countsOf(batch)
          .withColumn("batch_id", lit(batchId))
          .localCheckpoint(false)
        val (fs, dirPath) = graft.sinks.Publish.fsFor(spark, stateDir)
        graft.sinks.Publish.restoreStaged(fs, dirPath)
        // the ledger is ≤ window·keys rows by contract: materialize the
        // read ONCE per batch — its three consumers (window filter,
        // report join, pruned-ledger union) otherwise each re-list and
        // re-scan the file as their own job
        // lazy for the same reason as batchCounts: the priorWindow
        // isEmpty probe below is this frame's first action and
        // materializes the blocks before any consumer — and before the
        // swap — so the file still reads exactly once per batch
        val history: Option[DataFrame] =
          if (fs.exists(dirPath))
            Some(spark.read.parquet(stateDir).localCheckpoint(false))
          else None
        // replays (checkpoint recovery) re-deliver a batch id: its own
        // ledger rows must not count as its history nor double-insert
        val priorWindow = history
          .map(_.filter(col("batch_id") < batchId &&
            col("batch_id") >= batchId - windowBatches))
          .filter(!_.isEmpty)
        priorWindow.foreach { h =>
          // replay-idempotent per-batch partition overwrite — see toDriftSink
          psiOf(
              h.groupBy(keyCols.map(col): _*)
                .agg(sum(col("count")).as("count_a")),
              batchCounts.select(keyCols.map(col) :+
                col("count").as("count_b"): _*))
            .write.mode("overwrite").parquet(s"$reportDir/batch_id=$batchId")
        }
        // lineage to the dir being swapped is already severed: history and
        // batchCounts are both localCheckpoint-backed, so their union
        // writes from memory without re-reading the swapped files
        val newLedger = history
          .map(_.filter(col("batch_id") =!= batchId &&
            col("batch_id") > batchId - windowBatches)
            .unionByName(batchCounts))
          .getOrElse(batchCounts)
        val tmp = stateDir + ".tmp"
        newLedger.coalesce(1).write.mode("overwrite").parquet(tmp)
        graft.sinks.Publish.publishSwap(fs,
          new org.apache.hadoop.fs.Path(tmp), dirPath)
        Checkpoints.release(batchCounts)
        history.foreach(Checkpoints.release)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** [[toDriftSink]]'s categorical twin: micro-batches score against a
    * persisted [[graft.operators.Profiling.writeCategoricalBaseline]]
    * (vocabulary + folded counts, ≤ topK+1 rows) — the baseline
    * vocabulary is READ, never recomputed, per batch. Report rows:
    * (batch_id, category, is_fold, count_a, count_b, psi_term).
    */
  def toCatDriftSink(streamed: DataFrame, catCol: String, baselineDir: String,
                     reportDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        // bounded report plan (≤ topK+1 keys) — see rollingLedgerSink's note
        batch.sparkSession.conf.set("spark.sql.shuffle.partitions", "1")
        val baseline = batch.sparkSession.read.parquet(baselineDir)
        // replay-idempotent per-batch partition overwrite — see toDriftSink
        graft.operators.Profiling
          .categoricalDriftFromBaseline(baseline, batch, catCol)
          .write.mode("overwrite").parquet(s"$reportDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming CDC apply: maintain a CURRENT-state parquet table from a
    * stream of change rows (upserts). Each micro-batch first collapses its
    * own rows to one winner per key — max `seqCol` wins, so out-of-order
    * changes WITHIN a batch resolve deterministically — then merges into
    * the target with [[graft.operators.Scd2.upsert]] semantics and
    * atomically replaces the table (write new → swap). This is the
    * continuous form of the reference's repeated source→target sync runs:
    * the target always holds exactly the latest version of every key.
    *
    * Scale notes: the per-batch winner is one keyed aggregate over the
    * (small) batch; the merge's anti-join prunes the target scan to its key
    * columns. The local swap is two directory renames; on object storage
    * the same shape is a transactional table format's commit (the swap is
    * the only storage-specific piece).
    */
  def toUpsertSink(streamed: DataFrame, outDir: String, checkpointDir: String,
                   keys: Seq[String], seqCol: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val keyCols = keys.map(col)
        // latest change per key within the batch; seqCol must totally
        // order a key's changes (ties pick an arbitrary row)
        val winner = batch
          .groupBy(keyCols: _*)
          .agg(max_by(struct(batch.columns.map(col): _*), col(seqCol)).as("__w"))
          .select(col("__w.*"))
        // CRASH RECOVERY (r8 review): a previous attempt may have renamed
        // the table aside (dir -> .old) and died before publishing its tmp
        // — .old is then the ONLY copy of the accumulated table. Restore
        // it before merging; deleting it here would destroy the table and
        // republish just the replayed batch.
        val (fs, dirPath) = graft.sinks.Publish.fsFor(spark, outDir)
        graft.sinks.Publish.restoreStaged(fs, dirPath)
        val merged =
          if (fs.exists(dirPath)) {
            val target = spark.read.parquet(outDir)
            graft.operators.Scd2.upsert(
              target.select(winner.columns.map(col): _*), winner, keys)
          } else winner
        val tmp = outDir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        // two renames make the swap atomic enough for local disk and HDFS;
        // a lakehouse table format's commit replaces this on object stores
        graft.sinks.Publish.publishSwap(fs,
          new org.apache.hadoop.fs.Path(tmp), dirPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Continuous JDBC sink via foreachBatch — the streaming form of the
    * reference's DatabaseWriterActor: each micro-batch writes as one batched
    * JDBC transaction set, per partition.
    */
  def toJdbc(streamed: DataFrame, checkpointDir: String, url: String,
             table: String, props: Map[String, String] = Map.empty)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.Sinks.writeJdbc(batch.toDF(), url, table, props)
      }
      .start()

  /** Continuous keyed DB sync — the streaming form of the reference's
    * DatabaseWriterActor UPDATE path (DB-to-DB sync running forever):
    * each micro-batch collapses to its latest change per key (`seqCol`
    * must totally order a key's changes, same contract as
    * [[toUpsertSink]]) and applies through
    * [[graft.sinks.Sinks.writeJdbcUpsert]] — UPDATE by key, INSERT on
    * miss, per-partition transactions. Replayed micro-batches after a
    * crash re-apply idempotently, so the sink is effectively exactly-once
    * on the target table's final state.
    */
  def toJdbcUpsertSink(streamed: DataFrame, checkpointDir: String,
                       url: String, table: String, keys: Seq[String],
                       seqCol: String,
                       props: Map[String, String] = Map.empty)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions._
        val b = batch.toDF()
        val winner = b
          .groupBy(keys.map(col): _*)
          .agg(max_by(struct(b.columns.map(col): _*), col(seqCol)).as("__w"))
          .select(col("__w.*"))
        graft.sinks.Sinks.writeJdbcUpsert(winner, url, table, keys, props)
      }
      .start()

  /** [[toJdbcUpsertSink]] plus TOMBSTONES — the full CDC apply a real
    * change stream needs: each micro-batch collapses to its latest change
    * per key (by `seqCol`), then rows whose `opCol` equals `deleteOp`
    * DELETE the key from the target while the rest upsert
    * ([[graft.sinks.Sinks.writeJdbcCdc]]). A key whose latest change is a
    * delete followed in a LATER batch by an insert re-appears — exactly
    * the replayed-log semantics. Crash replays re-apply idempotently
    * (upserts converge, absent keys delete zero rows), so the sink is
    * exactly-once on the target's final state.
    *
    * Tie contract: `seqCol` should totally order each key's changes, but
    * if a delete and a non-delete carry the SAME seq value the delete
    * deterministically wins (the ordering key is (seq, isDelete), booleans
    * false < true) — an upsert-sink tie only picks among VALUES, while a
    * CDC tie decides whether the key exists at all, so it must not be
    * left to aggregation order. Ties among several non-delete rows at one
    * seq remain arbitrary among their values, as in [[toJdbcUpsertSink]].
    */
  def toJdbcCdcSink(streamed: DataFrame, checkpointDir: String,
                    url: String, table: String, keys: Seq[String],
                    seqCol: String, opCol: String,
                    deleteOp: String = "D",
                    props: Map[String, String] = Map.empty)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions._
        val b = batch.toDF()
        val winner = b
          .groupBy(keys.map(col): _*)
          .agg(max_by(struct(b.columns.map(col): _*),
            struct(col(seqCol), col(opCol) === deleteOp)).as("__w"))
          .select(col("__w.*"))
        graft.sinks.Sinks.writeJdbcCdc(winner, url, table, keys, opCol,
          deleteOp, props)
      }
      .start()

  /** Streaming re-export of the training-shard layout as the corpus grows
    * — the stream-side companion of
    * [[graft.sinks.Sinks.writeShuffledShards]]. Each micro-batch (1)
    * appends its NOVEL documents to an accumulating parquet staging
    * corpus ([[graft.sinks.Sinks.appendUnique]] keyed on `idCol`, so
    * crash-replayed batches are idempotent), then (2) re-runs the full
    * deterministic shuffle + shard export over the accumulated corpus
    * into `exportDir/v=<batchId>/`.
    *
    * Why a FULL re-export per version, not an incremental append to the
    * previous shards: the export's contract is "the same (corpus, seed,
    * nShards) always yields byte-identical shards, each an evenly spaced
    * stride of a uniform random permutation of the WHOLE corpus". A new
    * document changes the dense-rank position of (on average) half the
    * existing rows, so any append-in-place scheme either breaks the
    * permutation's uniformity over the grown corpus or silently reorders
    * relative to the batch writer — a training run resumed against it
    * would read different data order than a fresh export. Versioned full
    * re-export keeps the contract EXACT per version at the cost of one
    * range + one hash exchange over the corpus per trigger; a production
    * pipeline therefore drives this sink on an epoch cadence (e.g.
    * `Trigger.AvailableNow` per training cycle), not per-second
    * micro-batches. Old versions are retained for reproducibility of past
    * runs; prune externally when their training runs are archived.
    */
  def toShardedExportSink(streamed: DataFrame, checkpointDir: String,
                          stagingDir: String, exportDir: String,
                          idCol: String, seed: Long, nShards: Int)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sinks.Sinks.appendUnique(batch.toDF(), stagingDir, Seq(idCol))
        val spark = batch.sparkSession
        // an all-duplicate (or empty) FIRST batch stages nothing, so the
        // staging dir may not exist yet — exporting nothing is the right
        // outcome, not a dead query
        val fs = new org.apache.hadoop.fs.Path(stagingDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(stagingDir))) {
          val corpus = spark.read.parquet(stagingDir)
          graft.sinks.Sinks.writeShuffledShards(corpus,
            s"$exportDir/v=$batchId", idCol, seed, nShards)
        }
      }
      .start()

  /** Streaming maintenance of a durable IVF ANN index
    * ([[graft.operators.Similarity.ivfWrite]] layout): each micro-batch of
    * embedding rows assigns to the index's EXISTING centroids and appends
    * into the cell-partitioned table
    * ([[graft.operators.Similarity.ivfAppend]] — idempotent on `idCol` by
    * default, so crash-replayed batches add nothing twice; that id
    * anti-join costs an id-column scan of the index PER TRIGGER, so size
    * triggers at epoch cadence or pass `dedupIds = false` for
    * exactly-once upstreams — see ivfAppend's cost note). Probes over
    * [[graft.operators.Similarity.ivfRead]] see each batch as soon as its
    * append commits; the quantizer never moves mid-stream (assignment
    * consistency), so drive [[graft.operators.Similarity.ivfCellStats]] on
    * an epoch cadence and rebuild-and-swap offline when population skew
    * says the quantizer went stale.
    */
  /** ONLINE ANN serving — the query path of the IVF lifecycle (build →
    * append → rebuild-swap → SERVE): each micro-batch of query vectors
    * probes the static index (coarse cell ranking map-side, exact cosine
    * over probed cells, per-query top-k) and the results land as an
    * OVERWRITTEN `batch_id=N` partition — replay-idempotent after
    * checkpoint recovery (the r13 report discipline; a blind append would
    * double-serve a replayed trigger). The quantizer never moves
    * mid-stream; pair with [[toIvfAppendSink]] for ingest and the Publish
    * swap for rebuilds. Serving is stateless per query, so batch
    * boundaries cannot change results — union over batches equals the
    * batch probe over the union (spec-pinned).
    */
  def toAnnServeSink(queries: DataFrame,
                     index: graft.operators.Similarity.IvfIndex,
                     vecCol: String, idCol: String, k: Int, nProbe: Int,
                     outDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity
          .ivfQuery(index, batch.toDF(), vecCol, idCol, k, nProbe)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Online HYBRID retrieval serving — the streaming face of
    * [[graft.operators.Retrieval.hybridDenseTopK]]: each micro-batch of
    * query vectors probes the durable IVF index (dense top-`listKDense`
    * per query) and RRF-fuses against the STATIC lexical rank list `lex`
    * (the offline BM25 artifact — listK-bounded, broadcast into the
    * fusion). Serving is stateless per query, so batch boundaries cannot
    * change results; each trigger's fused top-`k` lands as an OVERWRITTEN
    * `batch_id=N` partition, making checkpoint-recovery replays
    * idempotent (the r13 keyed-sink rule).
    */
  def toHybridServeSink(queries: DataFrame,
                        index: graft.operators.Similarity.IvfIndex,
                        vecCol: String, idCol: String, lex: DataFrame,
                        listKDense: Int, nProbe: Int, kRrf: Double, k: Int,
                        outDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // The lexical side is a STATIC listK-bounded artifact: collect it ONCE
    // at sink construction and ship it as a literal struct array, so each
    // trigger's fusion is a map-side explode over the batch's query ids
    // plus ONE keyed aggregate — no per-trigger distinct/full-outer join
    // (r16: cut the fusion's per-trigger exchanges from ~4 to 2; the
    // arithmetic is rrfFusePerQuery's exactly, with rank 0 encoding
    // absent — ranks are >= 1 — and the parity spec pins sink ==
    // rrfFusePerQuery). The guard keeps a mis-wired corpus-sized frame
    // from becoming a driver collect.
    val lexRows = lex.select(col("doc_id"), col("rk")).collect()
    require(lexRows.length <= 10000,
      s"toHybridServeSink: lex list has ${lexRows.length} rows — it must be " +
        "a top-K artifact (<= 10000), not a corpus-sized frame")
    val lexArr = array(lexRows.map { r =>
      struct(lit(r.get(0)).as("doc_id"), lit(r.get(1)).cast(LongType).as("r_a"))
    }: _*)
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dense = graft.operators.Similarity
          .ivfQuery(index, batch.toDF(), vecCol, idCol, listKDense, nProbe)
        val lexSide = batch.toDF().select(col(idCol).as("query_id"))
          .select(col("query_id"), explode(lexArr).as("__e"))
          .select(col("query_id"), col("__e.doc_id").as("doc_id"),
            col("__e.r_a").as("r_a"), lit(0L).as("r_b"))
        val denseSide = dense.select(col("query_id"),
          col("corpus_id").as("doc_id"), lit(0L).as("r_a"),
          col("rk").cast(LongType).as("r_b"))
        // a duplicate query id in a batch collapses here (same ranks).
        // denseSide LEFT of the union: the left frame's session owns the
        // plan, and only the MAIN session (dense derives from the index)
        // carries the TopKPerGroup strategy — the micro-batch clone that
        // lexSide's batch frame belongs to plans the custom node as
        // "No plan for TopKPerGroup"
        val g = denseSide.unionByName(lexSide)
          .groupBy(col("query_id"), col("doc_id"))
          .agg(max(col("r_a")).as("r_a"), max(col("r_b")).as("r_b"))
        def contrib(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(c > 0, lit(1.0) / (lit(kRrf) + c.cast(DoubleType)))
            .otherwise(lit(0.0))
        g.select(col("query_id"), col("doc_id"), col("r_a"), col("r_b"),
            (contrib(col("r_a")) + contrib(col("r_b"))).as("score"))
          .withColumn("rk", row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col("score").desc, col("doc_id").asc))
            .cast(LongType))
          .filter(col("rk") <= k)
          .drop("score")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
  }

  def toIvfAppendSink(streamed: DataFrame, checkpointDir: String,
                      indexPath: String, vecCol: String, idCol: String,
                      dedupIds: Boolean = true)
  : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.ivfAppend(
          batch.sparkSession, indexPath, batch.toDF(), vecCol, idCol,
          dedupIds = dedupIds)
        ()
      }
      .start()

  /** Run a streaming query over a static directory synchronously into a
    * memory table and return the result — batch-style harness used by specs
    * and local validation.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = streamed.writeStream.format("memory")
      .queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
