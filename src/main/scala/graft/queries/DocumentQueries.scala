package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Corpus, Dedup, Profiling, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-training-data pipeline queries (SURVEY.md §2e) over the `documents`
  * and `embeddings` tables, plus the profiling queries of §2d.
  *
  * Near-dup queries plant controlled duplicates (a mutated copy of a slice
  * of the corpus, id-shifted by +100000) so the detectors demonstrably find
  * them on otherwise-random synthetic text — and the result stays
  * deterministic for the driver's compare.
  */
object DocumentQueries {

  private val SHIFT = 100000L

  /** documents ∪ near-mutated copies of docs with doc_id < 50 (last word
    * dropped, so the copy is a near- but not exact duplicate).
    */
  private def withPlantedNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mutated = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .unionByName(mutated)
  }

  // -------------------------------------------------------- d_dedup_exact
  // Exact dedup: the library groups on xxhash64(normalized text); the oracle
  // groups on the normalized text itself — same survivors unless xxhash64
  // collides (2^-64 per pair).
  private def dDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val doubled = docs.unionByName(
      docs.filter(col("doc_id") < 100).withColumn("doc_id", col("doc_id") + SHIFT))
    Dedup.exact(doubled, "text", "doc_id")
  }

  private val dDedupExactSql =
    s"""WITH u AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id + $SHIFT, text FROM documents WHERE doc_id < 100)
       |SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
       |FROM u GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')""".stripMargin

  // ------------------------------------------------------- d_cross_dedup
  // Incremental-ingestion dedup: a "new batch" (docs ≥ 200 plus planted
  // copies of reference docs) anti-joins against the "historical index"
  // (docs < 250) on normalized-content hash. Docs 200–249 and every
  // planted copy vanish; the oracle anti-joins on the normalized text
  // itself (same survivors unless xxhash64 collides — the d_dedup_exact
  // precedent).
  private def dCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reference = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 200).unionByName(
      docs.filter(col("doc_id") < 30).withColumn("doc_id", col("doc_id") + SHIFT))
    Dedup.crossDedup(incoming, reference, "text").select(col("doc_id"))
  }

  private val dCrossDedupSql =
    s"""WITH ref AS (
       | SELECT DISTINCT regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt
       | FROM documents WHERE doc_id < 250),
       |inc AS (
       | SELECT doc_id, text FROM documents WHERE doc_id >= 200
       | UNION ALL SELECT doc_id + $SHIFT, text FROM documents WHERE doc_id < 30)
       |SELECT doc_id FROM inc
       |WHERE regexp_replace(lower(text), '\\s+', ' ', 'g') NOT IN (SELECT nt FROM ref)""".stripMargin

  // ------------------------------------------------------ d_markup_strip
  // Crawled-corpus cleaning: planted tags + entities around each document
  // strip back out (tags → spaces, entities unescape, whitespace
  // collapses). Both engines run the identical RE2-safe regexes.
  private def dMarkupStrip(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = concat(lit("<p class=\"lead\">"), col("text"),
      lit("</p> <br/> &amp; &lt;fin&gt;"))
    Tables.documents(spark, dir).select(col("doc_id"),
      stripMarkup(wrapped).as("clean"))
  }

  private val dMarkupStripSql =
    """SELECT doc_id,
      | trim(regexp_replace(
      |   replace(replace(replace(replace(replace(replace(
      |     regexp_replace('<p class="lead">' || text || '</p> <br/> &amp; &lt;fin&gt;',
      |       '<[^>]*>', ' ', 'g'),
      |     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |     '&apos;', ''''), '&#39;', ''''), '&amp;', '&'),
      |   '\s+', ' ', 'g')) AS clean
      |FROM documents""".stripMargin

  // --------------------------------------------------- d_sentence_split
  // Heuristic sentence segmentation (terminal punctuation + whitespace) —
  // the unit feeding sentence-level dedup/quality. Numbering precedes the
  // empty-sentence filter on both engines, so sent_ids align.
  private def dSentenceSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(splitSentences(col("text"))))
      .filter(length(trim(col("col"))) > 0)
      .select(col("doc_id"), col("pos").cast(LongType).as("sent_id"),
        col("col").as("sentence"))

  private val dSentenceSplitSql =
    """WITH t AS (
      | SELECT doc_id, string_split_regex(text, '[.!?]+\s+') AS sents
      | FROM documents)
      |SELECT doc_id, CAST(u.i AS BIGINT) AS sent_id,
      | sents[CAST(u.i + 1 AS INT)] AS sentence
      |FROM t, UNNEST(range(0, len(sents))) AS u(i)
      |WHERE len(trim(sents[CAST(u.i + 1 AS INT)])) > 0""".stripMargin

  // ------------------------------------------------------- d_token_count
  private def dTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishTokenCount(col("text")).as("n_bpeish"))

  private val dTokenCountSql =
    """SELECT doc_id,
      | CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS BIGINT) AS n_bpeish
      |FROM documents""".stripMargin

  // ------------------------------------------------------------ d_quality
  private def dQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars_actual"),
      punctPerMille(col("text")).as("punct_pm"),
      stopwordPerMille(col("text")).as("stop_pm"),
      meanTokenLenPerMille(col("text")).as("mean_tok_len_pm"),
      qualityScore(col("text")).as("quality"))

  private val dQualitySql =
    """WITH t AS (
      | SELECT doc_id, text, length(text) AS n,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
      |  length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS np
      | FROM documents),
      |m AS (
      | SELECT doc_id, n, toks, np,
      |  CASE WHEN n = 0 THEN 0 ELSE np * 1000 // n END AS punct_pm,
      |  CASE WHEN len(toks) = 0 THEN 0 ELSE
      |   len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'], x))) * 1000 // len(toks) END AS stop_pm,
      |  CASE WHEN len(toks) = 0 THEN 0 ELSE
      |   list_sum(list_transform(toks, x -> len(x))) * 1000 // len(toks) END AS mean_tok_len_pm
      | FROM t)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_actual,
      | CAST(punct_pm AS BIGINT) AS punct_pm, CAST(stop_pm AS BIGINT) AS stop_pm,
      | CAST(mean_tok_len_pm AS BIGINT) AS mean_tok_len_pm,
      | CAST(greatest(0, CAST(FLOOR((least(n, 400) * 1000 / 400) * 0.5 + least(stop_pm * 4, 300) * 0.5) AS BIGINT) - least(punct_pm * 2, 500)) AS BIGINT) AS quality
      |FROM m""".stripMargin

  // ------------------------------------------------------ d_quality_model
  // The TRAINED half of the quality gate (d_quality is the heuristic
  // half): weak labels from the heuristic (quality >= 500 — ~48% positive
  // on this corpus), closed-form integer token weights
  // (Corpus.qualityModelTrain), pruned to the top-16 tokens by evidence
  // strength, applied as one codegen dot product per document
  // (QualityModelFns.score — the corpus never shuffles to score). Train,
  // prune, and apply are ALL integer arithmetic with deterministic ties,
  // so DuckDB replays the entire train->prune->score->keep decision
  // bit-exactly — a fully oracle-gated trained classifier.
  private def dQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val weights = Corpus.qualityModelTrain(
      docs, "text", qualityScore(col("text")) >= 500L)
    val model = Corpus.qualityModelCollect(weights, topK = 16)
    docs.select(col("doc_id"),
        tokenCount(col("text")).as("n_toks"),
        graft.functions.QualityModelFns.score(col("text"), model).as("score"))
      .withColumn("keep", col("score") > 0L)
  }

  private val dQualityModelSql =
    """WITH t AS (
      | SELECT doc_id, length(text) AS n,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
      |  length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS np
      | FROM documents),
      |m AS (
      | SELECT doc_id, toks, n,
      |  CASE WHEN n = 0 THEN 0 ELSE np * 1000 // n END AS punct_pm,
      |  CASE WHEN len(toks) = 0 THEN 0 ELSE
      |   len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'], x))) * 1000 // len(toks) END AS stop_pm
      | FROM t),
      |lab AS (
      | SELECT doc_id, toks,
      |  CASE WHEN greatest(0, CAST(FLOOR((least(n, 400) * 1000 / 400) * 0.5 + least(stop_pm * 4, 300) * 0.5) AS BIGINT) - least(punct_pm * 2, 500)) >= 500 THEN 1 ELSE 0 END AS pos
      | FROM m),
      |tok AS (SELECT doc_id, pos, unnest(toks) AS token FROM lab),
      |tc AS (SELECT doc_id, pos, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
      |w AS (SELECT token, SUM(CASE WHEN pos = 1 THEN cnt ELSE 0 END) AS cpos,
      |      SUM(cnt) AS ctot FROM tc GROUP BY token),
      |tot AS (SELECT SUM(cpos) AS cp, SUM(ctot) AS ct FROM w),
      |wt AS (SELECT token,
      |  (1000 * (cpos + 1)) // (ctot + 2) - (SELECT (1000 * cp) // ct FROM tot) AS weight
      | FROM w),
      |pruned AS (SELECT token, weight FROM wt ORDER BY abs(weight) DESC, token ASC LIMIT 16),
      |sc AS (SELECT tc.doc_id, SUM(tc.cnt * pruned.weight) AS score
      |       FROM tc JOIN pruned USING (token) GROUP BY tc.doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
      | CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
      | COALESCE(sc.score, 0) > 0 AS keep
      |FROM t LEFT JOIN sc USING (doc_id)""".stripMargin

  // ----------------------------------------------------- s_quality_model
  // The trained classifier DEPLOYED in the live gate — train offline on
  // the batch corpus (the exact d_quality_model closed-form model), apply
  // per micro-batch as a stateless codegen filter: the realistic
  // train-offline / gate-online split. A REAL readStream→writeStream
  // pipeline runs per invocation (fresh checkpoint + sink dirs); the
  // surviving (doc_id, score) rows must hash-match DuckDB's replay of the
  // full train→prune→score→keep decision restricted to keepers.
  private def sQualityModel(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    val docs = Tables.documents(spark, dir)
    val model = Corpus.qualityModelCollect(
      Corpus.qualityModelTrain(docs, "text", qualityScore(col("text")) >= 500L),
      topK = 16)
    val root = SourceQueries.cachedArtifact("qmstage", dir) { tmp =>
      docs.select("doc_id", "text").write.mode("overwrite").parquet(tmp + "/in")
    }
    val rep = java.nio.file.Files.createTempDirectory("graft_qmgate")
    graft.TempFiles.cleanupAtExit(rep)
    val stream = spark.readStream
      .schema(spark.read.parquet(root + "/in").schema).parquet(root + "/in")
    val q = stream.select(col("doc_id"),
        graft.functions.QualityModelFns.score(col("text"), model).as("score"))
      .filter(col("score") > 0L)
      .writeStream.format("parquet")
      .option("path", rep.toString + "/r")
      .option("checkpointLocation", rep.toString + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    spark.read.parquet(rep.toString + "/r")
  }

  private val sQualityModelSql =
    """WITH t AS (
      | SELECT doc_id, length(text) AS n,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
      |  length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS np
      | FROM documents),
      |m AS (
      | SELECT doc_id, toks, n,
      |  CASE WHEN n = 0 THEN 0 ELSE np * 1000 // n END AS punct_pm,
      |  CASE WHEN len(toks) = 0 THEN 0 ELSE
      |   len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'], x))) * 1000 // len(toks) END AS stop_pm
      | FROM t),
      |lab AS (
      | SELECT doc_id, toks,
      |  CASE WHEN greatest(0, CAST(FLOOR((least(n, 400) * 1000 / 400) * 0.5 + least(stop_pm * 4, 300) * 0.5) AS BIGINT) - least(punct_pm * 2, 500)) >= 500 THEN 1 ELSE 0 END AS pos
      | FROM m),
      |tok AS (SELECT doc_id, pos, unnest(toks) AS token FROM lab),
      |tc AS (SELECT doc_id, pos, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
      |w AS (SELECT token, SUM(CASE WHEN pos = 1 THEN cnt ELSE 0 END) AS cpos,
      |      SUM(cnt) AS ctot FROM tc GROUP BY token),
      |tot AS (SELECT SUM(cpos) AS cp, SUM(ctot) AS ct FROM w),
      |wt AS (SELECT token,
      |  (1000 * (cpos + 1)) // (ctot + 2) - (SELECT (1000 * cp) // ct FROM tot) AS weight
      | FROM w),
      |pruned AS (SELECT token, weight FROM wt ORDER BY abs(weight) DESC, token ASC LIMIT 16),
      |sc AS (SELECT tc.doc_id, SUM(tc.cnt * pruned.weight) AS score
      |       FROM tc JOIN pruned USING (token) GROUP BY tc.doc_id)
      |SELECT doc_id, CAST(score AS BIGINT) AS score
      |FROM sc WHERE score > 0""".stripMargin

  // --------------------------------------------------------- s_semdedup
  // ONLINE SemDeDup (r15): the streaming ingest form of semantic dedup —
  // an incoming embedding drops when it has cosine >= 0.8 to ANY vector
  // of the static reference corpus, probed through the reference's IVF
  // cell layout (Streams.semDedupGateStream: map-side cell assignment +
  // stream-static LEFT ANTI join, zero state). A REAL readStream →
  // writeStream parquet pipeline runs per invocation. Margin fixture:
  // incoming = the 50 planted identical copies of vec_id < 5 (same cell
  // as their twins by construction, cos = 1 -> must drop) + 500 NEGATED
  // naturals (cos(-v, u) = -cos(v, u) <= the background bound ~0.42
  // against EVERY reference vector -> must survive), so the survivor set
  // is exact at the 0.8 threshold in both engines and DuckDB replays it
  // by brute-force NOT EXISTS.
  private def sSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val idx = AnnQueries.ivfIndex(spark, dir)
    val root = SourceQueries.cachedArtifact("semgatestage", dir) { tmp =>
      val copies = AnnQueries.annPlanted(e.select("vec_id", "embedding"))
        .filter(col("vec_id") >= 100000L)
      val novel = e.filter(col("vec_id") < 500)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      copies.unionByName(novel).write.mode("overwrite").parquet(tmp + "/in")
    }
    val rep = java.nio.file.Files.createTempDirectory("graft_semgate")
    graft.TempFiles.cleanupAtExit(rep)
    val stream = spark.readStream
      .schema(spark.read.parquet(root + "/in").schema).parquet(root + "/in")
    val q = graft.streaming.Streams
      .semDedupGateStream(stream, idx, "embedding", tau = 0.8)
      .select(col("vec_id"))
      .writeStream.format("parquet")
      .option("path", rep.toString + "/r")
      .option("checkpointLocation", rep.toString + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    spark.read.parquet(rep.toString + "/r")
  }

  private val sSemDedupSql =
    """WITH inc AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5
      |  UNION ALL
      |  SELECT vec_id + 200000, list_transform(embedding, x -> -x)
      |  FROM embeddings WHERE vec_id < 500)
      |SELECT i.vec_id FROM inc i
      |WHERE NOT EXISTS (SELECT 1 FROM embeddings r
      |  WHERE list_cosine_similarity(i.embedding, r.embedding) >= 0.8)""".stripMargin

  // ------------------------------------------------------- d_dsir_sample
  // DSIR-style importance resampling (Xie et al., NeurIPS'23): the target
  // domain is the English slice of the corpus, the raw corpus is all of
  // it; Corpus.dsirWeights trains integer per-million share-difference
  // weights under add-one smoothing (the closed-form, log-free surrogate
  // of the paper's probability ratio — the d_quality_model margin
  // discipline), qualityModelCollect prunes to the 64 most discriminative
  // tokens, and dsirResample keeps the 150 most target-like documents by
  // (score desc, doc_id asc). Every step — counts, totals, vocabulary
  // size, integer division, tie order — replays bit-exactly in DuckDB, so
  // the full train→prune→score→select decision sits inside the hash gate.
  private def dDsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (w, handle) = Corpus.dsirWeightsManaged(
      docs, docs.filter(col("lang") === "en"), "text")
    // the collect materializes the weights into a driver model, so the
    // training cache releases here instead of leaking into the session
    val model = Corpus.qualityModelCollect(w, topK = 64)
    handle.unpersist()
    Corpus.dsirResample(docs, "text", "doc_id", model, k = 150)
      .select(col("doc_id"), col("lang"), col("dsir_score"))
  }

  private val dDsirSampleSql =
    """WITH tok AS (
      | SELECT doc_id, lang,
      |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
      | FROM documents),
      |tc AS (SELECT token,
      |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
      |        COUNT(*) AS cr
      |       FROM tok GROUP BY token),
      |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr, COUNT(*) AS v FROM tc),
      |wt AS (SELECT token,
      |        (1000000 * (ct + 1)) // (tt + v) - (1000000 * (cr + 1)) // (tr + v) AS weight
      |       FROM tc, tot),
      |pruned AS (SELECT token, weight FROM wt ORDER BY abs(weight) DESC, token ASC LIMIT 64),
      |sc AS (SELECT tok.doc_id, SUM(pruned.weight) AS s
      |       FROM tok JOIN pruned USING (token) GROUP BY tok.doc_id)
      |SELECT d.doc_id, d.lang, CAST(COALESCE(sc.s, 0) AS BIGINT) AS dsir_score
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |ORDER BY dsir_score DESC, d.doc_id ASC LIMIT 150""".stripMargin

  // ------------------------------------------------------------ d_lang_id
  private def dLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang").as("labelled"),
      langId(col("text")).as("detected"))

  private val dLangIdSql =
    """WITH s AS (
      | SELECT doc_id, lang AS labelled, length(text) AS n,
      |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      | FROM documents),
      |m AS (
      | SELECT doc_id, labelled, n, cjk,
      |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','für','auf'], x))) AS s_de,
      |  len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS s_en,
      |  len(list_filter(toks, x -> list_contains(['el','la','los','las','es','y','en','que','por','con'], x))) AS s_es,
      |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','pour','dans','avec','une'], x))) AS s_fr
      | FROM s)
      |SELECT doc_id, labelled,
      | CASE WHEN cjk * 5 > n THEN 'zh'
      |  WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
      |  WHEN s_de >= greatest(s_en, s_es, s_fr) THEN 'de'
      |  WHEN s_en >= greatest(s_es, s_fr) THEN 'en'
      |  WHEN s_es >= s_fr THEN 'es'
      |  ELSE 'fr' END AS detected
      |FROM m""".stripMargin

  // ------------------------------------------------- near-dup pair queries
  // Oracle-checked PAIR SET (not signatures): the oracle computes EXACT
  // word-3-shingle Jaccard in DuckDB (identical tokenization: lowercase,
  // whitespace split, distinct shingles, sub-k docs collapse to one whole-
  // text shingle) and keeps pairs with J >= 0.5. The corpus is margin-safe
  // by construction: every true pair (planted or natural duplicate) has
  // J >= 0.889, every non-pair has J < 0.2 (measured at sf0.01), so the
  // 64-hash estimate and the 16-band candidate recall sit ~0.4 away from
  // the threshold on both sides — P(band miss) <= (1-0.889^4)^16 ~ 1.6e-7
  // per pair, and with FIXED hash seeds the outcome is deterministic per
  // dataset, verified green by selfcheck. The length-ratio prefilter in the
  // oracle is sound: J <= min(|A|,|B|)/max(|A|,|B|), so min/max >= 0.5 is
  // implied by J >= 0.5.
  private def dMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(withPlantedNearDups(spark, dir), "text", "doc_id",
      shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b"))

  private val dMinhashSql =
    s"""WITH u AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + $SHIFT, regexp_replace(text, '\\s+\\S+\\s*$$', '')
       | FROM documents WHERE doc_id < 50),
       |t AS (
       | SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM u),
       |s AS (
       | SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - 2 + 1),
       |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
       | FROM t),
       |p AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |  len(list_distinct(list_concat(a.sh, b.sh))) AS j
       | FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  AND len(a.sh) * 2 >= len(b.sh) AND len(b.sh) * 2 >= len(a.sh))
       |SELECT id_a, id_b FROM p WHERE j >= 0.5""".stripMargin

  // -------------------------------------------------- d_cross_neardedup
  // Incremental-ingestion NEAR-dup gate (Dedup.crossNearDedup — the
  // minhash companion of d_cross_dedup): incoming = 50 mutated docs
  // (drop-last-word near-dups of the reference, exact J >= 0.889) + 50
  // token-reversed docs (novel: shingles are order-sensitive, J < 0.2
  // against everything). Oracle replays exact shingle-set Jaccard >= 0.5
  // in DuckDB — the same wide-margin argument (and fixed hash seeds) that
  // makes d_dedup_minhash oracle-checkable. Expected survivors: the 50
  // reversed docs.
  private def dCrossNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mutated = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"))
    val reversed = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .select((col("doc_id") + 2 * SHIFT).as("doc_id"),
        array_join(reverse(tokens(col("text"))), " ").as("text"))
    Dedup.crossNearDedup(mutated.unionByName(reversed),
        docs.select("doc_id", "text"), "text", "doc_id",
        shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5)
      .select(col("doc_id"))
  }

  private val dCrossNearDedupSql =
    s"""WITH inc AS (
       | SELECT doc_id + $SHIFT AS doc_id,
       |  regexp_replace(text, '\\s+\\S+\\s*$$', '') AS text
       | FROM documents WHERE doc_id < 50
       | UNION ALL
       | SELECT doc_id + ${2 * SHIFT},
       |  array_to_string(list_reverse(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), ' ')
       | FROM documents WHERE doc_id >= 50 AND doc_id < 100),
       |tin AS (
       | SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM inc),
       |tref AS (
       | SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM documents),
       |sin AS (
       | SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - 2 + 1),
       |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
       | FROM tin),
       |sref AS (
       | SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - 2 + 1),
       |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
       | FROM tref),
       |doomed AS (
       | SELECT DISTINCT i.doc_id
       | FROM sin i JOIN sref r
       |  ON len(i.sh) * 2 >= len(r.sh) AND len(r.sh) * 2 >= len(i.sh)
       | WHERE CAST(len(list_intersect(i.sh, r.sh)) AS DOUBLE) /
       |  len(list_distinct(list_concat(i.sh, r.sh))) >= 0.5)
       |SELECT doc_id FROM inc ANTI JOIN doomed USING (doc_id)""".stripMargin

  // Measured (r6) and left rows-only ON PURPOSE: unlike minhash, simhash's
  // pair set is not margin-separable from content — true pairs span
  // hamming 0..7 while the BACKGROUND minimum is hamming 0 (similar-length
  // unrelated docs can share identical token-weighted signatures), so no
  // maxDist reproduces an exact-similarity oracle. SimHash is a candidate
  // generator; its guarantees live in DedupSpec. The VERIFIED variant
  // below is the oracle-checkable face of the same operator.
  private def dSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(withPlantedNearDups(spark, dir), "text", "doc_id", maxDist = 3)

  // d_dedup_simhash_verified: simhash candidates verified by exact
  // shingle Jaccard (Dedup.simhashVerifiedPairs). Oracle-checkable where
  // raw simhash is not: verification makes every emitted pair a true
  // J >= 0.5 pair (background collisions die on the exact check), so
  // precision is exact; recall needs every true pair within the
  // pigeonhole gate's hamming budget. SimHash's hamming concentrates
  // only with token MASS — a one-word edit on a ~10-token doc flips a
  // large share of the 64 sign-sums (a natural sf0.1 pair at J=0.889
  // with 10 vs 11 tokens lands beyond hamming 7) — so the fixture floors
  // the corpus at 30 tokens, the regime simhash is built for (short docs
  // are minhash's territory: its banding margin is length-independent).
  // On the floored corpus every true pair (planted drop-last-word,
  // J >= 0.889, ≤1 flipped shingle window per 28+ windows) stays well
  // inside maxDist=7 — measured green at sf0.01 AND sf0.1 with the fixed
  // seeds — and the output equals the exact-Jaccard pair set the DuckDB
  // oracle replays.
  private def dSimhashVerified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= 30)
    val mutated = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"))
    Dedup.simhashVerifiedPairs(
      docs.select("doc_id", "text").unionByName(mutated), "text", "doc_id",
      maxDist = 7, shingleK = 3, threshold = 0.5)
  }

  private val dSimhashVerifiedSql =
    s"""WITH base AS (
       | SELECT doc_id, text FROM documents
       | WHERE len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) >= 30),
       |u AS (
       | SELECT doc_id, text FROM base
       | UNION ALL
       | SELECT doc_id + $SHIFT, regexp_replace(text, '\\s+\\S+\\s*$$', '')
       | FROM base WHERE doc_id < 50),
       |t AS (
       | SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM u),
       |s AS (
       | SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - 2 + 1),
       |          i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
       | FROM t),
       |p AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |  len(list_distinct(list_concat(a.sh, b.sh))) AS j
       | FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  AND len(a.sh) * 2 >= len(b.sh) AND len(b.sh) * 2 >= len(a.sh))
       |SELECT id_a, id_b FROM p WHERE j >= 0.5""".stripMargin

  private def dNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(withPlantedNearDups(spark, dir), "text", "doc_id",
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.8)
      .select(col("id_a"), col("id_b"))

  // n-gram Jaccard has an exact DuckDB twin (no hashing involved).
  private val dNgramSql =
    s"""WITH u AS (
       | SELECT doc_id, text, lang, source FROM documents
       | UNION ALL
       | SELECT doc_id + $SHIFT, regexp_replace(text, '\\s+\\S+\\s*$$', ''), lang, source
       | FROM documents WHERE doc_id < 50),
       |g AS (
       | SELECT doc_id, lang, source,
       |  list_distinct(list_transform(range(1, greatest(length(s) - 3, 1) + 1),
       |    i -> s[i:i+3])) AS grams
       | FROM (SELECT doc_id, lang, source, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM u))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8""".stripMargin

  // Planted copies are PERTURBED (every odd component scaled by 1.05 →
  // cos ≈ 0.9997, near- but not exact duplicates), so a plant CAN straddle a
  // hyperplane bucket and recall is earned by the operator's multi-probe
  // bucketing, not by the geometric impossibility of an identical copy
  // splitting from its original. The same element-wise perturbation is
  // applied in the oracle SQL (double math, rounded to float, identically in
  // both engines). Missing a plant would need >= 3 of 8 hyperplane signs to
  // flip at p ≈ 0.007 each — probability ~2e-5 per pair.
  // ------------------------------------------------------ d_dedup_cluster
  // Pair → cluster resolution. Plants form CHAINS, not cliques: B = A plus
  // a reversed-text slice (J(A,B) ≈ 0.87), C = B plus a second slice
  // (J(B,C) ≈ 0.89 but J(A,C) ≈ 0.78 < threshold), so {A,B,C} only becomes
  // one cluster through transitive connected-components resolution — the
  // exact reason a production dedup pipeline needs the cluster step. The
  // oracle rebuilds the identical pair set and resolves components with a
  // recursive min-label CTE.
  /** Corpus of chained near-dups (A~B, B~C — never scored A~C) shared by
    * the cluster and apply queries.
    */
  private def clusterInput(spark: SparkSession, dir: String): DataFrame =
    clusterVariants(Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"), col("lang"), col("source")))

  /** The 3-way chained-variant union over an arbitrary base frame —
    * split out (r16) so the cached build can feed it a materialized base
    * and pay ONE parquet scan instead of one per union branch.
    */
  private def clusterVariants(docs: DataFrame): DataFrame = {
    val sliceLen = floor(length(col("text")) / 7).cast(IntegerType)
    val b = concat(col("text"), lit(" "), reverse(col("text")).substr(lit(1), sliceLen))
    val c = concat(b, lit(" "), reverse(col("text")).substr(sliceLen + 1, sliceLen))
    docs
      .unionByName(docs.select((col("doc_id") + SHIFT).as("doc_id"), b.as("text"),
        col("lang"), col("source")))
      .unionByName(docs.select((col("doc_id") + 2 * SHIFT).as("doc_id"), c.as("text"),
        col("lang"), col("source")))
  }

  private def clusterPairs(u: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(u, "text", "doc_id",
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.8)

  /** The exact pair derivation [[clusterLabels]] feeds to components() —
    * exposed (uncached) for tools.CcProfile's stage-cost attribution.
    */
  def clusterPairsForProfile(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(clusterInput(spark, dir))

  /** The chained near-dup corpus itself — see [[clusterPairsForProfile]]. */
  def clusterInputForProfile(spark: SparkSession, dir: String): DataFrame =
    clusterInput(spark, dir)

  // The cluster labels derive ONCE per (session, data dir) and are shared
  // by the three registered consumers (d_dedup_cluster, d_dedup_apply,
  // d_dedup_keep_best): the iterative CC loop is the latency-bound step
  // and every consumer needs the SAME labels, so per-query re-derivation
  // just multiplied that latency by three (r10 bench: 3.8 + 3.7 s for
  // apply + keep_best alone at sf1). Session-identity keyed like ivfCache;
  // entries for stopped sessions are evicted (their localCheckpoint
  // blocks died with the session's block manager).
  private val labelsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** Build (or fetch the cached) cluster-label table for `dir`'s chained
    * near-dup corpus — the shared offline step of the dedup-apply family,
    * declared in [[Artifacts]]. The labels are localCheckpoint-backed: a
    * harness that reclaims persisted blocks between queries must build
    * them through [[Artifacts.prebuild]], which protects their blocks.
    */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    labelsCache.entrySet().removeIf(
      e => e.getValue.sparkSession.sparkContext.isStopped)
    labelsCache.computeIfAbsent(
      (System.identityHashCode(spark).toString, dir),
      _ => {
        // checkpoint the 300-row chained corpus ONCE: ngramJaccardPairs
        // runs several internal jobs (distinct-set groupBy, the eager
        // hottest-block aggregate, member expansion, pair scoring) and
        // each re-derived the 3-way union + text slicing from parquet —
        // r16's profile attributed ~2 s of the 7.3 s build to exactly
        // that. The BASE 100-row slice checkpoints first so the union's
        // three variant branches read it from memory instead of each
        // re-scanning parquet (r16). Bounded by construction (doc_id <
        // 100, x3 variants), so both materializations are fixture-sized
        // at every SF.
        val base = Tables.documents(spark, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .localCheckpoint()
        val input = clusterVariants(base).localCheckpoint()
        base.unpersist(blocking = false)
        val labels = Dedup.components(clusterPairs(input))
        input.unpersist(blocking = false)
        labels
      })
  }

  /** Registry queries consuming [[clusterLabels]] — the SINGLE source of
    * truth [[Artifacts]] gates the prebuild on. Register a new consumer of
    * an artifact accessor? Add it to the accessor's consumer set HERE, or
    * a subset (SPARK_GRAFT_ONLY) run silently pays the build inside that
    * query's timed window and skews A-B comparisons.
    */
  val labelConsumers: Set[String] =
    Set("d_dedup_cluster", "d_dedup_apply", "d_dedup_keep_best")


  private def dDedupCluster(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).select(col("id"), col("cluster"))

  private val dDedupClusterSql =
    s"""WITH RECURSIVE d AS (
       | SELECT doc_id, text, lang, source FROM documents WHERE doc_id < 100),
       |u AS (
       | SELECT doc_id, text, lang, source FROM d
       | UNION ALL
       | SELECT doc_id + $SHIFT,
       |  text || ' ' || substr(reverse(text), 1, length(text) // 7),
       |  lang, source FROM d
       | UNION ALL
       | SELECT doc_id + ${2 * SHIFT},
       |  text || ' ' || substr(reverse(text), 1, length(text) // 7)
       |   || ' ' || substr(reverse(text), length(text) // 7 + 1, length(text) // 7),
       |  lang, source FROM d),
       |g AS (
       | SELECT doc_id, lang, source,
       |  -- positions 1..len-3: full 4-grams only, matching Spark's
       |  -- sequence(1, greatest(len - (n-1), 1)) exactly (no partial tail)
       |  list_distinct(list_transform(range(1, greatest(length(s) - 3, 1) + 1),
       |    i -> s[i:i+3])) AS grams
       | FROM (SELECT doc_id, lang, source, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM u)),
       |p AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       | WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |       len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |verts AS (SELECT DISTINCT src AS id FROM e),
       |r AS (
       | SELECT id, id AS label FROM verts
       | UNION
       | SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id)
       |SELECT id, MIN(label) AS cluster FROM r GROUP BY id""".stripMargin

  // ----------------------------------------------------- d_dedup_apply
  // The user-facing END of the dedup pipeline: candidate pairs → connected
  // components → keep one canonical survivor (min id) per cluster, pass
  // every unclustered doc through. Same corpus as d_dedup_cluster; the
  // oracle re-derives the survivors from its recursive-CTE labels.
  private def dDedupApply(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepCanonicalLabeled(clusterInput(spark, dir),
      clusterLabels(spark, dir), "doc_id").select(col("doc_id"))

  private val dDedupApplySql = {
    // reuse the cluster derivation, then drop every non-canonical member
    val labels = dDedupClusterSql
      .replaceFirst("(?s)\\s*SELECT id, MIN\\(label\\) AS cluster FROM r GROUP BY id$", "")
    // NOTE: no stripMargin here — labels is finished SQL whose `||` concats
    // a second stripMargin would mangle
    labels + ",\ndoomed AS (\n" +
      " SELECT id FROM (SELECT id, MIN(label) AS cluster FROM r GROUP BY id)\n" +
      " WHERE id != cluster)\n" +
      "SELECT doc_id FROM u ANTI JOIN doomed ON doc_id = id"
  }

  // ------------------------------------------------- d_dedup_keep_best
  // Quality-aware survivor selection: the same clusters as d_dedup_apply,
  // but each cluster keeps its LONGEST-text member (argmax length, min-id
  // ties) instead of min-id — the production knob that keeps the cleanest
  // copy rather than whichever crawl ingested first. On this corpus the
  // 2·SHIFT variant (longest) must win every 3-member cluster, so a
  // min-id fallback or a lost tie-break flips the hash.
  private def dDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val u = clusterInput(spark, dir).withColumn("__q", length(col("text")))
    Dedup.keepBestLabeled(u, clusterLabels(spark, dir), "doc_id", "__q")
      .select(col("doc_id"))
  }

  private val dDedupKeepBestSql = {
    val labels = dDedupClusterSql
      .replaceFirst("(?s)\\s*SELECT id, MIN\\(label\\) AS cluster FROM r GROUP BY id$", "")
    // NOTE: no stripMargin — labels is finished SQL (see dDedupApplySql)
    labels + ",\nscored AS (\n" +
      " SELECT l.id, l.cluster, length(u.text) AS s\n" +
      " FROM (SELECT id, MIN(label) AS cluster FROM r GROUP BY id) l\n" +
      " JOIN u ON u.doc_id = l.id),\n" +
      "doomed AS (\n" +
      " SELECT id FROM (\n" +
      "  SELECT id, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY s DESC, id ASC) AS rk\n" +
      "  FROM scored)\n" +
      " WHERE rk > 1)\n" +
      "SELECT doc_id FROM u ANTI JOIN doomed ON doc_id = id"
  }

  private def dEmbedDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val perturbed = e.select((col("vec_id") + SHIFT).as("vec_id"),
      transform(col("embedding"), (x, i) => x * (lit(1.0d) + lit(0.05d) * (i % 2)))
        .cast("array<float>").as("embedding"))
    val doubled = e.select(col("vec_id"), col("embedding")).unionByName(perturbed)
    Dedup.embeddingPairs(doubled, "embedding", "vec_id", nBits = 8, threshold = 0.95,
        probeRadius = 2)
      .select(col("id_a"), col("id_b"))
  }

  private val dEmbedDedupSql =
    s"""WITH u AS (
       | SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + $SHIFT,
       |  list_transform(embedding, (x, i) -> CAST(x * (1.0 + 0.05 * ((i - 1) % 2)) AS FLOAT))
       | FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM u a JOIN u b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95""".stripMargin

  // ------------------------------------------------------------ d_semdedup
  // SemDeDup end-to-end (Dedup.semanticDedup): 300 embeddings + exact
  // copies at shifted ids, clustered into 4 k-means cells, within-cell
  // pairwise cosine at τ=0.98, min-id keeper. Oracle-checkable by margin
  // design: the only pairs above 0.98 are the planted exact copies
  // (cos = 1; unrelated 64-dim pairs never approach 0.98), and identical
  // vectors land in the same cell deterministically — so the all-pairs
  // DuckDB replay equals the within-cell answer no matter where k-means
  // puts the cell boundaries. Expected survivors: the 300 originals.
  private def dSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 300)
      .select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    Dedup.semanticDedup(doubled, "embedding", "vec_id",
        nCells = 4, threshold = 0.98)
      .select(col("vec_id"))
  }

  private val dSemDedupSql =
    s"""WITH u AS (
       | SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
       | UNION ALL
       | SELECT vec_id + $SHIFT, embedding FROM embeddings WHERE vec_id < 300),
       |doomed AS (
       | SELECT DISTINCT a.vec_id AS id
       | FROM u a JOIN u b ON b.vec_id < a.vec_id
       | WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.98)
       |SELECT vec_id FROM u ANTI JOIN doomed ON vec_id = id""".stripMargin

  // -------------------------------------------------------- d_fingerprint
  // md5-based winnowing bottom-k (TextFunctions.fingerprintHex) so DuckDB
  // can replay the digests bit-for-bit — the xxhash64 fused variant
  // (TextFunctions.fingerprint, ShingleHashSpec) stays as the throughput
  // path; sketch semantics are identical under any uniform hash.
  private def dFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("content_hash"),
      // canonical string render: the driver sorts+hashes result rows, and
      // array-typed cells are unhashable in its pandas sort
      array_join(fingerprintHex(col("text"), k = 3, take = 8), ",").as("fp"))

  private val dFingerprintSql =
    """WITH t AS (
      | SELECT doc_id, text,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      | FROM documents),
      |s AS (
      | SELECT doc_id, text,
      |  CASE WHEN len(toks) >= 3 THEN
      |   list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |  ELSE [array_to_string(toks, ' ')] END AS shingles
      | FROM t)
      |SELECT doc_id,
      | md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
      | array_to_string(list_sort(list_distinct(list_transform(shingles, x -> md5(x))))[1:8], ',') AS fp
      |FROM s""".stripMargin

  // ---------------------------------------------------------- d_pii_scrub
  // Documents carry no PII, so plant a synthetic email/url/ip per row and
  // verify the scrub removes exactly those.
  private def dPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or http://ex.com/"),
      col("doc_id"), lit(" from 10.0.0."), pmod(col("doc_id"), lit(250)))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      scrubPii(dirty).as("clean"),
      (length(dirty) - length(scrubPii(dirty))).cast(LongType).as("removed_chars"))
  }

  private val dPiiScrubSql =
    """WITH d AS (
      | SELECT doc_id,
      |  text || ' contact user' || doc_id || '@example.com or http://ex.com/' || doc_id ||
      |   ' from 10.0.0.' || (doc_id % 250) AS dirty
      | FROM documents),
      |s AS (
      | SELECT doc_id, dirty,
      |  regexp_replace(
      |   regexp_replace(
      |    regexp_replace(
      |     regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |     'https?://[^\s]+', '<URL>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |   '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS clean
      | FROM d)
      |SELECT doc_id, clean, CAST(length(dirty) - length(clean) AS BIGINT) AS removed_chars
      |FROM s""".stripMargin

  // --------------------------------------------------------- d_repetition
  // Gopher-style repetition signal: share of the most frequent word bigram.
  private def dRepetition(spark: SparkSession, dir: String): DataFrame = {
    // bigram hashes map-side in one fused pass (WordShingleHashExpr), so the
    // first exchange is the partial-aggregated (doc_id, bigram-hash) count —
    // never the tokenized text. Hashing can't change the aggregate outputs
    // (n_bigrams is a plain count; a within-doc 64-bit collision is ~2^-40).
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash.bigramHashes(col("text"))).as("bg"))
    bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        floor(col("top_bigram_n") * 1000 / col("n_bigrams")).cast(LongType).as("rep_pm"))
  }

  private val dRepetitionSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      | FROM documents),
      |g AS (
      | SELECT doc_id, u.bg FROM t,
      |  UNNEST(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS u(bg)
      | WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM g GROUP BY doc_id, bg)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      | CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
      | CAST(MAX(cnt) * 1000 // SUM(cnt) AS BIGINT) AS rep_pm
      |FROM c GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------ d_contamination
  // Benchmark = every 10th document; find corpus docs sharing ≥3 word
  // 3-shingles with a (different) benchmark doc.
  private def dContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.Contamination.sharedShingles(
      docs, docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "text", "doc_id", k = 3, minShared = 3)
  }

  private val dContaminationSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      | FROM documents),
      |sh AS (
      | SELECT doc_id, u.shingle FROM t,
      |  UNNEST(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' ')))) AS u(shingle)),
      |j AS (
      | SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, c.shingle
      | FROM sh c JOIN sh b ON c.shingle = b.shingle
      | WHERE b.doc_id % 10 = 0 AND c.doc_id != b.doc_id)
      |SELECT corpus_id, bench_id, CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_shared
      |FROM j GROUP BY corpus_id, bench_id HAVING COUNT(DISTINCT shingle) >= 3""".stripMargin

  // ------------------------------------------------------- d_corpus_stats
  private def dCorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("lang")).as("n_langs"))

  private val dCorpusStatsSql =
    """SELECT source, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      | CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents GROUP BY source""".stripMargin

  // ------------------------------------------------- corpus curation (r3)
  // d_quality_filter: keep the top half of each source by quality score
  // (exact rank semantics; ties broken by doc_id so both engines agree).
  private def dQualityFilter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.qualityFilterTop(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality")),
      "quality", "source", "doc_id", keepNum = 1, keepDen = 2)

  private val dQualityFilterSql =
    """WITH q AS (
      | SELECT doc_id, source,
      |  CAST(greatest(0, CAST(FLOOR((least(length(text), 400) * 1000 / 400) * 0.5 +
      |   least(CASE WHEN len(toks) = 0 THEN 0 ELSE
      |    len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'], x))) * 1000 // len(toks) END * 4, 300) * 0.5) AS BIGINT)
      |   - least(CASE WHEN length(text) = 0 THEN 0 ELSE (length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))) * 1000 // length(text) END * 2, 500)) AS BIGINT) AS quality
      | FROM (SELECT doc_id, source, text,
      |        list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |       FROM documents))
      |SELECT doc_id, source, quality FROM (
      | SELECT doc_id, source, quality,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk,
      |  COUNT(*) OVER (PARTITION BY source) AS n
      | FROM q) t
      |WHERE rk * 2 <= n""".stripMargin

  // d_stratified_sample: deterministic hash-mod mixture — even-indexed
  // sources kept at 250‰, odd at 600‰; pure integer arithmetic, so the
  // oracle selects the identical row set.
  private def dStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = substring(col("source"), 4, 10).cast(IntegerType)
    val rate = when(pmod(srcIdx, lit(2)) === 0, lit(250)).otherwise(lit(600))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .filter(graft.operators.Corpus.hashModKeep(col("doc_id"), rate))
  }

  private val dStratifiedSampleSql =
    """SELECT doc_id, source FROM documents
      |WHERE (((doc_id % 1000003 + 1000003) % 1000003 * 2654435761 % 1000003 + 1000003) % 1000003) % 1000 <
      |      CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 250 ELSE 600 END""".stripMargin

  // d_token_pack: pack each source's documents (doc_id order) into
  // 2048-token context sequences; report per-sequence doc/token counts.
  private def dTokenPack(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
    graft.operators.Corpus.packSequences(t, "source", "doc_id", "n_tokens", budget = 2048L)
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
  }

  private val dTokenPackSql =
    """WITH t AS (
      | SELECT doc_id, source,
      |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
      | FROM documents),
      |c AS (
      | SELECT doc_id, source, n_tokens,
      |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM t)
      |SELECT source, CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS seq_id,
      | COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      |FROM c GROUP BY source, seq_id""".stripMargin

  // d_rarity: corpus-conditional token-rarity scoring — a surprisal proxy
  // (rare tokens ⇒ high score) without any external model: one corpus-wide
  // token-frequency aggregation, one join back onto the exploded tokens,
  // one per-doc aggregation. Per-token rarity is 64 - (binary digit count
  // of the token's corpus frequency) = 63 - floor(log2(tf)) — INTEGER-exact
  // in both engines (float log would flip floor() at ulp boundaries).
  private def dRarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir).select(col("doc_id"),
      explode(graft.functions.ShingleHash.tokenHashes(col("text"))).as("th"))
    val freq = toks.groupBy(col("th")).agg(count(lit(1)).as("tf"))
    toks.join(freq, "th")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(lit(64) - length(conv(col("tf").cast(StringType), 10, 2))).as("rsum"))
      .select(col("doc_id"), col("n_toks"),
        floor(col("rsum") * 1000 / col("n_toks")).cast(LongType).as("rarity_pm"))
  }

  private val dRaritySql =
    """WITH t AS (
      | SELECT doc_id, u.tok
      | FROM (SELECT doc_id,
      |        list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |       FROM documents), UNNEST(toks) AS u(tok)),
      |f AS (SELECT tok, COUNT(*) AS tf FROM t GROUP BY tok)
      |SELECT doc_id, COUNT(*) AS n_toks,
      | CAST(SUM(64 - length(to_base(tf, 2))) * 1000 // COUNT(*) AS BIGINT) AS rarity_pm
      |FROM t JOIN f USING (tok) GROUP BY doc_id""".stripMargin

  // d_domains: URL domain extraction + per-domain doc frequency (URLs
  // planted deterministically — the raw synthetic text has none).
  private def dDomains(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"), lit(" see http://site"), pmod(col("doc_id"), lit(7)),
      lit(".example.com/page/"), col("doc_id"),
      lit(" and https://mirror"), pmod(col("doc_id"), lit(3)), lit(".example.org/x"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(dirty, lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_urls"))
  }

  private val dDomainsSql =
    """WITH d AS (
      | SELECT doc_id,
      |  text || ' see http://site' || (doc_id % 7) || '.example.com/page/' || doc_id ||
      |  ' and https://mirror' || (doc_id % 3) || '.example.org/x' AS dirty
      | FROM documents),
      |e AS (
      | SELECT doc_id, u.domain
      | FROM d, UNNEST(regexp_extract_all(dirty, 'https?://([A-Za-z0-9.-]+)', 1)) AS u(domain))
      |SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, COUNT(*) AS n_urls
      |FROM e GROUP BY domain""".stripMargin

  // ----------------------------------------------------------- d_line_dedup
  // C4-style line-level boilerplate removal, registered end-to-end: plant a
  // per-source header and a corpus-wide footer, break each doc's sentences
  // onto their own lines, and Dedup.lineDedup must strip exactly the lines
  // shared across >1 documents while reassembling the rest in order. The
  // library groups on the 8-byte line hash (the exchange never carries line
  // text); the oracle groups on the line text itself — identical survivors
  // unless xxhash64 collides (the d_dedup_exact precedent).
  private def dLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.documents(spark, dir).select(col("doc_id"),
      concat(lit("SHARED HEADER "), col("source"), lit("\n"),
        regexp_replace(col("text"), "\\. ", "\n"),
        lit("\nCOMMON FOOTER")).as("dirty"))
    Dedup.lineDedup(dirty, "dirty", "doc_id", maxDocs = 1)
  }

  private val dLineDedupSql =
    """WITH d AS (
      | SELECT doc_id, 'SHARED HEADER ' || source || chr(10) ||
      |   replace(text, '. ', chr(10)) || chr(10) || 'COMMON FOOTER' AS dirty
      | FROM documents),
      |l AS (
      | SELECT doc_id, u.s.line AS line, u.s.pos AS pos
      | FROM d, UNNEST(list_transform(string_split(dirty, chr(10)),
      |   (x, i) -> {'line': x, 'pos': i})) AS u(s)),
      |b AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) > 1),
      |k AS (
      | SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
      | FROM l ANTI JOIN b USING (line) GROUP BY doc_id)
      |SELECT doc_id, COALESCE(clean_text, '') AS clean_text
      |FROM documents LEFT JOIN k USING (doc_id)""".stripMargin

  // ------------------------------------------------------------ d_normalize
  // Unicode canonicalization before hashing (the step that makes "é"
  // composed and "e"+U+0301 hash identically): NFC compose + whitespace
  // collapse + lowercase, all codegen (UnicodeNormalizeExpr). The planted
  // suffix carries DECOMPOSED combining sequences so NFC provably does
  // work — the oracle plants the identical codepoints via chr() and
  // DuckDB's nfc_normalize must agree byte-for-byte.
  private def dNormalize(spark: SparkSession, dir: String): DataFrame = {
    // decomposed: "cafe" + combining acute (U+0301) and "A" + combining
    // ring (U+030A) - NFC must compose both into single codepoints
    val dirty = concat(col("text"), lit(" cafe\u0301 A\u030A"))
    Tables.documents(spark, dir).select(col("doc_id"),
      lower(trim(regexp_replace(
        graft.functions.NormalizeExpr.nfc(dirty), "\\s+", " "))).as("norm_text"))
  }

  private val dNormalizeSql =
    """SELECT doc_id,
      | lower(trim(regexp_replace(
      |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)),
      |  '\s+', ' ', 'g'))) AS norm_text
      |FROM documents""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_normalize", dNormalize, Some(dNormalizeSql)),
    QueryDef("d_line_dedup", dLineDedup, Some(dLineDedupSql)),
    QueryDef("d_pii_scrub", dPiiScrub, Some(dPiiScrubSql)),
    QueryDef("d_repetition", dRepetition, Some(dRepetitionSql)),
    QueryDef("d_contamination", dContamination, Some(dContaminationSql)),
    QueryDef("d_corpus_stats", dCorpusStats, Some(dCorpusStatsSql)),
    QueryDef("d_dedup_exact", dDedupExact, Some(dDedupExactSql)),
    QueryDef("d_cross_dedup", dCrossDedup, Some(dCrossDedupSql)),
    QueryDef("d_cross_neardedup", dCrossNearDedup, Some(dCrossNearDedupSql)),
    QueryDef("d_markup_strip", dMarkupStrip, Some(dMarkupStripSql)),
    QueryDef("d_sentence_split", dSentenceSplit, Some(dSentenceSplitSql)),
    QueryDef("d_token_count", dTokenCount, Some(dTokenCountSql)),
    QueryDef("d_quality", dQuality, Some(dQualitySql)),
    QueryDef("d_quality_model", dQualityModel, Some(dQualityModelSql)),
    QueryDef("d_dsir_sample", dDsirSample, Some(dDsirSampleSql)),
    QueryDef("s_quality_model", sQualityModel, Some(sQualityModelSql)),
    QueryDef("s_semdedup", sSemDedup, Some(sSemDedupSql)),
    QueryDef("d_lang_id", dLangId, Some(dLangIdSql)),
    QueryDef("d_dedup_minhash", dMinhash, Some(dMinhashSql)),
    QueryDef("d_dedup_simhash", dSimhash, None),
    QueryDef("d_dedup_simhash_verified", dSimhashVerified, Some(dSimhashVerifiedSql)),
    QueryDef("d_dedup_ngram", dNgram, Some(dNgramSql)),
    QueryDef("d_dedup_cluster", dDedupCluster, Some(dDedupClusterSql)),
    QueryDef("d_dedup_apply", dDedupApply, Some(dDedupApplySql)),
    QueryDef("d_dedup_keep_best", dDedupKeepBest, Some(dDedupKeepBestSql)),
    QueryDef("d_quality_filter", dQualityFilter, Some(dQualityFilterSql)),
    QueryDef("d_stratified_sample", dStratifiedSample, Some(dStratifiedSampleSql)),
    QueryDef("d_token_pack", dTokenPack, Some(dTokenPackSql)),
    QueryDef("d_domains", dDomains, Some(dDomainsSql)),
    QueryDef("d_rarity", dRarity, Some(dRaritySql)),
    QueryDef("d_dedup_embed", dEmbedDedup, Some(dEmbedDedupSql)),
    QueryDef("d_semdedup", dSemDedup, Some(dSemDedupSql)),
    QueryDef("d_fingerprint", dFingerprint, Some(dFingerprintSql)),
  )
}
