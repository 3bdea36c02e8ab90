package graft.queries

import graft.Tables
import graft.operators.{Corpus, Retrieval}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval surfaces (r15 + r16): BM25 ranking, lexical and
  * dense⊕lexical hybrid reciprocal-rank fusion (batch and online-serving
  * form), PMI co-occurrence statistics, and exact context-window packing —
  * the corpus-search and sequence-composition steps of an LLM data
  * pipeline, each with an exact DuckDB oracle.
  *
  * Exactness per SURVEY §6: ranking scores are IEEE double `+ - * /` chains
  * over integer aggregates with the SAME literals and operation tree on
  * both engines (derived constants like k1·b are computed once in Scala and
  * INTERPOLATED into the SQL — 1.2*0.75 re-derived in SQL rounds
  * differently from the shared literal); cross-term sums fold in fixed
  * order, never through a float SUM aggregate. Hashes carry only integer
  * and string columns.
  */
object RetrievalQueries {

  // shared tokenizer fragment (the d_tfidf twin)
  private val tokSql =
    """tok AS (
      | SELECT doc_id, t AS token FROM (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
      |  FROM documents)
      | WHERE length(t) >= 3)""".stripMargin

  // BM25 constants: computed ONCE here, interpolated into both engines.
  private val K1 = 1.2
  private val B = 0.75
  private val K1p1 = K1 + 1.0
  private val K1omb = K1 * (1.0 - B)
  private val K1b = K1 * B

  // Query terms: df ranks 11..13 — mid-frequency on the synthetic corpus's
  // 30-token template vocabulary (measured: df dense around rank 10-20 at
  // every SF, ties broken by token text).
  private val QOffset = 10
  private val QTerms = 3
  private val qranks = (QOffset + 1) to (QOffset + QTerms)

  private val lexBaseSql =
    s"""$tokSql,
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |tf AS (
       | SELECT doc_id, token, tf,
       |  CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
       | FROM tf0),
       |docfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(tf) AS total_tok FROM tf0),
       |qt AS (
       | SELECT token, df, qrank FROM (
       |  SELECT token, df,
       |   ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS qrank
       |  FROM docfreq) r
       | WHERE qrank > $QOffset AND qrank <= ${QOffset + QTerms})""".stripMargin

  // per-(doc, query-term) BM25 contribution — the EXACT operation tree of
  // Retrieval.bm25PerTerm with the Scala-computed coefficients inlined
  private val bm25ScoredSql =
    s"""bscored AS (
       | SELECT tf.doc_id, qt.qrank, tf.tf, tf.dl,
       |  (((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |   * ((CAST(tf AS DOUBLE) * CAST('$K1p1' AS DOUBLE))
       |      / ((CAST(tf AS DOUBLE) + CAST('$K1omb' AS DOUBLE))
       |         + (CAST('$K1b' AS DOUBLE) * CAST(dl AS DOUBLE))
       |           / (CAST(total_tok AS DOUBLE) / n_docs)))) AS s
       | FROM tf JOIN qt USING (token) CROSS JOIN tot)""".stripMargin

  private def pivotSql(src: String, name: String): String = {
    val cols = qranks.map(q =>
      s"MAX(CASE WHEN qrank = $q THEN s END) AS s_$q, " +
      s"MAX(CASE WHEN qrank = $q THEN tf END) AS tf0_$q").mkString(",\n  ")
    val score = qranks.map(q => s"COALESCE(s_$q, CAST(0 AS DOUBLE))")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""${name}0 AS (
       | SELECT doc_id,
       |  $cols,
       |  MAX(dl) AS dl
       | FROM $src GROUP BY 1),
       |$name AS (
       | SELECT doc_id,
       |  ${qranks.map(q => s"CAST(COALESCE(tf0_$q, 0) AS BIGINT) AS tf_$q").mkString(", ")},
       |  dl, $score AS score
       | FROM ${name}0)""".stripMargin
  }

  // ------------------------------------------------------------- d_bm25
  // Okapi BM25 top-20 for the corpus-derived 3-term query. The idf ships in
  // its log-free odds form (Retrieval.bm25PerTerm logIdf=false) so the
  // entire score is a replayable double chain; ranks and the integer stats
  // (per-term tf, dl) reach the hash, the score itself never does.
  private def dBm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
        nTerms = QTerms, offset = QOffset, k = 20, k1 = K1, b = B,
        logIdf = false)
      .select(col("doc_id") +: qranks.map(q => col(s"tf_$q")) :+ col("dl") :+ col("rk"): _*)

  private val dBm25Sql =
    s"""WITH $lexBaseSql,
       |$bm25ScoredSql,
       |${pivotSql("bscored", "bpiv")}
       |SELECT doc_id, ${qranks.map(q => s"tf_$q").mkString(", ")}, dl,
       | CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |FROM bpiv QUALIFY rk <= 20""".stripMargin

  // ------------------------------------------------------- d_rrf_fusion
  // Hybrid retrieval: BM25 top-50 ⊕ query-likelihood-LM top-50 via
  // reciprocal-rank fusion (k=60). Both rankers run over the shared lexical
  // statistics; the fusion arithmetic is two IEEE divisions and one add per
  // document, over EXACT integer ranks — absent-from-list contributes 0.
  private def dRrfFusion(spark: SparkSession, dir: String): DataFrame =
    Retrieval.hybridTopK(Tables.documents(spark, dir), "doc_id", "text",
        nTerms = QTerms, offset = QOffset, listK = 50, k = 20, kRrf = 60.0,
        k1 = K1, b = B, logIdf = false)
      .select("doc_id", "r_a", "r_b", "rk")

  private val dRrfFusionSql =
    s"""WITH $lexBaseSql,
       |$bm25ScoredSql,
       |qscored AS (
       | SELECT tf.doc_id, qt.qrank, tf.tf, tf.dl,
       |  (CAST(tf AS DOUBLE) / dl) AS s
       | FROM tf JOIN qt USING (token)),
       |${pivotSql("bscored", "bpiv")},
       |${pivotSql("qscored", "qpiv")},
       |ra AS (
       | SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_a
       | FROM bpiv QUALIFY r_a <= 50),
       |rb AS (
       | SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_b
       | FROM qpiv QUALIFY r_b <= 50),
       |fused AS (
       | SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
       |  CAST(COALESCE(r_a, 0) AS BIGINT) AS r_a,
       |  CAST(COALESCE(r_b, 0) AS BIGINT) AS r_b,
       |  ((CASE WHEN r_a IS NULL THEN CAST(0 AS DOUBLE)
       |         ELSE 1.0 / (60.0 + CAST(r_a AS DOUBLE)) END)
       |   + (CASE WHEN r_b IS NULL THEN CAST(0 AS DOUBLE)
       |           ELSE 1.0 / (60.0 + CAST(r_b AS DOUBLE)) END)) AS score
       | FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
       |SELECT doc_id, r_a, r_b,
       | CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |FROM fused QUALIFY rk <= 20""".stripMargin

  // --------------------------------------------------- d_hybrid_dense
  // Dense⊕lexical HYBRID retrieval (r16) — the actual RAG/curation
  // retrieval shape (d_rrf_fusion fuses two LEXICAL rankers; this fuses
  // lexical BM25 with IVF ANN ranks). Both-modality planted margins make
  // the IVF probe provably equal to brute force so DuckDB can replay BOTH
  // rank lists exactly:
  //  * the 10 planted rows at ids 100000..100009 are simultaneously the
  //    dense margin fixture (exact copies of query vector 0, carried by
  //    the SAME planted index d_ann_ivf probes: cos=1 beats every
  //    background cosine and the copies sit in the query's first probe
  //    cell, so IVF top-10 == brute-force top-10 == ids ascending) and
  //    lexically loaded documents (texts built from the base corpus's
  //    df-rank-11..13 query terms, tf_11 = j+1 — deterministic BM25
  //    scores in both engines);
  //  * query-term SELECTION runs over the BASE corpus's df ranking (the
  //    planted texts would otherwise shift the ranks that choose them —
  //    circular), while BM25 SCORING uses the union corpus's df/totals —
  //    the incremental-indexing production shape;
  //  * the fusion is d_rrf_fusion's exact arithmetic: integer ranks, two
  //    IEEE divisions, fixed-order add. Hash carries doc_id + 3 ranks.
  private def dHybridDense(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // The planted texts derive IN-PLAN from the base df ranking (r16,
    // guide §2.4): the old 3-row collect() ran a full corpus
    // tokenize+aggregate as its OWN job before the main plan tokenized
    // the corpus again — two corpus passes per invocation. Pivoting the
    // QTerms=3 query terms into one broadcast row keeps everything in one
    // action, where ReuseExchange runs the (doc_id, token) aggregate once.
    // Token content is unchanged ("t1 … t1 t2 t3", j+1 copies of t1), so
    // tf/df/scores — and the oracle hash — are identical.
    val qt = Retrieval.queryTermsByDf(
      Retrieval.lexStats(base, "doc_id", "text").df, QTerms, QOffset)
    // the pivot below hardcodes one slot per query term — a QTerms change
    // must fail here at build time, not silently drop terms (r16 ADVICE)
    require(QTerms == 3,
      s"dHybridDense's planted-text pivot carries exactly 3 term slots; QTerms=$QTerms")
    val t = qt.groupBy().agg(
      max(when(col("qrank") === QOffset + 1, col("token"))).as("t1"),
      max(when(col("qrank") === QOffset + 2, col("token"))).as("t2"),
      max(when(col("qrank") === QOffset + 3, col("token"))).as("t3"))
    val planted = spark.range(0, 10).crossJoin(broadcast(t))
      .select((lit(100000L) + col("id")).as("doc_id"),
        concat_ws(" ", flatten(array(
          array_repeat(col("t1"), (col("id") + 1).cast("int")),
          array(col("t2"), col("t3"))))).as("text"))
    // the planted rows ride as an extendLexStats DELTA (r16): only the 10
    // new docs tokenize, the base corpus tokenizes once — same integer
    // aggregates as a from-scratch union pass (spec-pinned), same hash
    Retrieval.hybridDenseTopK(base, "doc_id", "text",
        AnnQueries.ivfIndexPlanted(spark, dir),
        Tables.embeddings(spark, dir).filter(col("vec_id") === 0L)
          .select("vec_id", "embedding"),
        "embedding", "vec_id",
        nTerms = QTerms, offset = QOffset, listKLex = 50, listKDense = 10,
        k = 20, kRrf = 60.0, nProbe = 4, k1 = K1, b = B, logIdf = false,
        extraDocs = Some(planted))
  }

  // the lexical half of the hybrid oracles (shared by d_hybrid_dense and
  // s_hybrid_serve): base-corpus term selection, planted both-modality
  // texts, union stats, BM25 pivot, top-50 rank list `lexr`
  private val hybridLexSql =
    s"""tokb AS (
       | SELECT doc_id, t AS token FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
       |  FROM documents)
       | WHERE length(t) >= 3),
       |dfb AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokb GROUP BY 1),
       |qt AS (
       | SELECT token, qrank FROM (
       |  SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS qrank
       |  FROM dfb) r
       | WHERE qrank > $QOffset AND qrank <= ${QOffset + QTerms}),
       |pl AS (
       | SELECT 100000 + j AS doc_id,
       |  repeat((SELECT token FROM qt WHERE qrank = ${QOffset + 1}) || ' ', j + 1)
       |   || (SELECT token FROM qt WHERE qrank = ${QOffset + 2}) || ' '
       |   || (SELECT token FROM qt WHERE qrank = ${QOffset + 3}) AS text
       | FROM generate_series(0, 9) AS g(j)),
       |u AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id, text FROM pl),
       |tok AS (
       | SELECT doc_id, t AS token FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
       |  FROM u)
       | WHERE length(t) >= 3),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |tf AS (
       | SELECT doc_id, token, tf,
       |  CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
       | FROM tf0),
       |docfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(tf) AS total_tok FROM tf0),
       |qt2 AS (SELECT qt.token, qt.qrank, docfreq.df FROM qt JOIN docfreq USING (token)),
       |bscored AS (
       | SELECT tf.doc_id, qt2.qrank, tf.tf, tf.dl,
       |  (((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |   * ((CAST(tf AS DOUBLE) * CAST('$K1p1' AS DOUBLE))
       |      / ((CAST(tf AS DOUBLE) + CAST('$K1omb' AS DOUBLE))
       |         + (CAST('$K1b' AS DOUBLE) * CAST(dl AS DOUBLE))
       |           / (CAST(total_tok AS DOUBLE) / n_docs)))) AS s
       | FROM tf JOIN qt2 USING (token) CROSS JOIN tot),
       |${pivotSql("bscored", "bpiv")},
       |lexr AS (
       | SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_a
       | FROM bpiv QUALIFY r_a <= 50)""".stripMargin

  // NOTE: hybridLexSql is FINISHED SQL whose `||` concats a second
  // stripMargin would mangle (the r4 gotcha) — concatenate, don't
  // interpolate into a stripMargin literal
  private val dHybridDenseSql =
    "WITH " + hybridLexSql + ",\n" +
    s"""pco AS (
       | SELECT 100000 + vec_id*10 + j AS vid, embedding
       | FROM embeddings, generate_series(0, 9) AS h(j) WHERE vec_id < 5),
       |uv AS (
       | SELECT vec_id AS vid, embedding FROM embeddings
       | UNION ALL SELECT vid, embedding FROM pco),
       |dq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 0),
       |ds AS (
       | SELECT vid AS cid, list_cosine_similarity(qv, embedding) AS cos
       | FROM dq, uv WHERE vid != qid),
       |denser AS (
       | SELECT cid AS doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, cid ASC) AS BIGINT) AS r_b
       | FROM ds QUALIFY r_b <= 10),
       |fused AS (
       | SELECT COALESCE(lexr.doc_id, denser.doc_id) AS doc_id,
       |  CAST(COALESCE(r_a, 0) AS BIGINT) AS r_a,
       |  CAST(COALESCE(r_b, 0) AS BIGINT) AS r_b,
       |  ((CASE WHEN r_a IS NULL THEN CAST(0 AS DOUBLE)
       |         ELSE 1.0 / (60.0 + CAST(r_a AS DOUBLE)) END)
       |   + (CASE WHEN r_b IS NULL THEN CAST(0 AS DOUBLE)
       |           ELSE 1.0 / (60.0 + CAST(r_b AS DOUBLE)) END)) AS score
       | FROM lexr FULL OUTER JOIN denser ON lexr.doc_id = denser.doc_id)
       |SELECT doc_id, r_a, r_b,
       | CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |FROM fused QUALIFY rk <= 20""".stripMargin

  // --------------------------------------------------- s_hybrid_serve
  // ONLINE hybrid retrieval serving (r16 stretch) — the streaming face of
  // d_hybrid_dense: the five margin query vectors stream through
  // Streams.toHybridServeSink, each micro-batch probing the SAME durable
  // planted IVF index (dense top-10 per query — every qid's 10 planted
  // copies sit in its first probe cell at cos=1, so IVF == brute force
  // per query) and RRF-fusing against the STATIC lexical BM25 top-50
  // artifact (the offline half, localCheckpointed once). Serving is
  // stateless per query → batch boundaries cannot change results
  // (StreamingSpec pins two-drain == batch fusion); results land as
  // replay-idempotent batch_id partitions. The oracle replays BOTH halves
  // brute-force per query and fuses with the same exact-rank arithmetic.
  /** The static lexical artifact of the hybrid pair — the same union
    * corpus + ranking d_hybrid_dense's lexical leg computes.
    */
  private def hybridLexList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val baseStats = Retrieval.lexStats(base, "doc_id", "text")
    val terms = Retrieval.queryTermsByDf(baseStats.df, QTerms, QOffset)
      .orderBy("qrank").select("token").as[String].collect() // 3 rows, bounded
    val planted = (0 until 10).map { j =>
      (100000L + j, (Seq.fill(j + 1)(terms(0)) ++ terms.drop(1)).mkString(" "))
    }.toDF("doc_id", "text")
    // delta-extend the base stats (extendLexStats): one base tokenize pass
    val stats = Retrieval.extendLexStats(baseStats, planted, "doc_id", "text")
    val qterms = Retrieval.queryTermsByDf(baseStats.df, QTerms, QOffset)
      .select(col("token"), col("qrank")).join(stats.df, "token")
    Retrieval.topK(Retrieval.fuseFixedOrder(
        Retrieval.bm25PerTerm(stats, qterms, K1, B, logIdf = false), qranks), 50)
      .select(col("doc_id"), col("rk"))
  }

  // the offline lexical artifact: 50 rows, built ONCE per (JVM, dir) and
  // staged to disk (the cachedArtifact pattern — parquet can't be
  // reclaimed like localCheckpoint blocks, the r11 prebuild gotcha), so
  // serving times the probe+fusion, not the offline corpus ranking.
  // Declared in Artifacts: harnesses prebuild it as its own
  // `s_hybrid_serve_build` line item (the d_ann_ivf_build precedent —
  // offline cost must still be visible in the total). Consumer set lives HERE, next to the artifact
  // accessor (single source of truth, like AnnQueries.ivfConsumers).
  val hybridServeConsumers: Set[String] = Set("s_hybrid_serve")

  /** Build (or reuse) the staged lexical rank-list artifact; returns its
    * staging root. Memoized per (JVM, dir) by cachedArtifact.
    */
  def hybridServePrebuild(spark: SparkSession, dir: String): String =
    SourceQueries.cachedArtifact("hybridlex", dir) { tmp =>
      hybridLexList(spark, dir).write.mode("overwrite").parquet(tmp + "/lex")
    }

  private def sHybridServe(spark: SparkSession, dir: String): DataFrame = {
    val idx = AnnQueries.ivfIndexPlanted(spark, dir)
    val lexRoot = hybridServePrebuild(spark, dir)
    val lex = spark.read.parquet(lexRoot + "/lex")
    val root = SourceQueries.cachedArtifact("hybridserve", dir) { tmp =>
      Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
        .select("vec_id", "embedding").write.mode("overwrite").parquet(tmp + "/in")
    }
    val rep = java.nio.file.Files.createTempDirectory("graft_hybridserve")
    graft.TempFiles.cleanupAtExit(rep)
    val stream = spark.readStream
      .schema(spark.read.parquet(root + "/in").schema).parquet(root + "/in")
    val q = graft.streaming.Streams.toHybridServeSink(stream, idx,
      "embedding", "vec_id", lex, listKDense = 10, nProbe = 4,
      kRrf = 60.0, k = 20, rep.toString + "/r", rep.toString + "/ckpt")
    q.processAllAvailable(); q.stop()
    spark.read.parquet(rep.toString + "/r")
      .select(col("query_id"), col("doc_id"), col("r_a"), col("r_b"), col("rk"))
  }

  // same concat rule as dHybridDenseSql: hybridLexSql is finished SQL
  private val sHybridServeSql =
    "WITH " + hybridLexSql + ",\n" +
    s"""pco AS (
       | SELECT 100000 + vec_id*10 + j AS vid, embedding
       | FROM embeddings, generate_series(0, 9) AS h(j) WHERE vec_id < 5),
       |uv AS (
       | SELECT vec_id AS vid, embedding FROM embeddings
       | UNION ALL SELECT vid, embedding FROM pco),
       |dq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |ds AS (
       | SELECT qid, vid AS cid, list_cosine_similarity(qv, embedding) AS cos
       | FROM dq, uv WHERE vid != qid),
       |denser AS (
       | SELECT qid, cid AS doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS BIGINT) AS r_b
       | FROM ds QUALIFY r_b <= 10),
       |lexq AS (
       | SELECT q.qid, lexr.doc_id, lexr.r_a
       | FROM (SELECT DISTINCT qid FROM dq) q CROSS JOIN lexr),
       |fused AS (
       | SELECT COALESCE(lexq.qid, denser.qid) AS query_id,
       |  COALESCE(lexq.doc_id, denser.doc_id) AS doc_id,
       |  CAST(COALESCE(r_a, 0) AS BIGINT) AS r_a,
       |  CAST(COALESCE(r_b, 0) AS BIGINT) AS r_b,
       |  ((CASE WHEN r_a IS NULL THEN CAST(0 AS DOUBLE)
       |         ELSE 1.0 / (60.0 + CAST(r_a AS DOUBLE)) END)
       |   + (CASE WHEN r_b IS NULL THEN CAST(0 AS DOUBLE)
       |           ELSE 1.0 / (60.0 + CAST(r_b AS DOUBLE)) END)) AS score
       | FROM lexq FULL OUTER JOIN denser
       |   ON lexq.qid = denser.qid AND lexq.doc_id = denser.doc_id)
       |SELECT query_id, doc_id, r_a, r_b,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
       |FROM fused QUALIFY rk <= 20""".stripMargin

  // ----------------------------------------------------- d_cooccur_pmi
  // Top-30 within-document co-occurring pairs over the 16 most
  // document-frequent tokens, ranked by the PMI argument
  // (c_xy·N)/(c_x·c_y) — log is monotone, so the rational argument ranks
  // identically and replays as one double multiply/divide chain. Integer
  // counts and ranks reach the hash.
  private def dCooccurPmi(spark: SparkSession, dir: String): DataFrame =
    Corpus.pmiTopPairs(Tables.documents(spark, dir), "doc_id", "text",
      vocabSize = 16, k = 30)

  private val dCooccurPmiSql =
    s"""WITH $tokSql,
       |dtok AS (SELECT DISTINCT doc_id, token FROM tok),
       |docfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM dtok GROUP BY 1),
       |vocab AS (
       | SELECT token, df FROM (
       |  SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS vrk
       |  FROM docfreq) r
       | WHERE vrk <= 16),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dtok),
       |keep AS (SELECT doc_id, dtok.token FROM dtok JOIN vocab USING (token)),
       |pairs AS (
       | SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS c_xy
       | FROM keep a JOIN keep b
       |   ON a.doc_id = b.doc_id AND a.token < b.token
       | GROUP BY 1, 2),
       |m AS (
       | SELECT tok_a, tok_b, c_xy, va.df AS c_x, vb.df AS c_y,
       |  ((CAST(c_xy AS DOUBLE) * n_docs) / (CAST(va.df AS DOUBLE) * vb.df)) AS arg
       | FROM pairs
       | JOIN vocab va ON va.token = tok_a
       | JOIN vocab vb ON vb.token = tok_b
       | CROSS JOIN nd)
       |SELECT tok_a, tok_b, c_xy, c_x, c_y,
       | CAST(ROW_NUMBER() OVER (ORDER BY arg DESC, tok_a ASC, tok_b ASC) AS BIGINT) AS rk
       |FROM m QUALIFY rk <= 30""".stripMargin

  // ---------------------------------------------------- d_pack_chunks
  // Exact context-window tiling at 512 tokens per sequence (per source, in
  // doc_id order): straddling documents SPLIT across windows, each output
  // row one (sequence, document) slice with doc_off / seq_off / take_n.
  // Complements d_token_pack's bin-assignment view; pure integer
  // arithmetic, long division — replayable at any precision.
  private def dPackChunks(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
    Corpus.packChunks(t, "source", "doc_id", "n_tokens", budget = 512L)
  }

  private val dPackChunksSql =
    """WITH t AS (
      | SELECT doc_id, source,
      |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
      | FROM documents),
      |c AS (
      | SELECT doc_id, source, n_tokens,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      | FROM t WHERE n_tokens > 0),
      |e AS (
      | SELECT source, doc_id, cum, cum - n_tokens AS strt,
      |  unnest(generate_series((cum - n_tokens) // 512, (cum - 1) // 512)) AS seq_id
      | FROM c)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
      | CAST(GREATEST(strt, seq_id * 512) - strt AS BIGINT) AS doc_off,
      | CAST(GREATEST(strt, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_off,
      | CAST(LEAST(cum, (seq_id + 1) * 512) - GREATEST(strt, seq_id * 512) AS BIGINT) AS take_n
      |FROM e""".stripMargin

  // ------------------------------------------------------------- s_pack
  // CONTINUOUS sequence packing under the hash gate: the staged corpus
  // streams through Streams.packStream (stateful flatMapGroupsWithState —
  // the open context window rides keyed state) into a parquet sink, one
  // deterministic drain (all staged files in one batch, per-source doc_id
  // order inside it), and the final table must equal the BATCH tiling —
  // the oracle is d_pack_chunks' SQL verbatim. Cross-batch carry is pinned
  // separately in StreamingSpec's two-drain parity test.
  private def sPack(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val in = SourceQueries.cachedArtifact("packin", dir) { out =>
      t.write.mode("overwrite").parquet(out)
    }
    val rep = java.nio.file.Files.createTempDirectory("graft_packgate")
    graft.TempFiles.cleanupAtExit(rep)
    implicit val s: SparkSession = spark
    // key cardinality = #sources (single digits): start the stateful query
    // at 8 state partitions — per-trigger store IO scales with partition
    // count, not keys (Streams.packStream's sizing note; measured 2x)
    graft.streaming.Streams.withShufflePartitions(spark, 8) {
      val stream = spark.readStream
        .schema(spark.read.parquet(in).schema).parquet(in)
      val q = graft.streaming.Streams.packStream(stream, budget = 512L)
        .toDF()
        .writeStream.format("parquet").outputMode("append")
        .option("path", rep.toString + "/r")
        .option("checkpointLocation", rep.toString + "/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
    }
    spark.read.parquet(rep.toString + "/r")
      .select("source", "seq_id", "doc_id", "doc_off", "seq_off", "take_n")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_bm25", dBm25, Some(dBm25Sql)),
    QueryDef("d_rrf_fusion", dRrfFusion, Some(dRrfFusionSql)),
    QueryDef("d_hybrid_dense", dHybridDense, Some(dHybridDenseSql)),
    QueryDef("s_hybrid_serve", sHybridServe, Some(sHybridServeSql)),
    QueryDef("d_cooccur_pmi", dCooccurPmi, Some(dCooccurPmiSql)),
    QueryDef("d_pack_chunks", dPackChunks, Some(dPackChunksSql)),
    QueryDef("s_pack", sPack, Some(dPackChunksSql))
  )
}
