package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ANN / vector-search registry queries (SURVEY.md §2e) over the
  * `embeddings` table — split out of DocumentQueries in r16 (pure
  * mechanical move; registry unchanged): brute force, SQ8/PQ/OPQ/IVF-PQ
  * quantized search, the IVF probe family (in-memory, durable on-disk,
  * appendable, filtered, range, kNN join/graph) and online serving. The
  * shared planted-copy margin fixture makes every approximate family
  * provably equal to brute force on the gate corpus, so one DuckDB
  * brute-force oracle replays them all.
  */
object AnnQueries {

  /** Consumers of [[ivfIndex]]/[[ivfIndexPlanted]] — the single source of
    * truth [[Artifacts]] gates the prebuild on (see
    * DocumentQueries.labelConsumers for the rule).
    */
  val ivfConsumers: Set[String] =
    Set("d_ann_ivf", "d_ann_ivfpq", "d_ann_ivf_disk", "d_ann_append",
      "d_knn_join", "d_ann_range", "d_knn_graph", "s_semdedup",
      "s_ann_serve", "d_hybrid_dense", "s_hybrid_serve")

  /** Consumers of [[pqBooks]] — see [[ivfConsumers]]. */
  val pqConsumers: Set[String] = Set("d_ann_pq", "d_ann_ivfpq")

  // ------------------------------------------------------------- ANN topk
  private def dAnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  private val dAnnBruteSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |s AS (
      | SELECT qid, vec_id AS cid, list_cosine_similarity(qv, embedding) AS cos
      | FROM q, embeddings WHERE vec_id != qid)
      |SELECT qid AS query_id, cid AS corpus_id,
      | CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS BIGINT) AS rk
      |FROM s QUALIFY rk <= 10""".stripMargin

  // --- shared planted-copy margin fixture (the d_dedup_minhash playbook;
  // sq8 took it in r7's first batch, lsh/ivf follow): each query vector
  // (vec_id < 5) gets 10 EXACT copies planted at ids 100000 + qid*10 + j,
  // so the true top-10 per query sit at cos≈1 while the natural background
  // never exceeds ~0.42 (measured at sf0.01 AND sf0.1). The key to
  // promoting the APPROXIMATE families: an exact copy is PROVABLY a
  // candidate in each of them — identical vectors produce identical
  // hyperplane signs (same LSH bucket, before any multi-probe widening),
  // rank cells identically through the IVF coarse quantizer (the copy's
  // assigned cell IS the query's first probe), and encode to identical
  // SQ8/PQ codes. Wherever candidate scoring or the final re-rank is exact
  // cosine, recall of the true top-10 is therefore 1 by construction, the
  // tie at cos=1 breaks by corpus_id asc in both engines, and the output
  // (ranks only — cosines never reach the hash) is replayable in DuckDB by
  // plain brute force.
  private[graft] def annPlanted(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 5)
    val planted = q.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(9))).as("j"))
      .select((lit(100000L) + col("vec_id") * 10 + col("j")).cast(LongType).as("vec_id"),
        col("embedding"))
    e.unionByName(planted)
  }

  private val annMarginSql =
    """WITH p AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5),
      |u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id, embedding FROM p),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |s AS (SELECT qid, vec_id AS cid, list_cosine_similarity(qv, embedding) AS cos
      |      FROM q, u WHERE vec_id != qid)
      |SELECT qid AS query_id, cid AS corpus_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS BIGINT) AS rk
      |FROM s QUALIFY rk <= 10""".stripMargin

  // d_ann_sq8: int8-quantized brute force + exact re-rank — the
  // memory-bandwidth ANN path (codes are 4× smaller than floats; scales
  // cancel in the cosine). Margin-designed oracle: the ~0.58 gap dwarfs
  // the int8 quantization error (~1e-2), so recall through the
  // k×oversample cut is provably 1 and the exact re-rank reproduces the
  // brute-force ranks.
  private def dAnnSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    Similarity.sq8TopK(annPlanted(e), e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // d_ann_pq: product-quantized ANN + exact re-rank — the memory-capacity
  // ANN path (m=8 one-byte codes per 64-dim vector = 32× smaller than
  // float32; queries score candidates via per-query lookup tables, m adds
  // per pair). Promoted to the margin oracle in r7 by DIRECT ADC
  // measurement (stronger than an error-bound argument): on the planted
  // fixture, min ADC over copies vs max ADC over the natural background is
  // 0.730/0.451 at sf0.01 and 0.660/0.473 at sf0.1 — the copies are the
  // global ADC top-10 per query, so they survive ANY top-N cut with
  // N ≥ k, and the exact re-rank reproduces brute-force ranks. DedupSpec
  // pins the ADC separation; the natural-corpus recall@k spec remains.
  private def dAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    Similarity.pqTopK(annPlanted(e), e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, pqBooks(spark, dir))
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // PQ codebooks are trained ONCE per (session, data dir): a
  // content-keyed, sorted training sample + seeded k-means make the books
  // depend on the data alone, not on its partition layout. The
  // offline-train / online-probe split of a production PQ deployment.
  /** Train (or fetch the memoized) PQ codebooks for `dir`'s embeddings. */
  def pqBooks(spark: SparkSession, dir: String): Similarity.PqCodebooks =
    Artifacts.memo(spark, "pq", dir) {
      Similarity.pqTrain(Tables.embeddings(spark, dir), "embedding", m = 8, ksub = 32)
    }

  // d_ann_ivfpq: the production large-corpus layout — IVF cell pruning
  // compounds with PQ byte codes (touch nProbe/nCells of the corpus at m
  // bytes per vector). Both index artifacts come from their caches, so the
  // query times what a serving system times: the probe. Margin oracle
  // (r7): a planted copy sits in the query's first probe cell (identical
  // vectors rank centroids identically) AND above every background ADC
  // score (the measured separation on dAnnPq's comment), so it survives
  // the cell cut and the ADC cut, and the exact re-rank reproduces
  // brute-force ranks.
  private def dAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfPqQuery(ivfIndexPlanted(spark, dir), pqBooks(spark, dir),
      e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // d_ann_opq: OPQ — rotate with the corpus' full-rank PCA basis, then
  // product-quantize the ROTATED space (Similarity.opqTrain/opqTopK; the
  // parametric OPQ composition, closing the r13 verdict gap #3): index
  // bytes follow the variance. The rotation is orthonormal and applied
  // without centering, so cosines are preserved EXACTLY — the planted
  // copies still encode identically to their query (same rotated vector),
  // still top every ADC cut, and the exact re-rank on ORIGINAL vectors
  // reproduces brute-force ranks; the same margin oracle applies.
  private def dAnnOpq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    Similarity.opqTopK(annPlanted(e), e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, opqModel(spark, dir))
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // OPQ model trained ONCE per (session, data dir) — pqBooks' discipline
  // plus a PCA basis from an order-independent fixed-point Gram aggregate,
  // sign-pinned: the model, too, depends on the data alone (DedupSpec
  // trains both on two layouts of the same embeddings).
  /** Train (or fetch the memoized) OPQ model for `dir`'s embeddings. */
  def opqModel(spark: SparkSession, dir: String): Similarity.OpqModel =
    Artifacts.memo(spark, "opq", dir) {
      Similarity.opqTrain(Tables.embeddings(spark, dir), "embedding", m = 8, ksub = 32)
    }

  // The IVF index is built ONCE per (session, data dir) — an offline step;
  // at cluster scale it would be a parquet table partitioned by cell — and
  // the registered query measures what production ANN serving measures: the
  // probe.
  /** Build (or fetch the memoized) IVF index for `dir`'s embeddings table. */
  def ivfIndex(spark: SparkSession, dir: String): Similarity.IvfIndex =
    Artifacts.memo(spark, "ivf", dir) {
      val idx = Similarity.ivfBuild(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        "embedding", "vec_id", nCentroids = 16)
      idx.indexed.count() // registers the persisted RDD inside the build
      idx
    }

  /** The index over the planted-copy margin corpus ([[annPlanted]]) — what
    * the oracle-checked d_ann_ivf probes. Memoized separately: index
    * construction is the offline step either way.
    */
  def ivfIndexPlanted(spark: SparkSession, dir: String): Similarity.IvfIndex =
    Artifacts.memo(spark, "ivfplanted", dir) {
      // A planted copy is identical to its source query, so its cell
      // assignment IS the query's — derive the margin-fixture index from
      // the natural one (same centroids, 50 extra rows riding the
      // already-persisted assignment) instead of paying a second k-means
      // train + full corpus re-assignment.
      val n = ivfIndex(spark, dir)
      val plantedRows = n.indexed.filter(col("corpus_id") < 5)
        .select(col("corpus_id"), col("cv"), col("cell"),
          explode(sequence(lit(0), lit(9))).as("j"))
        .select((lit(100000L) + col("corpus_id") * 10 + col("j"))
          .cast(LongType).as("corpus_id"), col("cv"), col("cell"))
      Similarity.IvfIndex(n.centroids, n.indexed.unionByName(plantedRows))
    }

  // d_ann_ivf: cell scoring is EXACT cosine — the only approximation is
  // coarse-quantizer cell pruning, and a planted copy's assigned cell IS
  // the query's first probe (identical vectors rank the centroids
  // identically), so on the margin fixture the probe's top-10 equals the
  // brute-force top-10 and the oracle replays it (promoted r7).
  private def dAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfQuery(ivfIndexPlanted(spark, dir), e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, nProbe = 4)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // s_ann_serve: ONLINE ANN serving under the hash gate (r15 — the query
  // path of the IVF lifecycle; build/append/rebuild-swap/filter/range/knn
  // already gate, this is the serving face): the margin queries stream
  // through Streams.toAnnServeSink — a real readStream → foreachBatch
  // pipeline probing the SAME planted-margin index d_ann_ivf probes, each
  // trigger's top-10 landing as a replay-idempotent batch_id partition —
  // and the read-back table must equal the batch probe, so the shared
  // brute-force margin oracle replays it. Serving is stateless per query:
  // batch boundaries cannot change results (StreamingSpec pins the
  // two-drain union ≡ the batch probe).
  private def sAnnServe(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndexPlanted(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select("vec_id", "embedding")
    val root = Artifacts.staged(spark, "annserve", dir) { tmp =>
      q.write.mode("overwrite").parquet(tmp + "/in")
    }
    val rep = graft.TempFiles.createDir("graft_annserve")
    val stream = Tables.parquetStream(spark, root + "/in")
    val sq = graft.streaming.Streams.toAnnServeSink(stream, idx,
      "embedding", "vec_id", k = 10, nProbe = 4,
      rep + "/r", rep + "/ckpt")
    sq.processAllAvailable(); sq.stop()
    Tables.parquet(spark, rep + "/r")
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // d_ann_filtered: metadata-predicate vector search over the SAME
  // planted-margin index d_ann_ivf probes — the filter (even corpus ids)
  // applies at query time via a pre-cosine semi join, never at build
  // time. Margin carry-over: exactly 5 of each query's 10 planted copies
  // have even ids (parity of 100000+qid*10+j = parity of j), every copy
  // sits in the query's first probe cell, and the even background never
  // exceeds ~0.42 — so the filtered top-5 is the 5 lowest even copy ids
  // in BOTH engines and DuckDB replays it by brute force over the
  // filtered pairs.
  private def dAnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val allowed = annPlanted(e.select("vec_id", "embedding"))
      .filter(pmod(col("vec_id"), lit(2L)) === 0L).select("vec_id")
    Similarity.ivfQueryFiltered(ivfIndexPlanted(spark, dir),
        e.filter(col("vec_id") < 5), "embedding", "vec_id", allowed,
        k = 5, nProbe = 4)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  private val dAnnFilteredSql =
    """WITH p AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5),
      |u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id, embedding FROM p),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |s AS (SELECT qid, vec_id AS cid, list_cosine_similarity(qv, embedding) AS cos
      |      FROM q, u WHERE vec_id != qid AND vec_id % 2 = 0)
      |SELECT qid AS query_id, cid AS corpus_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS BIGINT) AS rk
      |FROM s QUALIFY rk <= 5""".stripMargin

  // d_ann_lsh: within-bucket scoring is EXACT cosine — the only
  // approximation is bucket candidate generation, and a planted copy
  // shares the query's own bucket before any multi-probe widening
  // (identical hyperplane signs), so on the margin fixture the result
  // equals brute force and the oracle replays it (promoted r7).
  // probeRadius=1 keeps the multi-probe path (each query also probes its
  // nBits Hamming-1 neighbor buckets) under the oracle.
  private def dAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    Similarity.lshTopK(annPlanted(e), e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, nBits = 4, probeRadius = 1)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // d_ann_ivf_disk: the DURABLE serving path — the margin-fixture index is
  // persisted once per (session, data dir) via ivfWrite (a cell-partitioned
  // parquet table + centroid sidecar, the cluster-scale layout where a
  // probe reads only its nProbe cell directories), re-opened with ivfRead,
  // and probed cold. Same margin oracle as d_ann_ivf: the exact-cosine
  // probe over the on-disk cells provably reproduces brute force on the
  // planted fixture. This is what a 100 TB ANN deployment actually runs —
  // the in-memory d_ann_ivf times the hot probe, this times the
  // open-and-probe against the persisted artifact.
  private def ivfDiskPath(spark: SparkSession, dir: String): String =
    Artifacts.staged(spark, "ivfdisk", dir)(Similarity.ivfWrite(ivfIndexPlanted(spark, dir), _))

  private def dAnnIvfDisk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfQuery(Similarity.ivfRead(spark, ivfDiskPath(spark, dir)),
        e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10, nProbe = 4)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // d_ann_append: the GROWING-corpus serving path — the durable index is
  // written from the NATURAL corpus alone, and the margin fixture's
  // planted copies arrive through ivfAppend (the ingest path) instead of
  // the build. Hash-equality against the SAME margin oracle as d_ann_ivf
  // proves appended rows are indistinguishable from built rows to a
  // probe: assignment depends only on the centroid sidecar, so an
  // appended copy lands in its source query's first-probe cell exactly
  // as a built row would. The append runs once per (session, dir) — its
  // idempotence means a re-run appends nothing, which the batch spec
  // pins separately.
  private def ivfAppendPath(spark: SparkSession, dir: String): String =
    Artifacts.staged(spark, "ivfappend", dir) { tmp =>
      // the NATURAL index (no planted rows), persisted to the durable layout
      Similarity.ivfWrite(ivfIndex(spark, dir), tmp)
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      Similarity.ivfAppend(spark, tmp,
        annPlanted(e).filter(col("vec_id") >= 100000L), "embedding", "vec_id")
    }

  private def dAnnAppend(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.ivfQuery(Similarity.ivfRead(spark, ivfAppendPath(spark, dir)),
        e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10, nProbe = 4)
      .select(col("query_id"), col("corpus_id"), col("rk"))
  }

  // ------------------------------------------------------------ d_knn_join
  // Batch kNN JOIN between two corpora (Similarity.knnJoinIndexed — the
  // linkage face of the ANN family, r15): the LEFT corpus is the margin
  // queries remapped into a SEPARATE id space (vec_id + 7e6 — the two-table
  // record-linkage shape, so there is no self-exclusion: a right row
  // identical to a left row is a genuine match), the RIGHT corpus is the
  // planted-margin index the d_ann family probes. Margin carry-over: each
  // left row finds 11 candidates at cos≈1 in its FIRST probe cell (the
  // natural right twin + its 10 planted copies — identical vectors rank
  // the centroids identically), the background never exceeds ~0.42, so
  // the top-10 is the 10 lowest-id identical rows in BOTH engines and
  // DuckDB replays it by brute force over the full cross product.
  private def dKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val left = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    Similarity.knnJoinIndexed(ivfIndexPlanted(spark, dir), left,
        "embedding", "vec_id", k = 10, nProbe = 4)
      .select(col("left_id"), col("right_id"), col("rk"))
  }

  private val dKnnJoinSql =
    """WITH p AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5),
      |u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id, embedding FROM p),
      |q AS (SELECT vec_id + 7000000 AS lid, embedding AS qv
      |      FROM embeddings WHERE vec_id < 5),
      |s AS (SELECT lid, vec_id AS rid, list_cosine_similarity(qv, embedding) AS cos
      |      FROM q, u)
      |SELECT lid AS left_id, rid AS right_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS BIGINT) AS rk
      |FROM s QUALIFY rk <= 10""".stripMargin

  // ------------------------------------------------------------ d_ann_range
  // RANGE search (FAISS range_search, r15): all neighbors with cos >= tau
  // over the planted-margin index — the radius face of the ANN family,
  // where top-k's fixed k is the wrong contract. Margin carry-over: each
  // natural query's 10 planted copies sit at cos ~= 1 in its FIRST probe
  // cell and the background never exceeds ~0.42, so the tau = 0.8 range
  // set is exactly the 10 copies in BOTH engines and DuckDB replays it by
  // brute force — SET equality, no rank column, so even the ulp-scale
  // engine difference in the cosine value itself is outside the hash.
  private def dAnnRange(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.rangeSearch(ivfIndexPlanted(spark, dir),
        e.filter(col("vec_id") < 5), "embedding", "vec_id",
        tau = 0.8, nProbe = 4)
      .select(col("query_id"), col("corpus_id"))
  }

  private val dAnnRangeSql =
    """WITH p AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5),
      |u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id, embedding FROM p),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5)
      |SELECT qid AS query_id, vec_id AS corpus_id
      |FROM q, u
      |WHERE vec_id != qid AND list_cosine_similarity(qv, embedding) >= 0.8""".stripMargin

  // ------------------------------------------------------------ d_knn_graph
  // k-NN GRAPH (r15): each node's 10 nearest OTHER vectors within ONE
  // corpus — the self-join face of the ANN family (SemDeDup / SSL-
  // prototypes / graph clustering build this first). Query side restricted
  // to the planted FAMILY nodes (the 5 naturals + their 50 copies, ids
  // 100000 + q*10 + j): each family node's true top-10 is its 10
  // identical-vector twins (self excluded), all in its first probe cell,
  // with the twin cosines EXACTLY equal per engine (identical input bits,
  // identical float ops) so the rank order inside the family is the dst-id
  // ascending tie-break in both engines and DuckDB replays (src, dst, rk)
  // by brute force over the family x corpus product.
  private def dKnnGraph(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(ivfIndexPlanted(spark, dir), k = 10, nProbe = 4,
        nodes = Some(col("corpus_id") < 5 ||
          (col("corpus_id") >= 100000L && col("corpus_id") < 100050L)))
      .select(col("src"), col("dst"), col("rk"))

  private val dKnnGraphSql =
    """WITH p AS (
      |  SELECT 100000 + vec_id*10 + j AS vec_id, embedding
      |  FROM embeddings, generate_series(0,9) AS t(j) WHERE vec_id < 5),
      |u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id, embedding FROM p),
      |fam AS (SELECT vec_id AS src, embedding AS qv FROM u
      |        WHERE src < 5 OR (src >= 100000 AND src < 100050)),
      |s AS (SELECT src, vec_id AS dst,
      |        list_cosine_similarity(qv, embedding) AS cos
      |      FROM fam, u WHERE vec_id != src)
      |SELECT src, dst,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS BIGINT) AS rk
      |FROM s QUALIFY rk <= 10""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_ann_brute", dAnnBrute, Some(dAnnBruteSql)),
    QueryDef("d_ann_lsh", dAnnLsh, Some(annMarginSql)),
    QueryDef("d_ann_sq8", dAnnSq8, Some(annMarginSql)),
    QueryDef("d_ann_pq", dAnnPq, Some(annMarginSql)),
    QueryDef("d_ann_opq", dAnnOpq, Some(annMarginSql)),
    QueryDef("d_ann_ivfpq", dAnnIvfPq, Some(annMarginSql)),
    QueryDef("d_ann_ivf", dAnnIvf, Some(annMarginSql)),
    QueryDef("s_ann_serve", sAnnServe, Some(annMarginSql)),
    QueryDef("d_ann_filtered", dAnnFiltered, Some(dAnnFilteredSql)),
    QueryDef("d_ann_ivf_disk", dAnnIvfDisk, Some(annMarginSql)),
    QueryDef("d_ann_append", dAnnAppend, Some(annMarginSql)),
    QueryDef("d_knn_join", dKnnJoin, Some(dKnnJoinSql)),
    QueryDef("d_ann_range", dAnnRange, Some(dAnnRangeSql)),
    QueryDef("d_knn_graph", dKnnGraph, Some(dKnnGraphSql))
  )
}
