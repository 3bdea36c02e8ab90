package graft.operators

import graft.Checkpoints
import graft.functions.VectorFunctions._
import graft.functions.VectorExprs.cosineSim
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2e).
  *
  * `bruteForceTopK` is the exact baseline: a broadcast of the (small) query
  * set against the full corpus — one pass, no corpus shuffle, linear in
  * |corpus|×|queries|. `lshTopK` is the scale path: corpus and queries are
  * bucketed by random-hyperplane signs so each query only scores its bucket;
  * recall is tunable via `nBits` (fewer bits → bigger buckets → higher
  * recall, more compute). `ivfBuild`/`ivfQuery` split the inverted-file
  * index lifecycle the way a production ANN deployment does: index
  * construction is an offline pass, probing is cheap and repeatable.
  *
  * All three rank tails go through [[graft.plans.TopK.perGroup]]: a
  * `row_number().over(Window.partitionBy(query_id))` tail would shuffle and
  * fully sort EVERY scored (query, candidate) pair — |corpus|×|queries| rows
  * for brute force — whereas the TopKPerGroup operator bounds each input
  * partition to k rows per query map-side, so the exchange carries at most
  * k×|queries| rows and the rank column is a window over that survivor set.
  * Without GraftExtensions installed, perGroup is that plain window.
  */
object Similarity {
  // PRECONDITION shared by every ANN path here: queries and corpus draw
  // their ids from ONE id space (the usual probe-the-corpus-with-its-own-
  // members shape). Self-matches are excluded with corpus_id =!= query_id,
  // so a query table whose ids numerically collide with UNRELATED corpus
  // ids would silently lose those candidates — remap query ids (e.g.
  // negate) before probing with a foreign id space. Null ids are not
  // supported (the inequality drops the pair).


  /** Exact per-query top-k + rank over pre-scored candidates
    * (query_id, corpus_id, cos). See class doc for why this is not a plain
    * window.
    */
  private def rankTail(scored: DataFrame, k: Int): DataFrame = {
    val survivors = TopK.perGroup(scored, Seq("query_id"),
      Seq(TopK.desc("cos"), TopK.asc("corpus_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id").asc)
    survivors.withColumn("rk", row_number().over(w).cast(LongType))
  }

  /** Exact cosine top-k for each query vector. `queries` is expected to be
    * broadcast-sized (the common "probe a corpus" shape); the corpus is
    * never shuffled — scores compute map-side and only (query, k) survivors
    * cross the wire for the final per-query top-k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), cosineSim(col("qv"), col("cv")).as("cos"))
    rankTail(scored, k)
  }

  /** Quantized exact-rerank top-k: brute-force scoring runs over int8
    * codes (Sq8EncodeExpr — 4× less memory traffic than float32, integer
    * multiply-adds, quantization scales cancel in the cosine), the top
    * `k × oversample` survivors per query come back through TopKPerGroup,
    * and only those survivors are re-ranked by exact float cosine. The
    * exchange is bounded to k×oversample rows per query (floats ride along
    * only on those survivor rows) — the memory-bandwidth shape for
    * scanning an embedding corpus where the hot loop should touch one
    * byte, not four, per dimension. Recall@k vs the float brute force is
    * bounded in DedupSpec (sq8TopK test).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              oversample: Int = 4): DataFrame = {
    import graft.functions.VectorExprs.{sq8Cosine, sq8Encode}
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      sq8Encode(col(vecCol)).as("ccodes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sq8Encode(col(vecCol)).as("qcodes"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cv"), col("qv"),
        sq8Cosine(col("qcodes"), col("ccodes")).as("qcos"))
    val candidates = TopK.perGroup(scored, Seq("query_id"),
      Seq(TopK.desc("qcos"), TopK.asc("corpus_id")), k * oversample)
    exactRerank(candidates, k)
  }

  /** Exact-cosine re-rank of a bounded candidate set carrying (query_id,
    * corpus_id, qv, cv): the shared tail of every quantized ANN path —
    * candidates are ≤ k×oversample per query by construction, so the
    * window sorts a bounded survivor set, never the corpus.
    */
  private def exactRerank(candidates: DataFrame, k: Int): DataFrame =
    rankTail(candidates.select(col("query_id"), col("corpus_id"),
      cosineSim(col("qv"), col("cv")).as("cos")), k)

  // ------------------------------------------------------------------- PQ

  /** Trained product-quantization codebooks: `m` subspace codebooks ×
    * `ksub` centroids × (dim/m) sub-dimensions, plus the per-centroid
    * squared norms the ADC cosine needs (index-level constants). Like
    * [[IvfIndex]], this is the offline artifact of the index lifecycle —
    * train once, encode/probe many times.
    */
  final case class PqCodebooks(books: Seq[Seq[Seq[Double]]]) {
    val m: Int = books.length
    val ksub: Int = books.map(_.length).max
    /** flat m×ksub table: slot mi·ksub + c = ‖books(mi)(c)‖² */
    val normSq: Seq[Double] = {
      val out = new Array[Double](m * ksub)
      for (mi <- 0 until m; c <- books(mi).indices)
        out(mi * ksub + c) = books(mi)(c).map(x => x * x).sum
      out.toSeq
    }
  }

  /** Train PQ codebooks on a bounded driver-side sample ([[trainSample]],
    * keyed by the vector itself): split each sampled vector into `m`
    * contiguous subvectors and run seeded k-means per subspace. A subspace
    * codebook needs ~100 points per centroid, so the sample is bounded by
    * construction regardless of corpus size.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
              trainTarget: Int = 1600): PqCodebooks = {
    val train = trainSample(corpus, vecCol, col(vecCol), trainTarget)
    val dim = train.headOption.map(_.length).getOrElse(m)
    require(dim % m == 0,
      s"PQ needs the vector dimension ($dim) divisible by m ($m): a " +
        "truncating split would silently drop the trailing dim % m " +
        "dimensions from every code and ADC score, costing recall with " +
        "no error — pick m from the divisors of the embedding dimension")
    val sub = math.max(1, dim / m)
    val books = (0 until m).map { mi =>
      val pts = train.map { v =>
        Array.tabulate(sub) { j =>
          val p = mi * sub + j
          if (p < v.length) v(p) else 0.0
        }
      }
      kmeansFit(pts, ksub, iters = 5, seed = 42L + mi)
    }
    PqCodebooks(books)
  }

  /** Persist trained codebooks as a JSON sidecar — the PQ half of the
    * on-disk index layout ([[ivfWrite]] is the cell half; together they
    * are the durable form [[ivfPqQuery]] serves from).
    */
  def pqWrite(spark: org.apache.spark.sql.SparkSession, books: PqCodebooks,
              path: String): Unit = {
    import spark.implicits._
    books.books.zipWithIndex.flatMap { case (book, mi) =>
      book.zipWithIndex.map { case (cent, c) => (mi, c, cent) }
    }.toDF("m", "c", "centroid")
      .coalesce(1).write.mode("overwrite").json(path)
  }

  /** Load codebooks written by [[pqWrite]]. */
  def pqRead(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.json(path)
      .select(col("m").cast(IntegerType), col("c").cast(IntegerType), col("centroid"))
      .collect()
    PqCodebooks(rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq
    })
  }

  /** PQ-compressed top-k with exact re-rank: candidates score through the
    * asymmetric-distance cosine — the corpus side is `m` BYTES per vector
    * (32× smaller than float32 at m=8 over 64 dims, the compression level
    * where a 100 TB embedding corpus' scan set fits in cluster RAM), each
    * query computes its lookup table once, and every candidate pair costs
    * `m` lookups instead of `dim` multiply-adds. The top `k × oversample`
    * survivors per query come back through TopKPerGroup (bounded exchange)
    * and only they are re-ranked by exact float cosine. Recall@k vs the
    * float brute force is bounded in DedupSpec (pqTopK test).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, k: Int, books: PqCodebooks,
             oversample: Int = 8): DataFrame =
    pqTopKWith(corpus, queries, vecCol, idCol, k, books, oversample, identity)

  /** The shared PQ brute-scan pipeline: encode + LUT (over a caller
    * vector transform — identity for plain PQ, the learned rotation for
    * OPQ), ADC scoring, oversampled TopK, exact re-rank on ORIGINAL
    * vectors. One implementation so the PQ/OPQ faces (spec-pinned equal
    * when the rotation is identity-like) cannot silently diverge.
    */
  private def pqTopKWith(corpus: DataFrame, queries: DataFrame,
                         vecCol: String, idCol: String, k: Int,
                         books: PqCodebooks, oversample: Int,
                         pre: Column => Column): DataFrame = {
    import graft.functions.{PqAdcExpr, PqEncodeExpr, PqLutExpr}
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      toCol(PqEncodeExpr(toExpr(pre(col(vecCol))), books.books)).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      toCol(PqLutExpr(toExpr(pre(col(vecCol))), books.books, books.ksub)).as("lut"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("cv"), col("qv"),
        toCol(PqAdcExpr(toExpr(col("lut")), toExpr(col("codes")),
          books.normSq, books.ksub)).as("qcos"))
    val candidates = TopK.perGroup(scored, Seq("query_id"),
      Seq(TopK.desc("qcos"), TopK.asc("corpus_id")), k * oversample)
    exactRerank(candidates, k)
  }

  /** One-shot convenience: train + search. Prefer [[pqTrain]] once offline
    * + [[pqTopK]] per probe when the corpus is searched repeatedly.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, k: Int): DataFrame =
    pqTopK(corpus, queries, vecCol, idCol, k, pqTrain(corpus, vecCol))

  // ------------------------------------------------------------------ OPQ

  /** Optimized-PQ model: an orthonormal ROTATION composed with PQ
    * codebooks trained in the rotated space — the parametric OPQ layout
    * (Ge, He, Ke & Sun, CVPR'13: align the space to the data before
    * splitting it into subquantizers). The rotation here is the corpus'
    * full-rank PCA basis, so the first subquantizer's contiguous slice
    * holds the highest-variance directions: index BYTES follow the
    * variance instead of the arbitrary original axis grouping.
    *
    * The rotation is applied WITHOUT mean subtraction — a pure orthonormal
    * rotation preserves inner products and cosines exactly, so the planted
    * margin argument (and every cosine-space recall bound) carries over
    * from plain PQ unchanged, while centering would warp cosine geometry.
    */
  final case class OpqModel(rotation: Array[Array[Double]],
                            books: PqCodebooks) extends Serializable {
    /** zero "mean" so PcaProjectExpr acts as the pure rotation. */
    @transient lazy val noShift: Array[Double] =
      new Array[Double](rotation.head.length)
  }

  private def rotate(v: org.apache.spark.sql.Column, model: OpqModel)
  : org.apache.spark.sql.Column =
    graft.functions.PcaProjectExpr.pcaProject(v, model.noShift, model.rotation)

  /** Train the OPQ artifact: full-rank PCA basis (one fixed-point Gram
    * pass — Embeddings.pcaTrain's bounded-driver shape), EIGENVALUE
    * ALLOCATION of the rotated dimensions to the m subquantizers, then
    * [[pqTrain]] over the ROTATED corpus (per-row codegen rotation feeding
    * the same bounded sample). Train once offline, probe many times, like
    * every index family here.
    *
    * The allocation is the parametric-OPQ balance step (Ge et al.
    * CVPR'13 §4): naive descending order hands the FIRST subquantizer all
    * the high-variance directions, so it quantizes worse than the rest at
    * equal bits — measured recall BELOW plain PQ on a near-isotropic
    * corpus (0.844 vs 0.900). Greedily assigning each eigen-direction
    * (largest λ first) to the subspace with the smallest running variance
    * PRODUCT equalizes information per subquantizer: ties plain PQ on
    * isotropic data, wins on skewed data.
    */
  def opqTrain(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
               trainTarget: Int = 1600): OpqModel = {
    val d = corpus.select(size(col(vecCol))).limit(1).collect()(0).getInt(0)
    require(d % m == 0, s"OPQ needs dim ($d) divisible by m ($m)")
    val pca = Embeddings.pcaTrain(corpus, vecCol, k = d)
    val sub = d / m
    // greedy balanced-product allocation: λ descending (pcaTrain's basis
    // order), each direction to the open bucket with the least Σ log λ.
    // The logs are CENTERED on their mean (log of the geometric mean)
    // first: raw logs of sub-unit eigenvalues are all negative, so the
    // bucket that received the largest λ would have the LEAST sum and win
    // every subsequent round — the greedy degenerates to the naive
    // identity layout it exists to avoid (caught by the recall probe:
    // allocation read 0..63 in order). Centered, a large-λ grab pushes a
    // bucket's sum UP and the next directions spread out; ties by bucket
    // index — deterministic.
    val logRaw = Array.tabulate(d)(i => math.log(math.max(pca.eigvals(i), 1e-12)))
    val center = logRaw.sum / d
    val logs = Array.fill(m)(0.0)
    val slots = Array.fill(m)(0)
    val buckets = Array.fill(m)(List.newBuilder[Int])
    (0 until d).foreach { i =>
      val b = (0 until m).filter(slots(_) < sub).minBy(j => (logs(j), j))
      buckets(b) += i
      logs(b) += logRaw(i) - center
      slots(b) += 1
    }
    val rotation = buckets.flatMap(_.result()).map(pca.basis)
    val partial = OpqModel(rotation, PqCodebooks(Seq(Seq(Seq(0.0)))))
    val rotatedCorpus = corpus.select(rotate(col(vecCol), partial).as("__rv"))
    OpqModel(rotation, pqTrain(rotatedCorpus, "__rv", m, ksub, trainTarget))
  }

  /** OPQ top-k: candidates score by ADC in the ROTATED space (codes and
    * lookup tables both rotate — one extra fused d² multiply-add per row,
    * amortized into the same codegen pass as the encode), the exact
    * re-rank runs on the ORIGINAL float vectors. Everything else is
    * [[pqTopK]]'s shape: broadcast queries, m-byte corpus codes, bounded
    * k×oversample exchange through TopKPerGroup.
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int, model: OpqModel,
              oversample: Int = 8): DataFrame =
    pqTopKWith(corpus, queries, vecCol, idCol, k, model.books, oversample,
      v => rotate(v, model))

  // ------------------------------------------------------------------ IVF

  /** A built inverted-file index: k-means centroids (driver-side literals)
    * plus the corpus with its cell assignment, persisted so repeated probes
    * skip re-assignment. At cluster scale `indexed` would be written to a
    * parquet table partitioned by `cell` — the persist() here is the
    * single-JVM stand-in for that.
    */
  final case class IvfIndex(centroids: Seq[Seq[Double]], indexed: DataFrame)

  /** Centroid ids ordered by squared-L2 distance from `v` — one fused
    * codegen pass over the vector with every centroid accumulating in the
    * same loop (graft.functions.NearestCellsExpr; the expression-tree
    * formulation ran one interpreted aggregate(zip_with) per centroid per
    * row — corpus-wide at assignment time).
    */
  private def cellRanking(v: Column, centroids: Seq[Seq[Double]]): Column =
    graft.functions.VectorExprs.nearestCells(v, centroids)

  /** A bounded training sample that depends on the data alone: the rows
    * whose `xxhash64(key)` falls on a stride sized for ~1.2×`target` rows,
    * collected and sorted lexicographically. `df.sample` draws per
    * (partition, position), so two physical layouts of the SAME data
    * trained different models (measured: Scale dedup's semdedup survivor
    * count moved 2438 -> 2739 -> 2432 across regenerated-but-identical
    * corpora, and PQ books changed under a repartition); a content-hash
    * stride selects the same rows under any layout and the sort fixes
    * their order. `key` is the id column where there is one, else the
    * vector.
    */
  private def trainSample(df: DataFrame, vecCol: String, key: Column,
                          target: Long): Array[Array[Double]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    // size the stride off the row count (cheap parquet-metadata job)
    val n = math.max(df.count(), 1L)
    val every = math.max(1L, (n / math.max(1.0, target * 1.2)).toLong)
    df.filter(pmod(xxhash64(key), lit(every)) === 0L)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .sortBy(_.toSeq)
  }

  /** Seeded k-means++ + Lloyd's iterations over an in-memory sample — the
    * coarse-quantizer trainer (Arthur & Vassilvitskii SODA'07 init, Lloyd'82
    * refinement). A coarse quantizer only ever trains on a BOUNDED sample
    * (~100 points per centroid), so the training set fits on the driver by
    * construction; a distributed ML pipeline spends more wall-clock
    * scheduling its per-iteration jobs than this loop takes in total.
    */
  private def kmeansFit(points: Array[Array[Double]], k: Int, iters: Int,
                        seed: Long): Seq[Seq[Double]] = {
    if (points.isEmpty) return Seq(Seq(0.0))
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: next center drawn proportional to squared distance
    val kk = math.min(k, points.length)
    val centers = scala.collection.mutable.ArrayBuffer(points(rnd.nextInt(points.length)))
    val minD2 = points.map(p => d2(p, centers(0)))
    while (centers.length < kk) {
      val total = minD2.sum
      var pick = if (total > 0) rnd.nextDouble() * total else 0.0
      var idx = 0
      while (idx < points.length - 1 && pick > minD2(idx)) { pick -= minD2(idx); idx += 1 }
      centers += points(idx)
      var i = 0
      while (i < points.length) {
        val nd = d2(points(i), centers(centers.length - 1))
        if (nd < minD2(i)) minD2(i) = nd
        i += 1
      }
    }
    // Lloyd's refinement
    var cs = centers.toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < cs.length) {
          val dd = d2(p, cs(j)); if (dd < bestD) { bestD = dd; best = j }; j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cs = cs.indices.map { j =>
        if (counts(j) == 0) cs(j) // empty cell keeps its centroid
        else sums(j).map(_ / counts(j))
      }.toArray
    }
    cs.map(_.toSeq).toSeq
  }

  /** [[ivfBuild]] with the Lloyd refinement run DISTRIBUTED — the ≥100M-
    * vector regime where the driver-side trainer's sample cap (and its
    * ~256-cell practical ceiling) no longer matches the corpus: a corpus
    * that large wants thousands of cells, and the refinement should see
    * ALL vectors, not a 25.6k sample. Init stays driver-side k-means++
    * over a bounded sample (init is sample-based by definition); each
    * Lloyd iteration is then one codegen'd nearest-cell assignment pass +
    * one elementwise-mean aggregation over the full corpus (posexplode →
    * groupBy(cell, dim) — k·dim rows back to the driver, bounded by
    * construction). Empty cells keep their centroid, as in the driver
    * trainer.
    *
    * Reproducibility note: distributed float summation is not
    * addition-order-stable across runs, so centroids can differ at ulp
    * scale between builds (the driver trainer is bit-deterministic). The
    * written index ([[ivfWrite]]) is the reproducibility anchor either
    * way — build once, serve/append against the artifact.
    */
  def ivfBuildDistributed(corpus: DataFrame, vecCol: String, idCol: String,
                          nCentroids: Int, iters: Int = 3,
                          persist: Boolean = true): IvfIndex = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val sample = trainSample(c, "cv", col("corpus_id"),
      math.min(nCentroids * 20L, 200000L))
    // k-means++ seeding only — 0 driver Lloyd iterations; refinement is
    // the distributed loop below
    var centroids = kmeansFit(sample, nCentroids, iters = 0, seed = 42L)
    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cell",
        element_at(cellRanking(col("cv"), centroids), 1))
      // elementwise sums per cell: k·dim rows cross the wire, nothing else
      val stats = assigned
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val dim = centroids.head.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      stats.foreach { r =>
        val cell = r.getInt(0); val pos = r.getInt(1)
        sums(cell)(pos) = r.getDouble(2)
        counts(cell) = r.getLong(3)
      }
      centroids = centroids.indices.map { j =>
        if (counts(j) == 0) centroids(j)
        else sums(j).map(_ / counts(j)).toSeq
      }
    }
    val assigned = c.withColumn("cell",
      element_at(cellRanking(col("cv"), centroids), 1))
    val indexed = if (persist) Checkpoints.persist(assigned) else assigned
    IvfIndex(centroids, indexed)
  }

  /** Offline index build: train a coarse quantizer on a bounded subsample
    * ([[trainSample]] keyed by id, ≤ ~1.2×trainTarget rows by
    * construction), then assign every corpus vector to its nearest
    * centroid in one distributed pass.
    */
  def ivfBuild(corpus: DataFrame, vecCol: String, idCol: String,
               nCentroids: Int = 16, trainTarget: Int = 1600,
               persist: Boolean = true): IvfIndex = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    // a coarse quantizer only needs ~100 points per centroid
    val train = trainSample(c, "cv", col("corpus_id"), trainTarget)
    val centroids = kmeansFit(train, nCentroids, iters = 5, seed = 42L)
    val assigned = c.withColumn("cell",
      element_at(cellRanking(col("cv"), centroids), 1))
    val indexed = if (persist) Checkpoints.persist(assigned) else assigned
    IvfIndex(centroids, indexed)
  }

  /** Probe a built index: each query scores only its `nProbe` nearest cells
    * (the classic recall/compute knob). The only join is corpus-cell ∈
    * probed-cells; the rank tail is TopKPerGroup-bounded.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame,
               vecCol: String, idCol: String, k: Int, nProbe: Int = 2): DataFrame =
    ivfQueryWhere(index, queries, vecCol, idCol, k, nProbe, allowed = None)

  /** The shared IVF probe: rank cells per query, score candidates in the
    * probed cells by exact cosine, optionally semi-joining an allow-list
    * of corpus ids BEFORE the cosine (the filtered-search face). One
    * implementation so the plain and filtered probes cannot diverge.
    */
  private def ivfQueryWhere(index: IvfIndex, queries: DataFrame,
                            vecCol: String, idCol: String, k: Int,
                            nProbe: Int, allowed: Option[DataFrame]): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probed = q.withColumn("probe",
        explode(slice(cellRanking(col("qv"), index.centroids), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("probe").as("cell"))
    val cands = index.indexed.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
    val admitted = allowed.fold(cands)(ok => cands.join(
      ok.select(col(idCol).as("corpus_id")).distinct(),
      Seq("corpus_id"), "left_semi"))
    rankTail(admitted.select(col("query_id"), col("corpus_id"),
      cosineSim(col("qv"), col("cv")).as("cos")), k)
  }

  /** RANGE search (FAISS `range_search`): every corpus neighbor whose
    * cosine similarity to the query is at least `tau` — the radius face of
    * the ANN family (near-duplicate harvesting, contamination sweeps,
    * "everything within a threshold" linkage), where top-k's fixed k is the
    * wrong contract because the true neighbor count varies per query. Same
    * probe skeleton as [[ivfQuery]] (coarse-quantizer cell pruning is the
    * only approximation; nProbe = nCells degrades to exact, spec-pinned
    * against [[bruteForceRange]]), but unlike the top-k paths there is NO
    * rank window at all: candidates filter map-side on the cosine
    * threshold and only survivors leave the scan — the selective-filter
    * shape, not a sort, so the output exchange is the result itself.
    * Output: (query_id, corpus_id, cos), unbounded per query by design.
    */
  def rangeSearch(index: IvfIndex, queries: DataFrame, vecCol: String,
                  idCol: String, tau: Double, nProbe: Int = 2): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probed = q.withColumn("cell",
        explode(slice(cellRanking(col("qv"), index.centroids), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("cell"))
    index.indexed.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("qv"), col("cv")).as("cos"))
      .filter(col("cos") >= lit(tau))
  }

  /** Exact range search: the [[rangeSearch]] baseline, [[bruteForceTopK]]'s
    * broadcast shape with the rank tail replaced by the threshold filter.
    */
  def bruteForceRange(corpus: DataFrame, queries: DataFrame, vecCol: String,
                      idCol: String, tau: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("qv"), col("cv")).as("cos"))
      .filter(col("cos") >= lit(tau))
  }

  /** FILTERED ANN probe — metadata-predicate vector search (FAISS's
    * IDSelector, every vector DB's payload filter): the index is built on
    * the FULL corpus and the predicate applies at QUERY time, so one
    * durable index serves every predicate instead of one index per
    * filter. `allowed` is a one-column (`idCol`) relation of admissible
    * corpus ids; candidates from the probed cells semi-join it BEFORE the
    * cosine, so filtered-out vectors never score and the rank tail stays
    * k-bounded. Catalyst picks broadcast vs shuffle for the semi join by
    * `allowed`'s size — a small allow-list broadcasts, a corpus-scale
    * predicate shuffles candidate ids only (never vectors). Post-filter
    * recall caveat (as published): a highly selective predicate can empty
    * the probed cells — raise `nProbe` with selectivity, exactly FAISS's
    * guidance.
    */
  def ivfQueryFiltered(index: IvfIndex, queries: DataFrame, vecCol: String,
                       idCol: String, allowed: DataFrame, k: Int,
                       nProbe: Int = 2): DataFrame =
    ivfQueryWhere(index, queries, vecCol, idCol, k, nProbe, Some(allowed))

  /** IVF-PQ probe: the production large-corpus ANN layout (FAISS IVFPQ) —
    * the IVF coarse quantizer restricts each query to its `nProbe` nearest
    * cells (touching nProbe/nCells of the corpus), and WITHIN those cells
    * candidates score by the PQ asymmetric-distance cosine over `m`-byte
    * codes (m lookups per pair), with an exact float re-rank of the
    * k×oversample survivors. At cluster scale the encoded index is a
    * parquet table partitioned by cell whose payload is m bytes per vector
    * — partition pruning AND 32× compression compound, which is what makes
    * a 100 TB embedding corpus servable. Codes are computed here from the
    * persisted cell assignment (one codegen pass); a deployment would
    * store them in the index table via [[ivfWrite]]'s layout.
    */
  def ivfPqQuery(index: IvfIndex, books: PqCodebooks, queries: DataFrame,
                 vecCol: String, idCol: String, k: Int, nProbe: Int = 2,
                 oversample: Int = 8): DataFrame =
    ivfPqQueryWhere(index, books, queries, vecCol, idCol, k, nProbe,
      oversample, allowed = None)

  /** [[ivfPqQuery]] with a query-time id allow-list — filtered search at
    * the COMPRESSED tier (what a 100 TB corpus actually serves): the
    * predicate semi-joins candidate ids after cell pruning and BEFORE the
    * ADC scoring, so filtered-out vectors never pay even the m-lookup
    * cost, and the oversampled re-rank set is drawn entirely from
    * admissible ids. Same recall guidance as [[ivfQueryFiltered]]: raise
    * `nProbe`/`oversample` with predicate selectivity.
    */
  def ivfPqQueryFiltered(index: IvfIndex, books: PqCodebooks,
                         queries: DataFrame, vecCol: String, idCol: String,
                         allowed: DataFrame, k: Int, nProbe: Int = 2,
                         oversample: Int = 8): DataFrame =
    ivfPqQueryWhere(index, books, queries, vecCol, idCol, k, nProbe,
      oversample, Some(allowed))

  private def ivfPqQueryWhere(index: IvfIndex, books: PqCodebooks,
                              queries: DataFrame, vecCol: String,
                              idCol: String, k: Int, nProbe: Int,
                              oversample: Int,
                              allowed: Option[DataFrame]): DataFrame = {
    import graft.functions.{PqAdcExpr, PqEncodeExpr, PqLutExpr}
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      toCol(PqLutExpr(toExpr(col(vecCol)), books.books, books.ksub)).as("lut"))
    val probed = q.withColumn("probe",
        explode(slice(cellRanking(col("qv"), index.centroids), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("lut"), col("probe").as("cell"))
    val encoded = index.indexed.withColumn("codes",
      toCol(PqEncodeExpr(toExpr(col("cv")), books.books)))
    val cands = encoded.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
    val admitted = allowed.fold(cands)(ok => cands.join(
      ok.select(col(idCol).as("corpus_id")).distinct(),
      Seq("corpus_id"), "left_semi"))
    val scored = admitted
      .select(col("query_id"), col("corpus_id"), col("cv"), col("qv"),
        toCol(PqAdcExpr(toExpr(col("lut")), toExpr(col("codes")),
          books.normSq, books.ksub)).as("qcos"))
    val candidates = TopK.perGroup(scored, Seq("query_id"),
      Seq(TopK.desc("qcos"), TopK.asc("corpus_id")), k * oversample)
    exactRerank(candidates, k)
  }

  /** Persist a built index as the cluster-scale layout the ivfBuild
    * scaladoc describes: the cell-assigned corpus as a parquet table
    * PARTITIONED BY cell (so probes read only their nProbe cell directories
    * — partition pruning does what the in-memory persist does locally),
    * plus a centroid sidecar.
    */
  def ivfWrite(index: IvfIndex, path: String): Unit = {
    val spark = index.indexed.sparkSession
    index.indexed.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
  }

  /** Load an index written by [[ivfWrite]]. The cells table stays lazy —
    * a probe scans only the partitions its cell filter selects.
    */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.json(s"$path/centroids")
      .select(col("cell").cast(IntegerType), col("centroid"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toSeq).toSeq
    IvfIndex(centroids, spark.read.parquet(s"$path/cells")
      .select(col("corpus_id"), col("cv"), col("cell").cast(IntegerType).as("cell")))
  }

  /** Incremental maintenance of a durable [[ivfWrite]] layout: assign
    * `newVecs` to the EXISTING centroids and append them into the
    * cell-partitioned table. This is what makes the index serve a
    * continuously-growing corpus — a 100 TB index cannot re-train and
    * re-assign per ingest batch, and it doesn't need to: assignment
    * depends only on the centroid sidecar, so appended vectors land in
    * exactly the cells a full rebuild with the same quantizer would put
    * them in (spec-pinned), and probes see the grown corpus through
    * [[ivfRead]]'s lazy scan with partition pruning intact. Only the
    * touched cell directories gain files.
    *
    * Idempotent (default): ids already indexed are anti-joined away first.
    * COST: that anti-join is an id-column-only scan of the whole index per
    * call (parquet column pruning keeps the vectors on disk, so it reads
    * the ~1% id slice — but it is still O(index) per batch, quadratic over
    * a long stream's life). Size append batches accordingly (epoch
    * cadence, not per-second micro-batches), or pass `dedupIds = false`
    * when the upstream already delivers exactly-once ids and take the
    * append as pure O(batch).
    *
    * The quantizer itself is deliberately NOT updated — incremental
    * centroid drift would silently change existing assignments and break
    * probe/layout consistency. Watch [[ivfCellStats]] per epoch: when new
    * content concentrates into few cells (population skew growing), the
    * quantizer is stale — run [[ivfRebuildSwap]] offline (retrain,
    * re-assign, atomic publish; the old index serves until the swap).
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                newVecs: DataFrame, vecCol: String, idCol: String,
                dedupIds: Boolean = true): Long = {
    val idx = ivfRead(spark, path)
    // cast incoming vectors to the INDEX's element layout (review-caught):
    // an array<double> column — Spark's default for computed arrays — fed
    // raw into the float-reading assignment expression yields garbage
    // distances AND durably appends a schema-incompatible column into the
    // cells table, breaking every later read. Non-castable types fail
    // analysis loudly here instead.
    val cvType = idx.indexed.schema("cv").dataType
    require(newVecs.schema(vecCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"ivfAppend: $vecCol must be an array vector column, got " +
        newVecs.schema(vecCol).dataType.simpleString)
    val incoming = newVecs
      .select(col(idCol).as("corpus_id"), col(vecCol).cast(cvType).as("cv"))
    // dedupIds must also hold WITHIN the batch: an at-least-once upstream
    // can duplicate an id inside one micro-batch, and the anti-join against
    // the index cannot see that — both copies are novel w.r.t. disk.
    val novel =
      if (dedupIds)
        incoming.dropDuplicates("corpus_id")
          .join(idx.indexed.select(col("corpus_id")),
            Seq("corpus_id"), "left_anti")
      else incoming
    val fresh = novel
      .withColumn("cell", element_at(cellRanking(col("cv"), idx.centroids), 1))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = fresh.count()
    if (n > 0)
      fresh.write.mode("append").partitionBy("cell").parquet(s"$path/cells")
    fresh.unpersist()
    n
  }

  /** Per-cell population of an index — the staleness signal for the
    * [[ivfAppend]] lifecycle. Probes touch whole cells, so the hottest
    * cell bounds worst-case probe cost; a growing hottest/median ratio
    * means arriving content no longer matches the trained quantizer.
    * One id-column aggregate over the index (vectors stay on disk).
    */
  def ivfCellStats(index: IvfIndex): DataFrame =
    index.indexed.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .select(col("cell"), col("n"))

  /** Execute the rebuild the [[ivfAppend]] lifecycle calls for when
    * [[ivfCellStats]] says the quantizer has gone stale: retrain from the
    * GROWN cells table ([[ivfBuildDistributed]] — sampled k-means++ seed +
    * distributed Lloyd refinement), re-assign every vector, stage the new
    * index beside the old one, and publish with an atomic swap — the same
    * write-and-swap discipline the upsert sinks use. The live index at
    * `path` stays fully readable for the entire (long) retrain+reassign;
    * the only mutation is the final pair of directory renames. A reader
    * that opened the index before the swap keeps its results; one opening
    * after sees the rebuilt index. (On object storage the same shape is a
    * transactional table commit — the swap is the only storage-specific
    * piece, as with toUpsertSink.)
    *
    * Crash safety: a previous attempt that died mid-swap leaves
    * `path.old` as the only copy — restored before rebuilding, never
    * deleted while `path` is absent. A stale `path.next` from a crashed
    * rebuild is simply overwritten.
    *
    * Returns the count of indexed vectors (unchanged by construction —
    * the rebuild re-homes rows, never drops or invents them; spec-pinned).
    */
  def ivfRebuildSwap(spark: org.apache.spark.sql.SparkSession, path: String,
                     nCentroids: Int, iters: Int = 3): Long = {
    val (fs, dirPath) = graft.sinks.Publish.fsFor(spark, path)
    val next = path + ".next"
    // recover a crashed previous swap (dir was renamed aside and the
    // publish never happened): .old is the only live copy — restore it
    graft.sinks.Publish.restoreStaged(fs, dirPath)
    val corpus = ivfRead(spark, path).indexed.select(col("corpus_id"), col("cv"))
    val rebuilt = ivfBuildDistributed(corpus, "cv", "corpus_id",
      nCentroids, iters, persist = false)
    ivfWrite(rebuilt, next) // reads old cells, writes the staged dir
    val n = spark.read.parquet(s"$next/cells").count()
    // publish: the two renames are the entire unavailability window; a
    // failed publish rolls the old index back (result checked — see
    // graft.sinks.Publish for the shared contract)
    graft.sinks.Publish.publishSwap(fs,
      new org.apache.hadoop.fs.Path(next), dirPath)
    n
  }

  /** One-shot convenience: build + probe, index discarded afterwards.
    * STRONGLY prefer ivfBuild (once, offline) + ivfQuery (per probe) for any
    * corpus probed more than once — this re-trains the quantizer and
    * re-assigns every corpus vector on EVERY call. The transient index is
    * not persisted, so nothing leaks cached blocks after the result is
    * consumed (the cell assignment is recomputed by each downstream action,
    * which is the price of one-shot convenience).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2): DataFrame =
    ivfQuery(ivfBuild(corpus, vecCol, idCol, nCentroids, persist = false), queries,
      vecCol, idCol, k, nProbe)

  // ------------------------------------------------------------- kNN join

  /** Batch kNN JOIN between two corpora (r15 — the linkage face of the
    * ANN family: FAISS's knn-join, the candidate step of embedding record
    * linkage): for EVERY left row, the k nearest right rows by cosine.
    * Unlike the probe faces above, the left side is corpus-scale — no
    * broadcast assumption on either side. The right corpus is quantized
    * into an IVF layout ([[ivfBuild]]'s trainer over the RIGHT side),
    * the left side explodes to its `nProbe` nearest cells, and the only
    * exchange is an equi-join on the cell id: candidates are same-cell
    * (probe-expanded) pairs, scored by exact cosine, ranked through the
    * bounded TopKPerGroup tail. Left and right ids are SEPARATE id
    * spaces (no self-match exclusion — joining a corpus to itself should
    * pass distinct roles explicitly, e.g. by probing [[ivfQuery]]).
    *
    * Scale shape: both sides shuffle ONLY on the cell id, vectors ride
    * exactly once, and per-left-row work is |probed cells|/|cells| of
    * the right corpus. Size `nCentroids` to the right corpus (the FAISS
    * ~sqrt(N) guidance) — at 16 cells and 32 shuffle partitions the join
    * key space is the skew bound, so a 100 TB deployment raises
    * nCentroids into the thousands, which simultaneously co-sizes cells
    * and spreads the exchange. nProbe = nCentroids degrades to the exact
    * blocked brute force (spec-pinned against [[bruteForceTopK]]).
    */
  def knnJoin(left: DataFrame, right: DataFrame, vecCol: String,
              idCol: String, k: Int, nCentroids: Int = 16,
              nProbe: Int = 2): DataFrame = {
    val index = ivfBuild(right, vecCol, idCol, nCentroids, persist = false)
    knnJoinIndexed(index, left, vecCol, idCol, k, nProbe)
  }

  /** [[knnJoin]] against a PRE-BUILT right-side index — the serving form
    * (build once offline via [[ivfBuild]]/[[ivfRead]], link many left
    * corpora against it). Output: (left_id, right_id, cos rank `rk`).
    */
  def knnJoinIndexed(index: IvfIndex, left: DataFrame, vecCol: String,
                     idCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val probed = left
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell",
        explode(slice(cellRanking(col("qv"), index.centroids), 1, nProbe)))
    val scored = index.indexed.join(probed, Seq("cell"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("qv"), col("cv")).as("cos"))
    rankTail(scored, k)
      .select(col("query_id").as("left_id"), col("corpus_id").as("right_id"),
        col("cos"), col("rk"))
  }

  /** k-NN GRAPH over one corpus: each vector's k nearest OTHER corpus
    * vectors — the SemDeDup / SSL-prototypes / graph-clustering building
    * block, the self-join face of the ANN family. Every row is both query
    * and candidate: the corpus joins ITSELF on the IVF cell id (probe
    * widening replicates only the query side's (id, vector) pair nProbe
    * ways, never the indexed side), so there is no broadcast assumption on
    * either side — the exchange keys are cell ids, and nCentroids sizes
    * cells exactly as [[knnJoin]]'s scale note prescribes (√N cells at
    * 100 TB bounds the per-cell quadratic and spreads the join keys).
    * nProbe = nCells degrades to the exact blocked brute force
    * (spec-pinned against [[bruteForceTopK]], whose self-exclusion is the
    * same contract). `nodes` optionally restricts the QUERY side (the
    * graph over a subset of sources against the full corpus) — the filter
    * applies BEFORE cell ranking, so unqueried rows never replicate.
    * Output: (src, dst, cos, rk), rk 1..k per src.
    */
  def knnGraph(index: IvfIndex, k: Int, nProbe: Int = 2,
               nodes: Option[Column] = None): DataFrame = {
    val base = nodes.fold(index.indexed)(p => index.indexed.filter(p))
    val q = base.select(col("corpus_id").as("query_id"), col("cv").as("qv"))
    val probed = q.withColumn("cell",
        explode(slice(cellRanking(col("qv"), index.centroids), 1, nProbe)))
    val scored = index.indexed.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("qv"), col("cv")).as("cos"))
    rankTail(scored, k)
      .select(col("query_id").as("src"), col("corpus_id").as("dst"),
        col("cos"), col("rk"))
  }

  /** LSH-bucketed ANN: both sides hash to `nBits` hyperplane-sign buckets;
    * candidates are bucket-mates; exact cosine ranks within bucket. One
    * shuffle on the bucket id for both sides. `probeRadius` is the
    * multi-probe recall knob (Lv et al., VLDB'07): each QUERY also probes
    * every bucket within that Hamming distance of its own — a vector that
    * straddles a hyperplane still meets its neighbors — while the corpus
    * side stays single-bucket, so the corpus is never replicated; only the
    * (small) query side multiplies by the probe count.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int, nBits: Int = 6,
              probeRadius: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), nBits).as("bucket"))
    // Enumerate the C(nBits, ≤radius) bit-combinations directly rather than
    // filtering all 2^nBits longs by bitcount — the latter is an O(2^nBits)
    // driver loop that would hang at nBits=32 even though the mask set
    // itself is tiny (radius ≤ 2 → ≤ 529 masks).
    val masks: Seq[Long] = (0 to probeRadius).flatMap(r =>
      (0 until nBits).combinations(r).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), nBits).as("b0"))
      .select(col("query_id"), col("qv"),
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val scored = c.join(q, Seq("bucket")).filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), cosineSim(col("qv"), col("cv")).as("cos"))
    // a (query, candidate) pair can meet in several probed buckets — dedup
    // only when probing, so the radius-0 path keeps its exchange-free tail
    val unique = if (probeRadius > 0)
      scored.dropDuplicates("query_id", "corpus_id") else scored
    rankTail(unique, k)
  }
}
