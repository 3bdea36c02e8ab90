package graft

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private val SHIFT = 100000L

  private def docsWithNearDups = {
    val docs = Tables.documents(spark, sf)
    val mutated = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.unionByName(mutated)
  }

  test("exact dedup collapses planted exact copies") {
    val docs = Tables.documents(spark, sf)
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + SHIFT))
    val n = docs.count()
    val result = Dedup.exact(doubled, "text", "doc_id")
    assert(result.count() == n)
    // every survivor must be an original id, each counting its copy
    assert(result.filter(col("keep_id") >= SHIFT).count() == 0)
    assert(result.filter(col("n_copies") === 2).count() == n)
    assert(Dedup.exactRows(doubled, "text", "doc_id").count() == n)
  }

  test("crossDedup drops incoming rows whose content exists in the reference") {
    val ref = Seq((1L, "the cat sat"), (2L, "on the   mat")).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "THE CAT SAT"),      // case-insensitive match → dropped
      (11L, "on the mat"),       // whitespace-normalized match → dropped
      (12L, "a brand new doc")   // survives
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.crossDedup(inc, ref, "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(12L), s"got $out")
  }

  test("minhash LSH finds all planted near-duplicates") {
    val pairs = Dedup.minhashPairs(docsWithNearDups, "text", "doc_id",
      shingleK = 3, nHashes = 64, bands = 16, threshold = 0.5).collect()
    val planted = pairs.filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(planted.length == 20, s"found ${planted.length} of 20 planted pairs")
  }

  test("simhash hamming pairs find exact copies and most near-duplicates") {
    // exact copies: hamming 0, must all surface
    val docs = Tables.documents(spark, sf)
    val exact = docs.unionByName(docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + SHIFT))
    val exactPairs = Dedup.simhashPairs(exact, "text", "doc_id", maxDist = 3).collect()
      .filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(exactPairs.length == 20)
    assert(exactPairs.forall(_.getAs[Long]("hamming") == 0L))
    // word-dropped mutations: a coarser sketch, so only most are within 3 bits
    val pairs = Dedup.simhashPairs(docsWithNearDups, "text", "doc_id", maxDist = 3).collect()
    val planted = pairs.filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(planted.length >= 10, s"found only ${planted.length} of 20 planted pairs")
  }

  test("ngram jaccard pairs find planted near-duplicates within blocks") {
    val pairs = Dedup.ngramJaccardPairs(docsWithNearDups, "text", "doc_id",
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.8).collect()
    val planted = pairs.filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(planted.length == 20)
  }

  test("ngram candidate strategies are result-identical (prefix filter == block walk)") {
    // maxQuadraticBlock=0 forces the PPJoin prefix-filter path; the default
    // takes the |block|² walk on this small fixture — the PAIR SETS (ids +
    // jaccard) must match exactly, pinning the prefix filter's
    // no-false-negative guarantee on real data
    def pairSet(maxQuad: Int) =
      Dedup.ngramJaccardPairs(docsWithNearDups, "text", "doc_id",
        blockCols = Seq("lang", "source"), n = 4, threshold = 0.8,
        maxQuadraticBlock = maxQuad)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
    assert(pairSet(0) == pairSet(8192))
  }

  test("ngram jaccard pairs over an EMPTY input return empty, not NPE") {
    // regression (r8 review): the hottest-block probe aggregated max over
    // zero groups — a single null row — and .getLong(0) NPE'd eagerly
    val empty = docsWithNearDups.filter(col("doc_id") < 0)
    assert(Dedup.ngramJaccardPairs(empty, "text", "doc_id",
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.8).count() == 0L)
  }

  test("embedding LSH multi-probe finds all planted PERTURBED near-duplicates") {
    // perturbed (cos ≈ 0.9997, not 1.0) copies CAN land in a different
    // hyperplane bucket; 100% recall here is earned by multi-probe bucketing
    val e = Tables.embeddings(spark, sf)
    val perturbed = e.select((col("vec_id") + SHIFT).as("vec_id"),
      transform(col("embedding"), (x, i) => x * (lit(1.0d) + lit(0.05d) * (i % 2)))
        .cast("array<float>").as("embedding"))
    val doubled = e.select(col("vec_id"), col("embedding")).unionByName(perturbed)
    val pairs = Dedup.embeddingPairs(doubled, "embedding", "vec_id",
      nBits = 8, threshold = 0.95, probeRadius = 2).collect()
    val planted = pairs.filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(planted.length == e.count(), "multi-probe LSH must recall every planted near-dup")
    // and the plants really are near- (not exact) duplicates
    val cosines = planted.map(_.getAs[Double]("cos"))
    assert(cosines.forall(c => c >= 0.95 && c < 1.0))
    // without probing, recall on the same plants is allowed to drop — the
    // probes are what make recall structural, so they must add pairs or tie
    val noProbe = Dedup.embeddingPairs(doubled, "embedding", "vec_id",
      nBits = 8, threshold = 0.95, probeRadius = 0).collect()
      .count(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + SHIFT)
    assert(noProbe <= planted.length)
  }

  test("embeddingPairs filters duplicated zero-norm vectors (intra self-cos 0.0 < threshold)") {
    import spark.implicits._
    // zero vectors self-score cos=0.0; the exact-collapse intra branch must
    // apply the threshold like the pairwise path does (regression: r7's
    // collapse emitted zero-vector member pairs at cos=0.0 unfiltered)
    val rows = Seq(
      (1L, Array.fill(4)(0.0f)), (2L, Array.fill(4)(0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (4L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(rows, "embedding", "vec_id",
      nBits = 4, threshold = 0.95, probeRadius = 1).collect()
    assert(pairs.length == 1, s"only the unit-vector pair should survive: ${pairs.toSeq}")
    assert(pairs.head.getAs[Long]("id_a") == 3L && pairs.head.getAs[Long]("id_b") == 4L)
  }

  test("lineDedup removes corpus-wide boilerplate lines, keeps order, empties covered docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nunique beta"),
      (2L, "COOKIE BANNER\nunique gamma"),
      (3L, "COOKIE BANNER"),
      (4L, "solo document line")
    ).toDF("doc_id", "text")
    val clean = Dedup.lineDedup(docs, "text", "doc_id", maxDocs = 1)
      .as[(Long, String)].collect().toMap
    assert(clean == Map(
      1L -> "unique alpha\nunique beta", // banner gone, order kept
      2L -> "unique gamma",
      3L -> "",                          // all lines were boilerplate
      4L -> "solo document line"))       // untouched
  }

  test("components resolves chains transitively and keeps disjoint clusters apart") {
    import spark.implicits._
    // chain 1-2-3 (no 1~3 edge), clique 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // survivors: one canonical row per cluster, untouched rows kept
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 99L).toDF("id")
    val kept = Dedup.keepCanonical(docs, pairs, "id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L, 99L))
    // keepBest: the highest-score member survives instead of min-id;
    // equal scores prefer the smaller id; null scores lose to real ones
    // but an all-null cluster still keeps one member
    val scoredDocs = Seq(
      (1L, Some(0.1)), (2L, Some(0.9)), (3L, Some(0.5)), // chain: 2 wins
      (10L, Some(0.7)), (11L, Some(0.7)), (12L, Some(0.2)), // tie: 10 (min id)
      (20L, None), (21L, None), // all-null cluster: 20 survives
      (99L, Some(0.0)) // unclustered passes
    ).toDF("id", "q")
    val best = Dedup.keepBest(scoredDocs, pairs, "id", "q")
      .select("id").as[Long].collect().toSet
    assert(best == Set(2L, 10L, 20L, 99L), best.toString)
    // r10: Long.MinValue ids must not overflow the tie-break (plain
    // negation did; xxhash64-derived ids make the value reachable) —
    // equal scores still prefer the smaller id, i.e. MinValue itself
    val extremePairs = Seq((Long.MinValue, 5L), (5L, 7L)).toDF("id_a", "id_b")
    val extremeDocs = Seq((Long.MinValue, Some(1.0)), (5L, Some(1.0)),
      (7L, Some(1.0))).toDF("id", "q")
    val extremeBest = Dedup.keepBest(extremeDocs, extremePairs, "id", "q")
      .select("id").as[Long].collect().toSet
    assert(extremeBest == Set(Long.MinValue), extremeBest.toString)
  }

  test("band parameter degenerates reject: bands must divide nHashes (r10)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("id", "text")
    // bands > nHashes: every band slice would be EMPTY — all docs share
    // all band keys (quadratic candidates; the streaming bloom gate drops
    // EVERYTHING). Typed rejection on every band-keyed entry point.
    intercept[IllegalArgumentException] {
      Dedup.crossNearDedup(docs, docs, "text", "id", nHashes = 8, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossNearDedup(docs, docs, "text", "id", nHashes = 64, bands = 48)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.crossNearDedupStream(
        docs, docs, nHashes = 8, bands = 16)
    }
  }

  test("crossNearDedupStream bloom sizing rejects both failure directions (r11)") {
    val ref = Tables.documents(spark, sf)
    val docs = ref.limit(10)
    // over-sized request: the bits allocate from the PARAMETER — a
    // 10^12-key filter at 1e-6 fpp is a ~3.5 TB driver allocation
    val big = intercept[IllegalArgumentException] {
      graft.streaming.Streams.crossNearDedupStream(docs, ref,
        expectedBandKeys = 1000000000000L)
    }
    assert(big.getMessage.contains("maxBloomBytes"))
    // under-sized: a reference that outgrew expectedBandKeys saturates the
    // bits — every novel document would silently drop at the realized
    // false-positive rate, so the gate must refuse instead
    val small = intercept[IllegalArgumentException] {
      graft.streaming.Streams.crossNearDedupStream(docs, ref,
        expectedBandKeys = 2L)
    }
    assert(small.getMessage.contains("outgrew"))
  }

  test("components converges on a long path within the iteration budget") {
    import spark.implicits._
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(path).as[(Long, Long)].collect()
    assert(got.length == 12 && got.forall(_._2 == 1L))
    // r11 pointer jump: a 2000-node path has diameter 100x the default
    // 20-round cap — plain min-label propagation (reach +1 per round)
    // returned it SPLIT; with the per-round jump reach doubles, so it
    // must converge to ONE component inside the default budget. A second
    // disjoint path guards against the jump over-merging.
    val longA = (1L until 2000L).map(i => (i, i + 1))
    val longB = (5001L until 5600L).map(i => (i, i + 1))
    val labels = Dedup.components((longA ++ longB).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 2600)
    assert((1L to 2000L).forall(labels(_) == 1L))
    assert((5001L to 5600L).forall(labels(_) == 5001L))
  }

  test("components leaves only its result persisted") {
    import spark.implicits._
    // a 21-node path (long enough for pointer-jump rounds) and 20 disjoint
    // pairs: 40 pairs
    val pairs = ((1L to 20L).map(i => (i, i + 1)) ++
      (101L to 120L).map(i => (2 * i, 2 * i + 1))).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = Dedup.components(pairs)
    val added = sc.getPersistentRDDs.keySet -- before
    val result = labels.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(added == Set(result), s"persisted besides the result: ${added - result}")
    assert(labels.as[(Long, Long)].collect().count(_._2 == 1L) == 21)
    Checkpoints.release(labels)
    assert(!sc.getPersistentRDDs.contains(result))
  }

  test("lshTopK recalls most of bruteForceTopK's neighbors") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(e, q, "embedding", "vec_id", 10, nBits = 2)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.2, s"LSH recall $recall suspiciously low")
    assert(lsh.nonEmpty)
    // multi-probe: probing Hamming-1 neighbor buckets must not lose
    // candidates, and probing ALL buckets (radius = nBits) is exact
    val probe1 = Similarity.lshTopK(e, q, "embedding", "vec_id", 10,
      nBits = 2, probeRadius = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val r1 = (brute intersect probe1).size.toDouble / brute.size
    assert(r1 >= recall, s"multi-probe lowered recall: $r1 < $recall")
    val all = Similarity.lshTopK(e, q, "embedding", "vec_id", 10,
      nBits = 2, probeRadius = 2)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(all == brute, "probing every bucket must equal brute force")
  }

  test("lshTopK at nBits=32: mask generation is combinational, not 2^nBits") {
    // pre-r6 the probe masks were generated by bitcount-filtering all
    // 2^nBits longs — a 4-billion-iteration driver loop at nBits=32 that
    // would hang before the job even launched. The combinational
    // enumeration makes a 32-bit radius-2 configuration (1+32+496 = 529
    // masks) plan instantly; this must COMPLETE fast, and radius-1 results
    // must contain radius-0's.
    val e = Tables.embeddings(spark, sf).limit(60)
    val q = e.filter(col("vec_id") < 3)
    val r0 = Similarity.lshTopK(e, q, "embedding", "vec_id", 5,
      nBits = 32, probeRadius = 0)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val r1 = Similarity.lshTopK(e, q, "embedding", "vec_id", 5,
      nBits = 32, probeRadius = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // at 32 bits nearly every vector is alone in its bucket; radius-1
    // probing can only ADD candidates
    assert(r0.subsetOf(r1), s"radius-1 lost pairs: ${r0 diff r1}")
  }

  test("knnJoin: full-probe equals brute force; identical twin ranks first (r15)") {
    val e = Tables.embeddings(spark, sf)
    // separate id space: remapped left ids never collide with right ids,
    // so bruteForceTopK's self-exclusion never fires and it computes the
    // UNEXCLUDED per-left top-k — exactly knnJoin's contract
    val left = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(e, left, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id", "rk").as[(Long, Long, Long)]
      .collect().toSet
    // nProbe = nCentroids: every cell probed -> exact blocked brute force
    val full = Similarity.knnJoin(left, e, "embedding", "vec_id", k = 10,
        nCentroids = 4, nProbe = 4)
      .select("left_id", "right_id", "rk").as[(Long, Long, Long)]
      .collect().toSet
    assert(full == brute, "full-probe knnJoin must equal brute force")
    // a single probe still finds each left row's identical right twin at
    // rank 1 (identical vectors rank the centroids identically)
    val one = Similarity.knnJoin(left, e, "embedding", "vec_id", k = 1,
        nCentroids = 4, nProbe = 1)
      .select("left_id", "right_id").as[(Long, Long)].collect()
    assert(one.length == 5)
    assert(one.forall { case (l, r) => r == l - 7000000L },
      s"rank-1 must be the identical twin: ${one.toSeq}")
  }

  test("rangeSearch: full-probe equals brute-force range; tau is respected (r15)") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val idx = Similarity.ivfBuild(e, "embedding", "vec_id",
      nCentroids = 4, persist = false)
    // nProbe = nCells -> every cell probed -> exact
    val full = Similarity.rangeSearch(idx, q, "embedding", "vec_id",
        tau = 0.3, nProbe = 4)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceRange(e, q, "embedding", "vec_id", 0.3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "full-probe rangeSearch must equal brute force")
    assert(brute.nonEmpty, "tau = 0.3 should match something at sf0.01")
    // every returned cosine clears the threshold, and tightening tau can
    // only shrink the set
    val cosines = Similarity.rangeSearch(idx, q, "embedding", "vec_id",
      tau = 0.3, nProbe = 4).select("cos").as[Double].collect()
    assert(cosines.forall(_ >= 0.3))
    val tight = Similarity.rangeSearch(idx, q, "embedding", "vec_id",
        tau = 0.5, nProbe = 4)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(full), "tighter tau must be a subset")
  }

  test("knnGraph: full-probe equals brute force; nodes filter restricts sources (r15)") {
    val e = Tables.embeddings(spark, sf).limit(120)
    val idx = Similarity.ivfBuild(e, "embedding", "vec_id",
      nCentroids = 4, persist = false)
    // brute force with corpus as its own query set: bruteForceTopK's
    // self-exclusion is exactly knnGraph's contract
    val brute = Similarity.bruteForceTopK(e, e, "embedding", "vec_id", 5)
      .select("query_id", "corpus_id", "rk").as[(Long, Long, Long)]
      .collect().toSet
    val full = Similarity.knnGraph(idx, k = 5, nProbe = 4)
      .select("src", "dst", "rk").as[(Long, Long, Long)].collect().toSet
    assert(full == brute, "full-probe knnGraph must equal brute force")
    // no self-edges, exactly k per source
    assert(full.forall { case (s, d, _) => s != d })
    assert(full.groupBy(_._1).forall(_._2.size == 5))
    // nodes predicate: only the selected sources appear, with the SAME
    // neighbor lists as the unrestricted graph
    val sub = Similarity.knnGraph(idx, k = 5, nProbe = 4,
        nodes = Some(col("corpus_id") < 10))
      .select("src", "dst", "rk").as[(Long, Long, Long)].collect().toSet
    assert(sub == full.filter(_._1 < 10), "restricted graph must agree")
  }

  test("sq8TopK: int8 quantization + exact re-rank nearly matches float brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8TopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(sq8.size == brute.size)
    val recall = (brute intersect sq8).size.toDouble / brute.size
    // int8 error is tiny; with 4x oversampling the true top-10 should
    // survive quantized pre-ranking essentially always
    assert(recall >= 0.9, s"sq8 recall $recall below expectation")
    // quantized codes agree with float cosine on self-similarity
    import graft.functions.VectorExprs
    val self = e.limit(20).select(
      VectorExprs.sq8Cosine(VectorExprs.sq8Encode(col("embedding")),
        VectorExprs.sq8Encode(col("embedding"))).as("c"))
      .as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-9))
  }

  test("pqTopK: product-quantized ADC + exact re-rank recalls the float top-k") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    assert(books.books.length == 8 && books.books.forall(_.nonEmpty))
    val pq = Similarity.pqTopK(e, q, "embedding", "vec_id", 10, books)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pq.size == brute.size)
    val recall = (brute intersect pq).size.toDouble / brute.size
    // 8 bytes per 64-dim vector is a 32× compression; with 4× oversampling
    // and exact re-rank the coarse ADC ranking still recovers most of the
    // true top-10
    assert(recall >= 0.6, s"pq recall $recall below expectation")
  }

  test("opqTopK: orthonormal rotation, balanced allocation, PQ parity on isotropic data (r14)") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val model = Similarity.opqTrain(e, "embedding", m = 8, ksub = 32)
    // the rotation is the full-rank PCA basis: R·Rᵀ = I (orthonormal rows),
    // so rotating preserves inner products/cosines exactly — the property
    // the margin oracle and the exact re-rank both lean on
    val r = model.rotation
    val d = r.length
    assert(r.forall(_.length == d))
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"rotation not orthonormal at ($i,$j): $dot")
    }
    // the eigenvalue allocation balances per-subspace variance (the
    // naive descending layout measured a 3.2x max/min spread and recall
    // BELOW plain PQ; balanced reads ~1.2x)
    val perSub = {
      val pca = graft.operators.Embeddings.pcaTrain(e, "embedding", k = d)
      val idx = model.rotation.map(row =>
        pca.basis.indexWhere(b => b.sameElements(row)))
      idx.grouped(d / 8).map(g => g.map(pca.eigvals).sum).toSeq
    }
    assert(perSub.max / perSub.min < 1.8,
      s"allocation left subspace variance unbalanced: $perSub")
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val opq = Similarity.opqTopK(e, q, "embedding", "vec_id", 10, model)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(opq.size == brute.size)
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val pq = Similarity.pqTopK(e, q, "embedding", "vec_id", 10, books)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val rOpq = (brute intersect opq).size.toDouble / brute.size
    val rPq = (brute intersect pq).size.toDouble / brute.size
    // the natural corpus is near-ISOTROPIC (unit-norm, eigvals within ~4x)
    // — there OPQ has no structure to exploit and parity-with-noise is the
    // honest expectation (measured 0.88 vs 0.90 at 50 queries)
    assert(rOpq >= 0.6 && rOpq >= rPq - 0.05,
      s"OPQ recall $rOpq fell materially below plain PQ $rPq")
  }

  test("PQ and OPQ training depend on the data, not its partition layout") {
    // the same embeddings hash-partitioned by id and reordered into three
    // round-robin partitions: a layout-keyed sample trains different books
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val byId = e.repartition(7, col("vec_id"))
    val reordered = e.orderBy(col("vec_id").desc).repartition(3)
    assert(Similarity.pqTrain(byId, "embedding", m = 8, ksub = 16).books ==
      Similarity.pqTrain(reordered, "embedding", m = 8, ksub = 16).books)
    val (a, b) = (Similarity.opqTrain(byId, "embedding", m = 8, ksub = 16),
      Similarity.opqTrain(reordered, "embedding", m = 8, ksub = 16))
    assert(a.rotation.map(_.toSeq).toSeq == b.rotation.map(_.toSeq).toSeq)
    assert(a.books.books == b.books.books)
  }

  test("opqTopK beats plain PQ on an anisotropic corpus (the OPQ promise, r14)") {
    // scale dim i by 1/(1+i/4): variance decays ~16x across dims, so plain
    // PQ's contiguous split gives subquantizer 0 nearly all the variance
    // while the balanced rotation spreads it — the published win condition.
    // Measured: OPQ 1.00 vs PQ 0.926 recall@10 over 50 queries.
    val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => x / (lit(1.0d) + i.cast("double") / lit(4.0d)))
          .cast("array<float>").as("embedding"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < 50)
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val model = Similarity.opqTrain(e, "embedding", m = 8, ksub = 32)
    val opq = Similarity.opqTopK(e, q, "embedding", "vec_id", 10, model)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val pq = Similarity.pqTopK(e, q, "embedding", "vec_id", 10, books)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val rOpq = (brute intersect opq).size.toDouble / brute.size
    val rPq = (brute intersect pq).size.toDouble / brute.size
    assert(rOpq > rPq, s"OPQ must beat plain PQ on skewed spectra: $rOpq vs $rPq")
    assert(rOpq >= 0.95, s"OPQ recall on the skewed corpus: $rOpq")
  }

  test("ivfTopK recall beats random cell assignment and rises with probes") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recall(nProbe: Int) = {
      val ivf = Similarity.ivfTopK(e, q, "embedding", "vec_id", 10,
        nCentroids = 8, nProbe = nProbe)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    val r2 = recall(2)
    val r8 = recall(8) // probing all cells = exact
    assert(r2 > 0.1, s"recall@2probes=$r2")
    assert(r8 > 0.99, s"probing every cell must be exact, got $r8")
  }

  test("ivfPqQuery: probing every cell recovers what plain PQ recovers") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val index = Similarity.ivfBuild(e, "embedding", "vec_id", nCentroids = 8,
      persist = false)
    val pq = Similarity.pqTopK(e, q, "embedding", "vec_id", 10, books)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // nProbe = all cells → the cell restriction is a no-op, so IVF-PQ must
    // equal plain PQ exactly (same codes, same ADC, same re-rank)
    val all = Similarity.ivfPqQuery(index, books, q, "embedding", "vec_id",
      10, nProbe = 8)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(all == pq, s"full-probe IVF-PQ diverges from PQ: ${(all diff pq).take(3)}")
    // nProbe = 2 → recall degrades gracefully, not catastrophically
    val r2 = Similarity.ivfPqQuery(index, books, q, "embedding", "vec_id",
      10, nProbe = 2)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (pq intersect r2).size.toDouble / pq.size
    assert(recall > 0.1, s"ivfpq recall@2probes=$recall")
  }

  test("ivfQueryFiltered: full probe equals brute force over the filtered corpus (r14)") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val index = Similarity.ivfBuild(e, "embedding", "vec_id", nCentroids = 8,
      persist = false)
    val allowed = e.filter(pmod(col("vec_id"), lit(3L)) === 0L).select("vec_id")
    // probing every cell makes the cell restriction a no-op, so filtered
    // IVF must EQUAL brute force over the pre-filtered corpus — same
    // candidate set, same exact cosine, same tie order
    val ivf = Similarity.ivfQueryFiltered(index, q, "embedding", "vec_id",
        allowed, k = 10, nProbe = 8)
      .select("query_id", "corpus_id", "rk")
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(
        e.filter(pmod(col("vec_id"), lit(3L)) === 0L), q,
        "embedding", "vec_id", k = 10)
      .select("query_id", "corpus_id", "rk")
      .as[(Long, Long, Long)].collect().toSet
    assert(ivf == brute, s"diff=${(ivf diff brute).take(3)}")
    // every result honors the predicate — the filter can never leak
    assert(ivf.forall(_._2 % 3 == 0))
  }

  test("ivfPqQueryFiltered: full probe equals plain PQ over the filtered corpus (r14)") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val index = Similarity.ivfBuild(e, "embedding", "vec_id", nCentroids = 8,
      persist = false)
    val allowed = e.filter(pmod(col("vec_id"), lit(3L)) === 0L).select("vec_id")
    // probing every cell makes the cell restriction a no-op, so filtered
    // IVF-PQ must equal plain PQ run over the pre-filtered corpus — same
    // codes, same ADC, same oversample cut, same exact re-rank
    val filt = Similarity.ivfPqQueryFiltered(index, books, q, "embedding",
        "vec_id", allowed, k = 10, nProbe = 8)
      .select("query_id", "corpus_id", "rk")
      .as[(Long, Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(e.filter(pmod(col("vec_id"), lit(3L)) === 0L),
        q, "embedding", "vec_id", 10, books)
      .select("query_id", "corpus_id", "rk")
      .as[(Long, Long, Long)].collect().toSet
    assert(filt == pq, s"diff=${(filt diff pq).take(3)}")
    assert(filt.forall(_._2 % 3 == 0))
  }

  test("IVF-PQ serves identically from the on-disk artifacts") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val index = Similarity.ivfBuild(e, "embedding", "vec_id", nCentroids = 8,
      persist = false)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.ivfWrite(index, s"$dir/ivf")
    Similarity.pqWrite(spark, books, s"$dir/pq")
    val live = Similarity.ivfPqQuery(index, books, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val served = Similarity.ivfPqQuery(Similarity.ivfRead(spark, s"$dir/ivf"),
        Similarity.pqRead(spark, s"$dir/pq"), q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(served == live, "on-disk index must serve the in-memory answer")
  }

  test("PQ codebooks round-trip through the JSON sidecar") {
    val e = Tables.embeddings(spark, sf)
    val books = Similarity.pqTrain(e, "embedding", m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Similarity.pqWrite(spark, books, dir)
    val loaded = Similarity.pqRead(spark, dir)
    assert(loaded.books == books.books)
    assert(loaded.normSq == books.normSq && loaded.ksub == books.ksub)
  }

  test("IVF index round-trips through the cell-partitioned parquet layout") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val built = Similarity.ivfBuild(e, "embedding", "vec_id", nCentroids = 8,
      persist = false)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.ivfWrite(built, dir)
    val loaded = Similarity.ivfRead(spark, dir)
    assert(loaded.centroids == built.centroids)
    val a = Similarity.ivfQuery(built, q, "embedding", "vec_id", k = 10, nProbe = 3)
      .select("query_id", "corpus_id", "rk").as[(Long, Long, Long)].collect().toSet
    val b = Similarity.ivfQuery(loaded, q, "embedding", "vec_id", k = 10, nProbe = 3)
      .select("query_id", "corpus_id", "rk").as[(Long, Long, Long)].collect().toSet
    assert(a == b, "probe results must be identical through the on-disk index")
    // the probe plan prunes to the selected cell partitions
    val plan = Similarity.ivfQuery(loaded, q, "embedding", "vec_id", k = 10, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"cell filter should prune index partitions:\n$plan")
  }

  test("ivfBuildDistributed trains on the cluster and probes brute-equal on the margin fixture") {
    // the >=100M-vector regime: init stays a sampled k-means++, Lloyd
    // refinement runs as assignment + elementwise-mean passes over the
    // FULL corpus. A planted copy's cell is its query's first probe under
    // ANY centroids (identical vectors rank cells identically), so the
    // margin-fixture probe must equal brute force exactly — the same
    // promotion argument as d_ann_ivf, now for the distributed trainer.
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val corpus = graft.queries.AnnQueries.annPlanted(e)
    val idx = Similarity.ivfBuildDistributed(corpus, "embedding", "vec_id",
      nCentroids = 8, iters = 2, persist = false)
    assert(idx.centroids.length == 8)
    val q = e.filter(col("vec_id") < 5)
    val probe = Similarity.ivfQuery(idx, q, "embedding", "vec_id", k = 10, nProbe = 4)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(probe == brute, "distributed-trained probe must equal brute force on the margin fixture")
    // the refinement moved the centroids off their k-means++ seeds
    val seededOnly = Similarity.ivfBuildDistributed(corpus, "embedding", "vec_id",
      nCentroids = 8, iters = 0, persist = false)
    assert(idx.centroids != seededOnly.centroids,
      "Lloyd iterations must refine the seeded centroids")
  }

  test("ivfAppend grows a durable index rebuild-equivalently and idempotently") {
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.ivfWrite(Similarity.ivfBuild(e, "embedding", "vec_id",
      nCentroids = 8, persist = false), dir)
    val before = Similarity.ivfRead(spark, dir)
    val nBefore = before.indexed.count()
    // new ids, jittered content (the ingest-batch shape)
    val incoming = e.select((col("vec_id") + 7000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => x * (lit(1.0d) + lit(0.002d) * (i % 3)))
        .cast("array<float>").as("embedding"))
    assert(Similarity.ivfAppend(spark, dir, incoming, "embedding", "vec_id")
      == incoming.count())
    val grown = Similarity.ivfRead(spark, dir)
    assert(grown.indexed.count() == nBefore + incoming.count())
    // rebuild-equivalence: every appended vector sits in the cell a full
    // re-assignment under the SAME centroids puts it in — i.e. appended
    // rows are indistinguishable from built rows to any probe
    val appended = grown.indexed.filter(col("corpus_id") >= 7000000L)
    val wrong = appended.join(incoming.select(
        col("vec_id").as("corpus_id"), col("embedding")), "corpus_id")
      .filter(col("cell") =!= element_at(
        graft.functions.VectorExprs.nearestCells(col("embedding"),
          grown.centroids), 1))
      .count()
    assert(wrong == 0, s"$wrong appended vectors mis-assigned")
    // a probe finds an appended near-duplicate through the grown index
    val probe = incoming.filter(col("vec_id") === 7000000L)
    val hits = Similarity.ivfQuery(grown, probe, "embedding", "vec_id",
      k = 3, nProbe = 2).select("corpus_id").as[Long].collect().toSet
    assert(hits.contains(0L), s"probe should surface the jitter-parent: $hits")
    // idempotence: replaying the same batch appends nothing
    assert(Similarity.ivfAppend(spark, dir, incoming, "embedding", "vec_id") == 0L)
    assert(Similarity.ivfRead(spark, dir).indexed.count() == nBefore + incoming.count())
    // cell stats cover the grown corpus exactly
    val stats = Similarity.ivfCellStats(grown)
    assert(stats.agg(sum(col("n"))).as[Long].head() == nBefore + incoming.count())
    // intra-batch duplicates (r11 advice): an at-least-once upstream can
    // repeat an id INSIDE one batch — the anti-join against disk can't see
    // that, so dedupIds must also collapse within the batch
    val dupBatch = e.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 7200000L).as("vec_id"), col("embedding"))
      .union(e.filter(col("vec_id") === 1L)
        .select((col("vec_id") + 7200000L).as("vec_id"), col("embedding")))
    assert(dupBatch.count() == 2L)
    assert(Similarity.ivfAppend(spark, dir, dupBatch, "embedding", "vec_id") == 1L,
      "an id duplicated within one batch must index exactly once")
    assert(Similarity.ivfRead(spark, dir).indexed
      .filter(col("corpus_id") === 7200001L).count() == 1L)
    // review-caught: array<double> input (Spark's default for computed
    // arrays) must CAST to the index's float layout — fed raw it reads
    // garbage in the float assignment expression AND durably corrupts the
    // cells table's schema. Identical values under a double type must land
    // in the same cell as their float twin.
    val dblRow = e.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 7500000L).as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    assert(dblRow.schema("embedding").dataType.simpleString == "array<double>")
    assert(Similarity.ivfAppend(spark, dir, dblRow, "embedding", "vec_id") == 1L)
    val after = Similarity.ivfRead(spark, dir)
    val gotCell = after.indexed.filter(col("corpus_id") === 7500003L)
      .select("cell").as[Int].head()
    val parentCell = after.indexed.filter(col("corpus_id") === 3L)
      .select("cell").as[Int].head()
    assert(gotCell == parentCell,
      "a value-identical double-typed vector must assign to its float twin's cell")
  }

  test("ivfRebuildSwap retrains from the grown cells table and publishes atomically (r13)") {
    val e = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_rb")
    graft.TempFiles.cleanupAtExit(root)
    val dir = root.toString + "/idx"
    Similarity.ivfWrite(Similarity.ivfBuild(e, "embedding", "vec_id",
      nCentroids = 4, persist = false), dir)
    // grow with shifted novel content — the quantizer-staleness scenario
    // ivfCellStats flags and this operator answers
    val incoming = e.select((col("vec_id") + 8000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(0.5d) + lit(0.3d))
        .cast("array<float>").as("embedding"))
    Similarity.ivfAppend(spark, dir, incoming, "embedding", "vec_id")
    val total = Similarity.ivfRead(spark, dir).indexed.count()
    // a read served before the swap comes from the old index, undisturbed
    val q = e.filter(col("vec_id") < 5)
    val preSwap = Similarity.ivfQuery(Similarity.ivfRead(spark, dir), q,
      "embedding", "vec_id", k = 5, nProbe = 4).collect()
    assert(preSwap.nonEmpty)
    // rebuild with MORE cells (the capacity response to growth)
    assert(Similarity.ivfRebuildSwap(spark, dir, nCentroids = 8, iters = 2)
      == total, "the rebuild must re-home every row, never drop or invent")
    val after = Similarity.ivfRead(spark, dir)
    assert(after.centroids.length == 8)
    assert(after.indexed.count() == total)
    // publish left no staging residue
    assert(!new java.io.File(dir + ".next").exists())
    assert(!new java.io.File(dir + ".old").exists())
    // recall parity with a fresh build: probing every cell of the swapped
    // index scores the full corpus — must equal brute force exactly
    val got = Similarity.ivfQuery(after, q, "embedding", "vec_id",
        k = 10, nProbe = 8)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val corpus = after.indexed
      .select(col("corpus_id").as("vec_id"), col("cv").as("embedding"))
    val brute = Similarity.bruteForceTopK(corpus, q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
    // crash recovery: an attempt that died mid-swap (index staged aside,
    // publish never happened) leaves .old as the only copy — the next
    // rebuild restores it instead of failing on a missing path
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    assert(Similarity.ivfRebuildSwap(spark, dir, nCentroids = 4, iters = 1)
      == total)
    assert(Similarity.ivfRead(spark, dir).centroids.length == 4)
  }

  test("langId is deterministic and covers zh heuristic") {
    val r = Seq("the cat is on the mat and it is fine",
      "der hund ist nicht auf der matte und das ist gut",
      "你好世界你好世界").toDF("text")
      .select(langId(col("text"))).as[String].collect()
    assert(r.toSeq == Seq("en", "de", "zh"))
  }

  test("fingerprint is stable across whitespace normalization") {
    val a = Seq("hello  world   foo bar baz qux").toDF("text")
      .select(contentHash(col("text"))).as[Long].collect()(0)
    val b = Seq("hello world foo bar baz qux").toDF("text")
      .select(contentHash(col("text"))).as[Long].collect()(0)
    assert(a == b)
  }

  test("crossNearDedup drops near-dups of the reference, keeps novel docs") {
    val docs = Tables.documents(spark, sf)
    val mutated = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"))
    val exactCopies = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
      .select((col("doc_id") + SHIFT).as("doc_id"), col("text"))
    val novel = docs.filter(col("doc_id") >= 40 && col("doc_id") < 70)
      .select((col("doc_id") + 2 * SHIFT).as("doc_id"),
        array_join(reverse(tokens(col("text"))), " ").as("text"))
    val incoming = mutated.unionByName(exactCopies).unionByName(novel)
    val kept = Dedup.crossNearDedup(incoming, docs.select("doc_id", "text"),
        "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == novel.select("doc_id").as[Long].collect().toSet,
      s"survivors must be exactly the reversed (novel) docs; got ${kept.size}")
  }

  test("semanticDedup with nCells=1 equals the brute-force pairwise min-id rule") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
      .select("vec_id", "embedding")
    // perturbed near-copies (cos ~ 0.999) + the untouched originals
    val doubled = e.unionByName(e.select((col("vec_id") + SHIFT).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).cast("array<float>")
        .as("embedding")))
    val got = Dedup.semanticDedup(doubled, "embedding", "vec_id",
        nCells = 1, threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    // brute truth: drop any id with a smaller-id mate above threshold
    val a = doubled.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = doubled.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val doomed = a.join(b, col("id_b") < col("id_a"))
      .filter(graft.functions.VectorExprs.cosineSim(col("va"), col("vb")) > 0.98)
      .select("id_a").as[Long].collect().toSet
    val want = doubled.select("vec_id").as[Long].collect().toSet -- doomed
    assert(got == want)
    assert(got == e.select("vec_id").as[Long].collect().toSet,
      "survivors should be exactly the original ids (min-id keeper)")
  }

  test("semanticDedup drops exact copies under ANY cell count (same-cell by construction)") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 80)
      .select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    for (nCells <- Seq(2, 8)) {
      val kept = Dedup.semanticDedup(doubled, "embedding", "vec_id",
          nCells = nCells, threshold = 0.98)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == e.select("vec_id").as[Long].collect().toSet,
        s"nCells=$nCells")
    }
  }

  test("simhashVerifiedPairs emits exactly the exact-Jaccard pair set on a margin corpus") {
    // 40 docs with >= 30 tokens + drop-last-word near-dups (J >= 29/31) +
    // reversed-token novels (J ~ 0): the simhash gate at maxDist=7 recalls
    // every true pair (token mass concentrates the hamming), and the exact
    // verification kills background collisions — output == exact pair set.
    val base = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 30)
      .filter(col("doc_id") < 60).select("doc_id", "text")
    val nearDups = base.select((col("doc_id") + SHIFT).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"))
    val novels = base.select((col("doc_id") + 2 * SHIFT).as("doc_id"),
      array_join(reverse(graft.functions.TextFunctions.tokens(col("text"))), " ")
        .as("text"))
    val corpus = base.unionByName(nearDups).unionByName(novels)
    val got = Dedup.simhashVerifiedPairs(corpus, "text", "doc_id", maxDist = 7)
      .as[(Long, Long)].collect().toSet
    // exact truth: every pair with word-3-shingle Jaccard >= 0.5
    val sh = corpus.select(col("doc_id"),
      graft.functions.ShingleHash.wordShingleHashes(col("text"), 3, sorted = true)
        .as("sh"))
    val want = sh.toDF("id_a", "sh_a")
      .join(sh.toDF("id_b", "sh_b"), col("id_a") < col("id_b"))
      .filter(graft.functions.JaccardExpr.jaccardSorted(col("sh_a"), col("sh_b")) >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty && want.size >= base.count().toInt / 2,
      s"fixture should have plenty of true pairs, got ${want.size}")
  }

  test("semanticDedup maxCellSize guard: a skew-planted cell splits, exact copies still drop") {
    // nCells=1 plants ALL rows in one cell — the worst k-means skew.
    // maxCellSize=50 over 400 rows forces ceil(400/50)=8 hash sub-cells;
    // identical vectors hash identically, so every planted exact-copy pair
    // stays co-located and the answer is unchanged by the guard.
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      .select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    val kept = Dedup.semanticDedup(doubled, "embedding", "vec_id",
        nCells = 1, threshold = 0.98, maxCellSize = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == e.select("vec_id").as[Long].collect().toSet)
  }

  test("semanticDedup maxCellSize guard: per-task pair work stays bounded under skew") {
    // Pin the split arithmetic itself: with n=400 and cap 50, the vector
    // hash spreads the planted monster cell over 8 sub-cells and no
    // sub-cell holds more than 2x the cap — so the per-task pair count is
    // O(maxCellSize²), not O(n²). (Same formula as the operator; this is
    // the scale contract, not a uniformity benchmark.)
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      .select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    val n = doubled.count()
    val cap = 50
    val splits = math.ceil(n.toDouble / cap).toInt
    val sizes = doubled
      .groupBy(pmod(hash(col("embedding")), lit(splits)).as("subcell"))
      .count().select("count").as[Long].collect()
    assert(sizes.length == splits, s"expected $splits sub-cells, got ${sizes.length}")
    assert(sizes.max <= 2L * cap,
      s"hash split left a sub-cell of ${sizes.max} rows (cap $cap)")
  }

  test("margin-fixture ANN family: sq8, lsh, ivf, pq, ivfpq ALL equal the exact top-10") {
    // The r7 oracle-promotion claim, verified in-engine: on the planted
    // exact-copy fixture every approximate family reproduces brute force
    // bit-for-bit — copies are provably candidates (shared bucket / cell /
    // ADC separation) and each family's final scoring or re-rank is exact.
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(
        graft.queries.AnnQueries.annPlanted(e), q, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id", "rk")
      .as[(Long, Long, Long)].collect().toSet
    for (name <- Seq("d_ann_sq8", "d_ann_lsh", "d_ann_ivf", "d_ann_ivf_disk",
                     "d_ann_pq", "d_ann_ivfpq")) {
      val out = SparkEntry.queries(name)(spark, sf)
        .select("query_id", "corpus_id", "rk")
        .as[(Long, Long, Long)].collect().toSet
      assert(out == brute, s"$name diverged from exact top-10 on the margin fixture")
    }
  }

  test("PQ ADC separation: planted copies outscore every natural background pair") {
    // The measured fact the d_ann_pq / d_ann_ivfpq oracles rest on
    // (0.730/0.451 at sf0.01, 0.660/0.473 at sf0.1): min copy ADC strictly
    // above max background ADC, so copies survive ANY top-N ADC cut.
    import graft.functions.{PqAdcExpr, PqEncodeExpr, PqLutExpr}
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val corpus = graft.queries.AnnQueries.annPlanted(e)
    val books = Similarity.pqTrain(e, "embedding", m = 8, ksub = 32)
    val qv = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"),
      toCol(PqLutExpr(toExpr(col("embedding")), books.books, books.ksub)).as("lut"))
    val enc = corpus.select(col("vec_id").as("corpus_id"),
      toCol(PqEncodeExpr(toExpr(col("embedding")), books.books)).as("codes"))
    val scored = enc.join(broadcast(qv), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        toCol(PqAdcExpr(toExpr(col("lut")), toExpr(col("codes")),
          books.normSq, books.ksub)).as("adc"))
    val isCopy = col("corpus_id") >= lit(100000L) + col("query_id") * 10 &&
      col("corpus_id") <= lit(100000L) + col("query_id") * 10 + 9
    val minCopy = scored.filter(isCopy).agg(min("adc")).head.getDouble(0)
    val maxBg = scored.filter(!isCopy).agg(max("adc")).head.getDouble(0)
    assert(minCopy > maxBg,
      s"ADC margin collapsed: minCopy=$minCopy maxBg=$maxBg")
  }

  test("quality scoring orders degenerate text below natural text") {
    val df = Seq(
      ("natural", "the quick brown fox jumps over the lazy dog and it is a fine day for running in the park with friends and family members who are happy"),
      ("punct", "!!! ??? ;;; ,,, ... !!! ??? ;;; ,,, ... !!! ??? ;;;"),
      ("tiny", "hi")
    ).toDF("kind", "text")
    val scores = df.select(col("kind"), qualityScore(col("text")).as("q"))
      .as[(String, Long)].collect().toMap
    assert(scores("natural") > scores("punct"))
    assert(scores("natural") > scores("tiny"))
  }
}
