package graft.operators

import graft.Checkpoints
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for training-data pipelines (SURVEY.md §2e).
  *
  * Scale design: every variant generates candidate pairs through ONE shuffle
  * on a bucket key (content hash / LSH band / simhash chunk / blocking key)
  * — never an unbounded cross join — then verifies candidates with per-pair
  * expressions. This is the shape that survives 100 TB: candidate volume is
  * bounded by bucket sizes, and AQE's skew-join splitting handles hot
  * buckets.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per normalized content hash.
    * One hash-shuffle; no sort, no window over the whole table.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("__h", contentHash(col(textCol)))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Exact dedup returning the surviving rows (all columns). This path
    * DELETES rows, so the grouping key is the 256-bit contentDigest, not
    * [[exact]]'s 64-bit report hash — at billions of documents an xxhash64
    * birthday collision would merge two different documents into one group
    * and silently drop the non-minimum one (the crossDedup rule).
    */
  def exactRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(contentDigest(col(textCol)).as("__d"), col(idCol))
      .groupBy(col("__d")).agg(min(col(idCol)).as("keep_id"))
      .select(col("keep_id"))
    df.join(keep, df(idCol) === col("keep_id"), "left_semi")
  }

  /** Incremental-ingestion dedup: drop rows of `incoming` whose normalized
    * content already exists in `reference` — the daily-crawl-vs-historical-
    * index step that runs BEFORE within-batch dedup in a continuously fed
    * pipeline. Both sides reduce to 8-byte content hashes before the join
    * (the exchange never carries text), and the reference side collapses to
    * distinct hashes first, so the anti-join's build input is bounded by
    * the reference's distinct-content count, not its row count.
    */
  def crossDedup(incoming: DataFrame, reference: DataFrame,
                 textCol: String): DataFrame = {
    // 256-bit digest, not contentHash's 64-bit xxhash: this key DELETES
    // rows, and at billions of reference docs a 64-bit collision with
    // unrelated content silently drops a non-duplicate. 32-byte keys still
    // shuffle fine — the text itself never crosses the wire.
    val refHashes = reference.select(contentDigest(col(textCol)).as("__h")).distinct()
    incoming.withColumn("__h", contentDigest(col(textCol)))
      .join(refHashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Shingle hashes per row: id column + xxhash64 of each word k-shingle,
    * computed map-side in ONE fused codegen pass
    * (graft.functions.WordShingleHashExpr) — the text itself never crosses
    * the wire; the single exchange here carries `(id, array<long>)`. It has
    * no partition count, so under the session's size-first coalescing AQE
    * folds it to about bytes / 256 MB tasks: at 2,000 docs minhashPairs'
    * signature stage runs as ONE task, and the exchange does not spread the
    * downstream signature work (pinning a count is its own, measured change).
    * The earlier higher-order-function formulation needed a full-text
    * shuffle barrier to dodge CollapseProject re-evaluation; the fused
    * expression removes both the interpreted per-element cost and the text
    * payload.
    */
  private def shingleHashes(df: DataFrame, textCol: String, idCol: String,
                            shingleK: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.ShingleHash.wordShingleHashes(col(textCol), shingleK).as("sh"))
      .repartition(col("id"))

  /** MinHash signature from materialized shingle hashes: `nHashes`
    * permutation minima in one codegen'd fused loop (SplitMix64 rehash per
    * seed — see graft.functions.MinHashSigExpr; the expression-tree
    * formulation costs nHashes × |shingles| interpreted evals per row).
    */
  private def signatureOf(sh: Column, nHashes: Int): Column =
    graft.functions.MinHashExpr.minhashSignature(sh, nHashes)

  /** MinHash + LSH near-dup pairs (Broder'97 / LSH banding):
    * signature → `bands` bands of `nHashes/bands` rows → explode → shuffle
    * once on (band index, band hash) → pairs within bucket → estimated
    * Jaccard (fraction of agreeing minhashes) ≥ `threshold`.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 3, nHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7): DataFrame = {
    // bands > nHashes makes every band slice EMPTY (all docs share every
    // band key — a full quadratic join); a non-dividing bands silently
    // ignores the signature's tail hashes, weakening the LSH guarantee
    require(bands > 0 && nHashes % bands == 0,
      s"minhashPairs: bands ($bands) must divide nHashes ($nHashes)")
    val rows = nHashes / bands
    // shingle hashes map-side, then one (id, hashes) exchange; the MinHash
    // signature computes post-exchange in parallel. The signature table is
    // materialized once (localCheckpoint) because THREE consumers need it —
    // the band explode and both sides of the survivor scoring join; at
    // cluster scale this is the signature table a dedup pipeline writes to
    // parquet anyway. `sig` is referenced by every band expression below,
    // which CollapseProject leaves alone (non-cheap alias used repeatedly).
    val sig = shingleHashes(df, textCol, idCol, shingleK)
      .select(col("id"), signatureOf(col("sh"), nHashes).as("sig"))
      .localCheckpoint()

    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array_join(slice(col("sig"), b * rows + 1, rows), ",")).as("bh"))
    }
    // the band exchange carries (band, bh, id) ONLY — 20 bytes per tuple
    // instead of the full signature × bands; signatures rejoin below, once,
    // and only for candidate pairs
    val banded = sig.select(col("id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bh").as("bh"))
    val l = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    val pairs = l.join(r, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

    // codegen'd agreement fraction — one fused loop per candidate pair
    pairs
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.MinHashExpr.sigAgree(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Cross-batch NEAR-dup filter — the minhash companion of [[crossDedup]]
    * for a continuously fed pipeline: incoming documents are dropped when
    * the REFERENCE corpus (yesterday's accepted data) already contains a
    * near-duplicate. Both sides reduce to minhash signatures; LSH banding
    * generates candidates (one (band, bandhash) exchange carrying ids, as
    * in [[minhashPairs]]), candidates verify by signature-agreement ≥
    * `threshold`, and verified incoming ids anti-join out.
    *
    * At cluster scale the reference side is a PERSISTED signature table
    * (band hashes precomputed once, reused every ingest batch — pass
    * `referenceSignatures`/band output of a prior run); here it derives
    * from the reference text for a self-contained call. The reference
    * TEXT never shuffles either way — only signatures and 20-byte band
    * tuples.
    */
  def crossNearDedup(incoming: DataFrame, reference: DataFrame,
                     textCol: String, idCol: String,
                     shingleK: Int = 3, nHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.7): DataFrame = {
    // same degenerate as minhashPairs (r8): bands > nHashes empties every
    // band slice — all docs share all band keys, the candidate join goes
    // quadratic AND every incoming doc "matches" the reference; a
    // non-dividing bands silently drops the signature's tail hashes
    require(bands > 0 && nHashes % bands == 0,
      s"crossNearDedup: bands ($bands) must divide nHashes ($nHashes)")
    val rows = nHashes / bands
    def sigsOf(df: DataFrame): DataFrame =
      shingleHashes(df, textCol, idCol, shingleK)
        .select(col("id"), signatureOf(col("sh"), nHashes).as("sig"))
        .localCheckpoint()
    def bandsOf(sig: DataFrame): DataFrame = {
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(array_join(slice(col("sig"), b * rows + 1, rows), ",")).as("bh"))
      }
      sig.select(col("id"), explode(array(bandStructs: _*)).as("e"))
        .select(col("id"), col("e.band").as("band"), col("e.bh").as("bh"))
    }
    val inSig = sigsOf(incoming)
    val refSig = sigsOf(reference)
    val candidates = bandsOf(inSig)
      .join(bandsOf(refSig).select(col("band"), col("bh"), col("id").as("ref_id")),
        Seq("band", "bh"))
      .select(col("id"), col("ref_id")).distinct()
    val doomed = candidates
      .join(inSig.select(col("id"), col("sig").as("sig_in")), "id")
      .join(refSig.select(col("id").as("ref_id"), col("sig").as("sig_ref")), "ref_id")
      .filter(graft.functions.MinHashExpr.sigAgree(col("sig_in"), col("sig_ref"))
        >= threshold)
      .select(col("id")).distinct()
    // qualified left reference: with idCol == "id" a bare col(idCol) is
    // ambiguous against doomed's own "id"
    incoming.join(doomed, incoming(idCol) === doomed("id"), "left_anti")
  }

  /** LSH band keys of a text column as ONE array<long> per row — each key
    * hashes (band index, that band's signature slice), so equal keys mean
    * "same band content in the same band position". Per-row building block
    * for set-membership gates (the streaming cross-batch near-dup filter)
    * where the banded self-join form isn't available. Call on a column
    * that already carries the signature (see [[bandKeysFromSig]]) or use
    * the two-step select in callers so the signature computes once per
    * row, not once per band.
    */
  private[graft] def bandKeysFromSig(sig: Column, nHashes: Int,
                                     bands: Int): Column = {
    // bands > nHashes makes rows = 0 → every slice empty → ALL documents
    // share ALL band keys; through the streaming bloom gate
    // (crossNearDedupStream) that degenerates to dropping the ENTIRE
    // stream with no error. Reject like minhashPairs (r10).
    require(bands > 0 && nHashes % bands == 0,
      s"bandKeys: bands ($bands) must divide nHashes ($nHashes)")
    val rows = nHashes / bands
    array((0 until bands).map { b =>
      xxhash64(lit(b), array_join(slice(sig, b * rows + 1, rows), ","))
    }: _*)
  }

  private[graft] def signatureColumn(text: Column, shingleK: Int,
                                     nHashes: Int): Column =
    graft.functions.MinHashExpr.minhashSignature(
      graft.functions.ShingleHash.wordShingleHashes(text, shingleK), nHashes)

  /** 64-bit SimHash (Charikar'02): per token-hash bit, sum ±1 across tokens,
    * sign gives the bit — computed per row in one codegen'd pass
    * (graft.functions.SimHashExpr), so signatures need NO shuffle for their
    * own sake. The unnumbered `repartition(col("id"))` below does not spread
    * the signature work either: AQE's size-first coalescing folds it to one
    * task on small inputs, as in [[shingleHashes]]; the fanout that keeps
    * simhash dedup parallel is simhashPairs' explicit pigeonhole one.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.ShingleHash.tokenHashes(col(textCol)).as("th"))
      .repartition(col("id"))
      .select(col("id"),
        graft.functions.SimHashExprApi.simhashOf(col("th")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`, paired by the
    * pigeonhole trick: split the 64-bit signature into `maxDist+1` chunks —
    * any pair within distance must agree on ≥1 chunk, so candidates come
    * from one shuffle on (chunk index, chunk value).
    *
    * Enumeration runs over DISTINCT SIGNATURES, not documents. Token-
    * weighted signatures concentrate hard — measured on a 38,830-doc corpus:
    * 3,847 distinct signatures, and the hottest (chunk, value) bucket held
    * 13,200 docs (~87M within-bucket pairs, ~20 min of one core) but only
    * 1,306 distinct signatures (~0.85M pairs). So: (1) identical-signature
    * groups pair directly (hamming 0) — that expansion is output-sized,
    * every such pair is a true candidate; (2) the pigeonhole join runs on
    * the distinct-signature table, with the ≤ maxDist cut applied map-side
    * (hamming is pair-constant, so cutting before the dedup exchange is
    * exact) and an explicit partition count pinning the exchange open
    * (the table is tiny — AQE would otherwise coalesce the enumeration
    * into one task); (3) surviving signature pairs expand back to id
    * pairs, again output-sized. Quadratic work thus tracks CONTENT
    * diversity, not corpus size — replicated corpora (the common case at
    * scale: crawl snapshots, mirrored shards) cost what their distinct
    * content costs.
    *
    * Lifecycle: the result reads a persisted signature table; a long-lived
    * session frees it with [[graft.queries.Artifacts.reclaim]] after use.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3): DataFrame = {
    // maxDist 0 would make width 64 and (1L << 64) wrap to mask 0 — every
    // signature in ONE bucket, a full quadratic join (intra already covers
    // hamming 0); past 31 the chunk width collapses below 2 bits and the
    // pigeonhole blocks stop pruning
    require(maxDist >= 1 && maxDist <= 31,
      s"simhashPairs: maxDist must be in [1, 31], got $maxDist " +
        "(exact-signature dedup is the within-group intra path)")
    val chunks = maxDist + 1
    val width = 64 / chunks
    // the signature table feeds FIVE subtrees of this one plan (the
    // identical-signature self-join's two sides, the distinct-signature
    // enumeration, and the two expansion joins) — unpersisted, each
    // consumer re-runs the corpus scan + tokenize + simhash (r17 plan
    // audit: 5 tokenize passes per invocation). Persist the 16-byte
    // (id, simhash) rows so the corpus tokenizes ONCE.
    val sig = Checkpoints.persist(simhash(df, textCol, idCol))

    // (1) identical signatures: all id pairs within a group, hamming 0
    val ga = sig.select(col("simhash"), col("id").as("id_a"))
    val gb = sig.select(col("simhash"), col("id").as("id_b"))
    val intra = ga.join(gb, "simhash").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))

    // (2) pigeonhole over distinct signatures
    val u = sig.select(col("simhash")).distinct()
    val chunkStructs = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * width).bitwiseAND((1L << width) - 1).as("cv"))
    }
    val fanout = sig.sparkSession.sessionState.conf.numShufflePartitions
    val chunked = u.select(col("simhash"), explode(array(chunkStructs: _*)).as("e"))
      .select(col("simhash"), col("e.chunk").as("chunk"), col("e.cv").as("cv"))
      .repartition(fanout, col("chunk"), col("cv"))
    val l = chunked.select(col("chunk"), col("cv"), col("simhash").as("sh_a"))
    val r = chunked.select(col("chunk"), col("cv"), col("simhash").as("sh_b"))
    val sigPairs = l.join(r, Seq("chunk", "cv")).filter(col("sh_a") < col("sh_b"))
      .select(col("sh_a"), col("sh_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("sh_a"), col("sh_b")).agg(min(col("hamming")).as("hamming"))

    // (3) expand signature pairs back to id pairs (distinct groups, so
    // least/greatest orients every pair exactly once)
    val inter = sigPairs
      .join(sig.select(col("simhash").as("sh_a"), col("id").as("ia")), "sh_a")
      .join(sig.select(col("simhash").as("sh_b"), col("id").as("ib")), "sh_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))

    intra.unionByName(inter)
  }

  /** SimHash-gated EXACT near-dup pairs: [[simhashPairs]] generates
    * candidates (pigeonhole chunks — one shuffle on (chunk, value),
    * guaranteed to surface every pair within `maxDist` hamming), then each
    * candidate verifies by exact word-shingle Jaccard and only pairs with
    * true J ≥ `threshold` survive. Splitting the roles fixes what keeps
    * raw simhash rows-only: the candidate set is hash-shaped (background
    * pairs can collide down to hamming 0), but the VERIFIED set is a pure
    * similarity statement — margin-separable corpora make it
    * deterministic and oracle-checkable, the promotion path minhash took.
    * Precision is exact by construction; recall is the simhash gate's
    * (a true pair hashing beyond `maxDist` is skipped — widen `maxDist`
    * to trade candidate volume for recall).
    *
    * Scale shape: candidates exchange id-only tuples; the shingle arrays
    * join back per-candidate through two hash joins, so text-sized data
    * never rides the pair explosion.
    *
    * Lifecycle: as [[simhashPairs]]', plus a persisted shingle table.
    */
  def simhashVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                           maxDist: Int = 7, shingleK: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    // the shingle table joins into BOTH sides of every candidate pair —
    // persist it so the corpus shingles once instead of once per side
    val sh = Checkpoints.persist(df.select(col(idCol).as("id"),
      graft.functions.ShingleHash.wordShingleHashes(col(textCol), shingleK,
        sorted = true).as("sh")))
    val cands = simhashPairs(df, textCol, idCol, maxDist)
      .select(col("id_a"), col("id_b"))
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(graft.functions.JaccardExpr.jaccardSorted(col("sh_a"), col("sh_b"))
        >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Character n-gram Jaccard pairs within a blocking key (e.g. language +
    * source). Exact Jaccard on distinct n-gram sets; candidate enumeration
    * auto-selects between the block-bounded quadratic walk and an exact
    * PPJoin prefix filter by the measured hottest-block population (a
    * `maxQuadraticBlock` override of 0 forces the prefix path). NOTE: the
    * auto-selection runs one small planning aggregate EAGERLY — a
    * tokenize-free per-block document count (an upper bound on the rep
    * count); only when that bound overflows the quadratic budget does the
    * exact rep-count aggregate (which tokenizes) run as a second planning
    * job. This operator is batch-only and the planning job is a fraction
    * of the pair enumeration it sizes.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCols: Seq[String], n: Int = 4,
                        threshold: Double = 0.8,
                        maxQuadraticBlock: Int = 8192): DataFrame = {
    // n-gram hashes map-side in one fused pass (normalize → grams → hash →
    // sort, graft.functions.NGramHashExpr: sorted so the per-pair scorer is
    // a codegen'd merge walk; hashed so set ops compare 8-byte longs and no
    // exchange carries text — 64-bit collisions can't move a Jaccard
    // across the threshold).
    // EXACT-COLLAPSE first (the simhashPairs / embeddingPairs scheme):
    // documents with identical gram sets in the same block score
    // identically, so candidate generation and scoring run over DISTINCT
    // (block, gram-set) representatives and expand back output-sized —
    // identical-set pairs at the set's self-Jaccard (exactly 1.0 from the
    // same merge-walk expression), cross-set pairs at the rep pair's
    // score. Replicated corpora cost what their distinct content costs;
    // candidate generation over the distinct sets auto-selects between the
    // |block|² walk and the r8 prefix filter (see below).
    val s = df.select(
        (col(idCol).as("id") +:
          graft.functions.ShingleHash.ngramHashes(col(textCol), n).as("grams") +:
          blockCols.map(col)): _*)
    val grouped = s.groupBy((col("grams") +: blockCols.map(col)): _*)
      .agg(min(col("id")).as("rep"))
    val members = s.join(grouped, "grams" +: blockCols)
      .select(col("id"), col("rep"))
    val g = grouped.select((col("rep") +: col("grams") +: blockCols.map(col)): _*)
    val jac = graft.functions.JaccardExpr.jaccardSorted(col("grams_a"), col("grams_b"))
    // size-ratio prefilter: J(A,B) >= t forces |A| and |B| within factor 1/t,
    // so prune before the (much more expensive) set intersection
    val sizeOk = size(col("grams_a")).cast(DoubleType) >= size(col("grams_b")) * threshold &&
      size(col("grams_b")).cast(DoubleType) >= size(col("grams_a")) * threshold
    // CANDIDATE STRATEGY — auto-selected on the measured hottest block
    // population (one cheap aggregate over the already-shuffled distinct
    // table). Both paths verify exactly (size-ratio cut, then the sorted
    // merge-walk), so results — and the DuckDB oracle — are identical;
    // only candidate ENUMERATION differs:
    //  - |block|² walk (hottest block <= maxQuadraticBlock): all rep pairs
    //    within a block behind an explicit-fanout repartition (AQE would
    //    coalesce the tiny-bytes/huge-CPU exchange to one task). Zero
    //    index overhead; right while block populations are modest — the
    //    walk is a codegen'd in-memory loop, measured cheaper than any
    //    index below ~10k reps/block (DEDUPSCALE_r08: 46 s vs 68 s at
    //    1.5k/block with DENSE 30-way near-dup groups, where every true
    //    pair re-surfaces through ~p shared prefix grams).
    //  - PPJoin-style PREFIX FILTER (Xiao et al., WWW'08 — exact, no false
    //    negatives) beyond that: J(A,B) >= t forces |A∩B| >= ceil(t·|A|)
    //    and >= ceil(t·|B|) (J = O/(|A|+|B|-O) >= t with |B| >= O gives
    //    O >= t|A|), and an overlap of α elements under ANY common total
    //    order cannot avoid a set's first |X| - α + 1 elements — so every
    //    qualifying pair shares a gram in BOTH prefixes. The order is
    //    ascending block-local DOCUMENT FREQUENCY (PPJoin's canonical
    //    choice): prefixes hold each set's RAREST grams, so candidate
    //    volume tracks shared-rare-gram frequency instead of population²
    //    — hash order instead puts boilerplate grams in prefixes and one
    //    hot (block, gram) key regenerates the |block|² blowup (measured:
    //    OOM at 150k docs). Index cost is linear (explode + df count +
    //    per-set sort); candidates join on (block, gram) — keys FINER
    //    than the block, so parallelism no longer caps at the block count.
    //    This unlocks the single-hot-block corpora the r7 scale harness
    //    flagged as the operator's limit.
    // TWO-TIER decision (r16, guide §1.2): the exact hottest-block rep
    // count tokenizes the whole corpus in its own action — a full extra
    // pipeline run per invocation just to pick a strategy. The raw
    // per-block DOCUMENT count is a sound upper bound on the rep count
    // (collapse only removes rows) and needs no tokenize — a
    // column-pruned count over blockCols alone. When even the bound fits
    // the quadratic budget, the choice is identical to the exact one (reps
    // ≤ docs ≤ budget) and the tokenize-bearing decision job never runs;
    // only corpora whose raw blocks overflow the budget (heavy replication
    // or one hot block) pay the exact rep count, where the two paths'
    // costs actually diverge. Both paths verify exactly, so the selected
    // strategy never changes results — only enumeration cost.
    // maxQuadraticBlock <= 0 is the documented force-the-prefix-path
    // override — take it with ZERO planning jobs (r17, ADVICE: the r16
    // two-tier gate still ran both planning aggregates in that case, since
    // docBound > 0 on any non-empty input can never fit a 0 budget)
    val hottest = if (maxQuadraticBlock <= 0) Long.MaxValue else {
      val docBound = Option(df.groupBy(blockCols.map(col): _*).count()
        .agg(max(col("count"))).head.get(0)).map(_.asInstanceOf[Long])
        .getOrElse(0L) // empty input: max over zero groups is a null row
      if (docBound <= maxQuadraticBlock) docBound
      else Option(grouped.groupBy(blockCols.map(col): _*).count()
        .agg(max(col("count"))).head.get(0)).map(_.asInstanceOf[Long])
        .getOrElse(0L)
    }
    val repPairs = if (hottest <= maxQuadraticBlock) {
      val fanout = df.sparkSession.sessionState.conf.numShufflePartitions
      val gq = g.repartition(fanout, blockCols.map(col): _*)
      val l = gq.toDF(("rep_a" +: "grams_a" +: blockCols): _*)
      val r = gq.toDF(("rep_b" +: "grams_b" +: blockCols): _*)
      l.join(r, blockCols).filter(col("rep_a") < col("rep_b") && sizeOk)
        .select(col("rep_a"), col("rep_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      val ex = g.select((col("rep") +: size(col("grams")).as("sz") +:
        explode(col("grams")).as("gram") +: blockCols.map(col)): _*)
      val dfreq = ex.groupBy((col("gram") +: blockCols.map(col)): _*)
        .agg(count(lit(1)).as("df"))
      // per-set rarest-first rank via a keyed WINDOW (sort-based, spills;
      // a collect_list aggregation here holds every set's gram structs in
      // task hash maps at once — measured Java-heap OOM at 150k one-block
      // docs under local[32]). Every join in this path carries a
      // shuffle_merge hint: the sides are gram-table-sized (millions of
      // rows / arrays of hundreds of longs), and AQE's post-shuffle size
      // estimate tried to BROADCAST the df table at the one-block scale —
      // measured driver broadcast-build OOM.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("rep")).orderBy(col("df"), col("gram"))
      val pref = ex.join(dfreq.hint("shuffle_merge"), "gram" +: blockCols)
        .withColumn("rn", row_number().over(w))
        .withColumn("__o0", ceil(col("sz") * threshold).cast("int"))
        // minimal overlap o consistent with the FINAL filter's double
        // comparison: double-ceil can overshoot by 1 ulp (e.g. 55*0.8 ->
        // 44.000000000000004 -> 45) which would shorten the prefix and drop
        // exact-threshold pairs the quadratic path keeps — step down while
        // (o-1)/sz still passes the same comparison the jaccard filter runs
        .withColumn("__omin", when(
            (col("__o0") - 1).cast("double") / col("sz").cast("double")
              >= threshold, col("__o0") - 1).otherwise(col("__o0")))
        .filter(col("rn") <= greatest(lit(1),
          col("sz") - col("__omin") + lit(1)))
        .select((col("rep") +: col("gram").as("pg") +: col("rn") +:
          col("sz") +: blockCols.map(col)): _*)
      // POSITIONAL filter (PPJoin's second, exact pruning — r9; this is
      // the "finer blocking" lever the r8 scale harness asked for): a
      // candidate row pairs two sets through a shared prefix gram at
      // 1-based df-order positions (rn_a, rn_b); at most
      // omax = 1 + min(sz_a - rn_a, sz_b - rn_b) elements can overlap
      // from there on. For a truly-qualifying pair the EARLIEST shared
      // gram row has every one of its O >= t-required overlap elements at
      // or after (rn_a, rn_b) in both orders, so that row's omax >= O and
      // its bound J <= omax/(sz_a+sz_b-omax) passes — pruning rows whose
      // bound fails can never lose a qualifying pair (it only drops
      // LATE-shared-gram rows the distinct() would collapse anyway, and
      // never-qualifying pairs entirely). On low-entropy corpora, where
      // every template-mate shares rare grams LATE in huge sets, this is
      // the difference between candidate volume tracking true similarity
      // mass vs tracking shared-boilerplate mass. The 1e-9 slack keeps
      // the double division from pruning an exact-threshold pair the
      // final exact jaccard filter would keep.
      val omax = lit(1) +
        least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
      val candidates = pref
        .toDF(("rep_a" +: "pg" +: "rn_a" +: "sz_a" +: blockCols): _*)
        .join(pref.toDF(("rep_b" +: "pg" +: "rn_b" +: "sz_b" +: blockCols): _*)
          .hint("shuffle_merge"), "pg" +: blockCols)
        .filter(col("rep_a") < col("rep_b"))
        .filter(omax.cast(DoubleType) /
          (col("sz_a") + col("sz_b") - omax).cast(DoubleType)
          >= threshold - 1e-9)
        .select(col("rep_a"), col("rep_b")).distinct()
      candidates
        .join(g.select(col("rep").as("rep_a"), col("grams").as("grams_a"))
          .hint("shuffle_merge"), "rep_a")
        .join(g.select(col("rep").as("rep_b"), col("grams").as("grams_b"))
          .hint("shuffle_merge"), "rep_b")
        .filter(sizeOk)
        .select(col("rep_a"), col("rep_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
    val intra = members.select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .join(g.select(col("rep"),
        graft.functions.JaccardExpr.jaccardSorted(col("grams"), col("grams"))
          .as("jaccard")), "rep")
      .select(col("id_a"), col("id_b"), col("jaccard"))
      // jaccardSorted(g,g) is 1.0 today, but an empty-gram-set or future
      // scorer change must not leak sub-threshold self-pairs: filter
      // defensively (output-sized, negligible)
      .filter(col("jaccard") >= threshold)
    val inter = repPairs
      .join(members.select(col("rep").as("rep_a"), col("id").as("ia")), "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("id").as("ib")), "rep_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    intra.unionByName(inter)
  }

  /** C4/RefinedWeb-style line-level dedup: drop every line whose exact
    * content appears in more than `maxDocs` documents corpus-wide (the
    * boilerplate-removal pass — nav bars, cookie banners, license headers).
    *
    * Shape: lines explode with their position, the corpus-wide frequency
    * count groups on the 8-byte line hash (map-side partial combine — the
    * exchange carries (hash, count), never line text), offenders anti-join
    * out, and documents reassemble by sorting the surviving (pos, line)
    * structs per document. Returns (`idCol`, `clean_text`); documents whose
    * every line was boilerplate come back with an empty string.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                maxDocs: Int = 1, sep: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF("id", "pos", "line")
      // 256-bit digest: this key DELETES lines corpus-wide (the crossDedup
      // rule) — at ~1e12 distinct lines an xxhash64 birthday collision
      // would strip an innocent line from every document
      .withColumn("lh", sha2(col("line"), 256))
    val boilerplate = lines.groupBy(col("lh"))
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("lh"))
    val kept = lines.join(boilerplate, Seq("lh"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), sep).as("clean_text"))
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Cross-document duplicated-SPAN coverage: for every document, how many
    * of its word `k`-shingle positions are covered by a span that also
    * occurs in at least one OTHER document. This is the per-document signal
    * behind substring-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): document-level near-dup misses
    * the long quoted block two otherwise-different pages share, while span
    * coverage surfaces exactly that.
    *
    * Shape: spans hash map-side in one fused codegen pass
    * ([[graft.functions.ShingleHash.positionShingleHashes]] — duplicates
    * kept, one hash per span START), so the first exchange carries
    * `(id, hash)` 16-byte pairs, never text; the span document-frequency is
    * a partial-combined aggregate on the 8-byte hash; and the coverage
    * attach is an equi-join on that hash. Nothing in the plan ever holds a
    * span string. A cross-document 64-bit collision can only nudge a
    * coverage COUNT (never fabricate a pair), at ~2⁻⁶⁴ per span pair.
    *
    * Returns (`idCol`, n_spans, dup_spans, dup_pm) — documents shorter than
    * `k` tokens have no spans and are absent, mirroring how the chunked
    * rewrite step skips them.
    */
  def duplicatedSpanCoverage(df: DataFrame, textCol: String, idCol: String,
                             k: Int): DataFrame = {
    val spans = df.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHash.positionShingleHashes(col(textCol), k)).as("h"))
    val docFreq = spans.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("__ndocs"))
    spans.join(docFreq, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__ndocs") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("id").as(idCol), col("n_spans"), col("dup_spans"),
        expr("dup_spans * 1000 div n_spans").as("dup_pm"))
  }

  /** Substring-level dedup REWRITE: the span-REMOVED corpus — the actual
    * output of Lee et al. (ACL'22) exact-substring deduplication, where
    * [[duplicatedSpanCoverage]] is only the per-document signal. Every word
    * `k`-shingle occurrence whose span text occurs anywhere else in the
    * corpus (another document OR another position of the same document) is
    * removed EXCEPT the corpus-wide first occurrence, deterministically
    * ordered by (`idCol`, position). Tokens covered by at least one removed
    * span drop; survivors reassemble in position order.
    *
    * Tokenization contract (shared with [[duplicatedSpanCoverage]] via
    * [[graft.functions.ShingleHash.positionShingleHashes]]): lowercase,
    * split on whitespace runs, empties dropped — so `clean_text` is
    * whitespace-normalized lowercase, the shape a training pipeline feeds
    * the tokenizer anyway. Documents shorter than `k` tokens have no spans
    * and pass through (normalized); documents whose every token was covered
    * return an empty string.
    *
    * Scale shape: the corpus-wide KEEP/DROP decision never touches text —
    * span occurrences hash map-side in one fused codegen pass, the
    * occurrence-stats aggregate groups on the 8-byte hash carrying
    * (count, min (id,pos)) with map-side partial combine, and only
    * occurrences of spans with count ≥ 2 survive the inner join back (the
    * overwhelmingly-unique spans of a real corpus drop before any wide
    * exchange). Covered token positions fan out ×k as (id, int) pairs. The
    * single text-bearing exchange is the final per-document reassembly
    * (anti-join + groupBy on (id, pos)) — that exchange is the OUTPUT
    * corpus itself, the same one-rewrite floor [[lineDedup]] has. A 64-bit
    * span-hash collision can only merge two span identities (over-delete
    * one span occurrence), never fabricate text, at ~2⁻⁶⁴ per span pair.
    * The input scans twice (token stream + span stream, different
    * cardinalities — not fusable into one generate), both pruned to
    * (`idCol`, `textCol`); cache upstream if producing it is expensive.
    */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                            k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)))
      .toDF("id", "pos", "tok")
    val spans = df.select(col(idCol).as("id"),
        posexplode(graft.functions.ShingleHash.positionShingleHashes(col(textCol), k)))
      .toDF("id", "pos", "h")
    // count ≥ 2 filters BEFORE the join back: unique spans (the vast
    // majority) never re-shuffle. min(struct(id,pos)) is the deterministic
    // first occurrence — struct ordering is field-lexicographic.
    val dupStats = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .select(col("h"), col("__first"))
    val removedStarts = spans.join(dupStats, "h")
      .filter(struct(col("id"), col("pos")) =!= col("__first"))
    val covered = removedStarts
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Resolve near-duplicate PAIRS into connected components — the cluster
    * step every production dedup pipeline runs after candidate scoring
    * (pairs alone under-delete: A~B and B~C must collapse to one cluster
    * even when A~C was never scored).
    *
    * Algorithm: iterative min-label propagation (the Pregel/hash-to-min
    * formulation of connected components): every vertex starts labelled
    * with its own id; each round every vertex takes the minimum label among
    * itself and its neighbors; converged when the global label sum stops
    * changing (labels only decrease, so the sum is a 1-row convergence
    * witness). Near-dup clusters are usually near-cliques — 2-4 rounds.
    * Rounds that survive past that switch on a POINTER JUMP
    * (cluster(v) ← cluster(cluster(v)), one extra label self-join per
    * round): label reach then roughly doubles per round, so convergence is
    * O(log diameter), not O(diameter) — template-chain corpora produce
    * genuinely long paths, and at 100 TB an O(diameter) loop against them
    * silently SPLITS components under any iteration cap. The jump
    * preserves the cluster(u) ≤ u invariant, so the sum witness stays
    * valid either way. Each round is one hash-partitioned join +
    * aggregation over (edges ∪ labels); iterates persist and release their
    * predecessor, so at 100 TB this is a handful of bounded shuffles,
    * nothing driver-side but one scalar per round.
    *
    * Returns (`id`, `cluster`) where `cluster` is the component's minimum
    * member id — stable, deterministic canonical representative.
    */
  /** NOTE on lifecycle: the returned DataFrame is backed by localCheckpoint
    * blocks (the converged labels). Long-lived sessions running many
    * components() calls should free results when done — leaked blocks
    * surface as uniform GC drift across subsequent jobs (see
    * [[graft.queries.Artifacts.reclaim]]).
    */
  def components(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                 maxIters: Int = 20): DataFrame = {
    // the decimal-sum convergence witness needs numeric labels: a string
    // id would crash the cast under ANSI mode — or, with ANSI off, null
    // every sum and fake convergence after two rounds (split clusters,
    // silent under-deletion). Hash string ids to int64 first.
    require(maxIters >= 1, s"components: maxIters must be >= 1, got $maxIters")
    for (c <- Seq(aCol, bCol))
      require(pairs.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"components: $c must be numeric (got " +
          s"${pairs.schema(c).dataType.simpleString}); xxhash64 string ids first")
    // each round references the previous labels TWICE (union + join), so
    // without lineage truncation the logical plan doubles per round and
    // blows up after ~10 iterations; localCheckpoint materializes the round
    // and restarts the plan from the stored blocks (on a cluster with
    // unreliable executors this would be a reliable checkpoint dir instead).
    // Symmetrize in ONE pass (explode of both orientations), not a
    // two-branch union: each union branch re-ran the caller's ENTIRE pair
    // pipeline (candidate enumeration + scoring), which r16's profile
    // measured as half the edge-build cost on the bench corpus.
    // LAZY checkpoints throughout the loop (r16, guide §1.2 — fewer
    // passes): an EAGER localCheckpoint is its own Spark job, and every
    // round already runs an unavoidable action (the sum witness). Marking
    // the round's result lazy lets the witness aggregate materialize the
    // checkpoint blocks inside its job — one job per round instead of
    // two, and one fewer up front (the seed's materialization also
    // persists the edge table it reads). Semantics are unchanged: blocks
    // exist before anything downstream consumes them twice.
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .localCheckpoint(false)
    // seed with round one's result directly — label(v) = min(v, neighbors) —
    // instead of label(v) = v, saving one full propagation round
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("__nmin"))
      .select(col("src").as("id"), least(col("src"), col("__nmin")).as("cluster"))
      .localCheckpoint(false)
    var prevSum = Option.empty[java.math.BigDecimal]
    var iter = 0
    var converged = false
    // Near-dup clusters are usually near-cliques: plain propagation
    // converges in 2-4 rounds and anything extra per round is pure cost
    // (A-B measured: an unconditional jump ran ~12% SLOWER on the bench
    // corpus). But template-chain corpora produce genuinely long paths,
    // and an O(diameter) loop against them silently SPLITS components at
    // any iteration cap. So: propagate plainly while the easy corpora
    // converge, and past `jumpAfter` surviving rounds switch on a pointer
    // jump per round — reach then roughly doubles per round instead of
    // growing by one, covering ~2^maxIters diameters within the cap.
    val jumpAfter = 3
    while (iter < maxIters && !converged) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("cluster"))
      val prev = labels
      // propagation: min over self ∪ neighbors — reach grows by 1 hop
      val prop = prev.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      // the jump round's intermediate must outlive the witness job (the
      // lazy `labels` checkpoint reads its blocks there) — freed after it
      var jumpTmp: Option[DataFrame] = None
      if (iter < jumpAfter) {
        labels = prop.localCheckpoint(false) // materialized by the witness below
      } else {
        // pointer jump: cluster(v) ← cluster(cluster(v)). Checkpoint the
        // propagation first — the self-join consumes it TWICE. Labels
        // still only decrease (the cluster(u) ≤ u invariant survives the
        // jump), so the sum witness stays valid, and an unchanged sum
        // still implies a PROPAGATION fixpoint (the jump can only shrink
        // labels further) = correct components. One side is renamed
        // wholesale before the join — the r8 ambiguous-self-join lesson.
        val p = prop.localCheckpoint()
        val hop = p.select(col("id").as("__j_id"), col("cluster").as("__j_cluster"))
        labels = p.join(hop, col("cluster") === col("__j_id"), "left")
          .select(col("id"),
            coalesce(col("__j_cluster"), col("cluster")).as("cluster"))
          .localCheckpoint(false) // materialized by the witness below
        jumpTmp = Some(p)
      }
      // labels only decrease → the exact decimal sum is a convergence witness
      // (this action is also what materializes the round's lazy checkpoint)
      val s = labels.agg(sum(col("cluster").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      jumpTmp.foreach(Checkpoints.release)
      Checkpoints.release(prev)
      iter += 1
    }
    Checkpoints.release(edges)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: iteration cap $maxIters reached before convergence — " +
          "a component with diameter beyond ~2^maxIters (pointer-jumped " +
          "rounds) is returned SPLIT; raise maxIters")
    labels
  }

  /** Survivors after cluster resolution: keep exactly one row (the minimum
    * `idCol`) per connected component of `pairs`; rows in no pair survive
    * untouched.
    */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    keepCanonicalLabeled(df, components(pairs, aCol, bCol), idCol)

  /** [[keepCanonical]] over PRECOMPUTED cluster labels (a [[components]]
    * result, `(id, cluster)`): a pipeline that needs both the cluster
    * table and the survivor set derives the labels ONCE and feeds them to
    * each consumer, instead of re-running the iterative CC loop — the
    * label derivation is the latency-bound step (one join+aggregate round
    * per component diameter), so sharing it roughly halves the combined
    * cost of apply + keep-best style stages.
    */
  def keepCanonicalLabeled(df: DataFrame, labels: DataFrame,
                           idCol: String): DataFrame = {
    val doomed = labels
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    df.join(doomed, df(idCol) === doomed("id"), "left_anti")
  }

  /** [[keepCanonical]] with a QUALITY-aware survivor: each near-dup
    * cluster keeps its highest-`scoreCol` member (ties by ascending id —
    * deterministic) instead of the arbitrary min-id representative. The
    * knob every production curation pipeline wants: near-duplicates are
    * rarely byte-equal, and min-id silently keeps whichever crawl
    * happened to be ingested first rather than the cleanest copy.
    *
    * Scale shape: cluster labels come from the same id-only
    * [[components]] run; the winner per cluster is ONE max_by aggregate
    * over (id, score) pairs — no text in any exchange, survivors resolve
    * with a single keyed anti-join. Like [[components]], the result is
    * backed by localCheckpoint blocks (the pinned doomed set); long-lived
    * sessions should release them when done (see
    * [[graft.queries.Artifacts.reclaim]]).
    */
  def keepBest(df: DataFrame, pairs: DataFrame, idCol: String,
               scoreCol: String,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    keepBestLabeled(df, components(pairs, aCol, bCol), idCol, scoreCol)

  /** [[keepBest]] over PRECOMPUTED cluster labels — see
    * [[keepCanonicalLabeled]] for why sharing one [[components]] run
    * across the cluster/apply/keep-best consumers matters.
    */
  def keepBestLabeled(df: DataFrame, labels: DataFrame, idCol: String,
                      scoreCol: String): DataFrame = {
    // double-cast + null→-inf so an all-null-score cluster still keeps a
    // member (max_by drops null ordering keys entirely)
    val scored = labels.join(
      df.select(col(idCol).as("id"),
        coalesce(col(scoreCol).cast(DoubleType),
          lit(Double.NegativeInfinity)).as("__score")), Seq("id"))
    // max_by with a deterministic tie-break: pack (score, ~id) so equal
    // scores prefer the SMALLER id. Bitwise NOT (~id = -id-1) reverses the
    // signed-long order with NO overflow — plain negation overflows at
    // Long.MinValue (reachable: ids are commonly xxhash64-derived), which
    // crashes under ANSI mode and picks the wrong survivor without it.
    val winners = scored.groupBy(col("cluster"))
      .agg(max_by(col("id"), struct(col("__score"), bitwise_not(col("id"))))
        .as("keep"))
      .select(col("keep"))
    // lazy-checkpoint the (id-only, cluster-member-sized) doomed set:
    // Spark pushes the final anti-join below a union input, and without
    // the pin each branch would recompute the score join + winners
    // aggregate (measured 3.3 s vs ~1.3 s on the 3-branch oracle corpus)
    val doomed = labels.select(col("id"))
      .join(winners, col("id") === col("keep"), "left_anti")
      .localCheckpoint(false)
    df.join(doomed, df(idCol) === doomed("id"), "left_anti")
  }

  /** Embedding near-dup pairs: LSH-bucket (random hyperplanes) then verify
    * cosine within bucket. The scale path for embedding dedup — candidates
    * bounded by bucket population instead of n².
    *
    * `probeRadius` is multi-probe LSH (Lv et al., VLDB'07): one side of the
    * self-join also lands in every bucket within Hamming distance
    * `probeRadius` of its own (bit-flip probes), so any pair whose
    * signatures differ in at most `probeRadius` hyperplane signs is
    * STRUCTURALLY guaranteed to be scored — recall no longer depends on a
    * near-duplicate luckily agreeing on every bit. A true near-dup at
    * cos >= 0.95 flips a given bit with p = arccos(cos)/π <= 0.1, so
    * missing a radius-2 probe needs >= 3 simultaneous flips. Probe cost is
    * a bounded explode (sum of C(nBits, 0..r) rows per vector) on one side
    * only; each candidate pair still joins exactly once (the XOR mask
    * between two buckets is unique).
    */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
                     nBits: Int = 8, threshold: Double = 0.95,
                     probeRadius: Int = 1): DataFrame = {
    import graft.functions.VectorExprs
    // EXACT-COLLAPSE before the LSH index (the simhashPairs scheme in
    // embedding space): bit-identical vectors share every bucket and every
    // cosine, so group them and index only the DISTINCT vectors. On
    // replicated corpora — crawl snapshots, mirrored shards, or a 10×
    // scale-up — the probe join's candidate stream shrinks by the square
    // of the copy multiplicity (measured at a 40k-vector corpus with 10×
    // copies: ~230M candidate rows → ~2M), while both expansions back to
    // id pairs are output-sized. Identical-vector pairs carry the group's
    // self-cosine — the same value the pairwise expression computed on two
    // bit-equal arrays — so results are unchanged row-for-row.
    // No checkpoints: the repeated subplans (grouping exchange, member
    // join) canonicalize identically across consumers, so ReuseExchange
    // runs each shuffle once — at small scale the checkpoint barriers cost
    // more than they save (measured +1.4 s per operator at sf0.1)
    val rows = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val groups = rows.groupBy(col("v")).agg(min(col("id")).as("rep"))
    val m = rows.join(groups, "v").select(col("id"), col("rep"))
    // the bucketed "index" over distinct vectors — at cluster scale this
    // is a persisted bucket-partitioned table, like the IVF cells
    val b = groups.select(col("rep"), col("v"),
        VectorExprs.lshBucket(col("v"), nBits).as("bucket"))
    val masks = (0L until (1L << nBits))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    // probe exchanges carry (bucket, rep) ONLY — the probe-multiplied rows
    // never ship the vector; vectors join back once per candidate pair
    val l = b.select(
      explode(array(masks.map(mk => col("bucket").bitwiseXOR(lit(mk))): _*)).as("bucket"),
      col("rep").as("rep_a"))
    val r = b.select(col("bucket"), col("rep").as("rep_b"))
    // NO distinct on the candidate stream (r16, guide §2.4 — "a distinct
    // on data that is already unique"): the probe enumeration emits each
    // ordered pair AT MOST ONCE, because the mask connecting two reps is
    // determined — (a,b) matches iff bucket_a ^ m == bucket_b, i.e.
    // m = bucket_a ^ bucket_b, a single mask — and the rep_a < rep_b cut
    // keeps exactly one of the two orientations. A distinct here was a
    // full extra exchange + aggregate over the operator's widest stream
    // (the candidate pairs), provably collapsing nothing.
    val repPairs = l.join(r, Seq("bucket")).filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b"))
      .join(b.select(col("rep").as("rep_a"), col("v").as("v_a")), "rep_a")
      .join(b.select(col("rep").as("rep_b"), col("v").as("v_b")), "rep_b")
      .select(col("rep_a"), col("rep_b"),
        VectorExprs.cosineSim(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
    // identical-vector groups: every member pair, at the group's self-cos
    val selfCos = b.select(col("rep"),
      VectorExprs.cosineSim(col("v"), col("v")).as("cos"))
    // degenerate vectors (all-zero norm) self-score 0.0, so the threshold
    // filter must apply here too or duplicated zero embeddings would emit
    // pairs the pre-collapse pairwise path (and the oracle) reject
    val intra = m.select(col("rep"), col("id").as("id_a"))
      .join(m.select(col("rep"), col("id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .join(selfCos, "rep")
      .select(col("id_a"), col("id_b"), col("cos"))
      .filter(col("cos") >= threshold)
    // cross-group candidates: expand each surviving rep pair to all member
    // pairs (groups are disjoint, so least/greatest orients exactly once)
    val inter = repPairs
      .join(m.select(col("rep").as("rep_a"), col("id").as("ia")), "rep_a")
      .join(m.select(col("rep").as("rep_b"), col("id").as("ib")), "rep_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
    intra.unionByName(inter)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * cluster the embedding corpus with the IVF coarse quantizer, compute
    * pairwise cosine WITHIN each cluster only, and drop every document
    * that has a cluster-mate above `threshold` with a smaller id — the
    * deterministic min-id keeper rule (the paper keeps one representative
    * per within-cluster duplicate group; min-id makes the choice
    * engine-independent). Returns the KEPT rows of `df` unchanged.
    *
    * vs [[embeddingPairs]]: that lists near-dup PAIRS via hyperplane-LSH
    * buckets (recall depends on probe radius); this partitions the corpus
    * into disjoint k-means cells and is exhaustive within each cell — the
    * published SemDeDup shape. The per-cell self-join is quadratic in cell
    * population; `nCells` is the algorithm's primary knob (the paper runs
    * 50k clusters for LAION). `maxCellSize` is the skew GUARD behind it:
    * k-means makes no balance promise, and at 100 TB one hot cell would
    * otherwise become a single quadratic straggler task. A cell whose
    * population n exceeds the cap is split into ceil(n/maxCellSize)
    * sub-cells by a deterministic hash of the VECTOR, bounding every
    * task's pair count at ~maxCellSize²/2 while keeping identical vectors
    * (the pairs the threshold reliably catches) co-located — the same
    * within-subset comparison the paper's own cluster-sampling fallback
    * accepts. Cross-cell near-dups are deliberately out of scope (the
    * paper's approximation); use [[embeddingPairs]] when recall across
    * cluster boundaries matters.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    nCells: Int = 16, threshold: Double = 0.92,
                    trainTarget: Int = 1600,
                    maxCellSize: Int = 4096): DataFrame = {
    import graft.functions.VectorExprs
    require(maxCellSize > 0, "maxCellSize must be positive")
    val idx = Similarity.ivfBuild(df, vecCol, idCol, nCells, trainTarget)
    // per-cell populations: ≤ nCells rows, broadcast back onto the index
    val counts = idx.indexed.groupBy("cell").count()
    val sized = idx.indexed.join(broadcast(counts), "cell")
      .withColumn("subcell",
        when(col("count") > maxCellSize,
          pmod(hash(col("cv")),
            ceil(col("count").cast(DoubleType) / maxCellSize).cast(IntegerType)))
          .otherwise(lit(0)))
    val a = sized.select(col("cell"), col("subcell"),
      col("corpus_id").as("id_a"), col("cv").as("v_a"))
    val b = sized.select(col("cell"), col("subcell"),
      col("corpus_id").as("id_b"), col("cv").as("v_b"))
    val dropped = a.join(b, Seq("cell", "subcell"))
      .filter(col("id_b") < col("id_a"))
      .filter(VectorExprs.cosineSim(col("v_a"), col("v_b")) > threshold)
      .select(col("id_a").as("__drop")).distinct()
    df.join(dropped, col(idCol) === col("__drop"), "left_anti")
  }
}
