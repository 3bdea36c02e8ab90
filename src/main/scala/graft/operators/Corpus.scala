package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-curation operators for training-data pipelines (SURVEY.md §2e):
  * quality-percentile filtering, deterministic mixture sampling, and
  * fixed-budget sequence packing — the selection/composition steps that sit
  * between scoring/dedup and tokenizer output in an LLM data pipeline.
  */
object Corpus {

  /** Keep the top `keepNum/keepDen` fraction of each group by
    * (`scoreCol` desc, `idCol` asc — deterministic ties). EXACT rank
    * semantics: one window per group, so each group is fully sorted. Right
    * for group-bounded data; for groups of billions of rows prefer
    * [[qualityFilterApprox]], which replaces the per-group sort with a
    * sketch threshold + broadcast join.
    */
  def qualityFilterTop(df: DataFrame, scoreCol: String, groupCol: String,
                       idCol: String, keepNum: Int, keepDen: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val n = Window.partitionBy(col(groupCol))
    df.withColumn("__rk", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(n))
      .filter(col("__rk") * keepDen <= col("__n") * keepNum)
      .drop("__rk", "__n")
  }

  /** Scale path for quality filtering: per-group approximate score
    * threshold (percentile_approx sketch — one partial-combined agg, groups
    * collapse to one row each), broadcast back and filter. No per-group
    * sort anywhere; the error knob is the sketch accuracy.
    */
  def qualityFilterApprox(df: DataFrame, scoreCol: String, groupCol: String,
                          keepFrac: Double, accuracy: Int = 10000): DataFrame = {
    val thr = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), lit(1.0 - keepFrac), lit(accuracy))
        .as("__thr"))
    df.join(broadcast(thr), groupCol).filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Deterministic hash-mod row selector: keeps a row iff
    * `mix(id) % 1000 < perMille`. Pure integer arithmetic (Knuth
    * multiplicative hash mod a prime), so the SAME rows are selected on
    * every engine, every run, every partitioning — unlike rng-based
    * `sample()`, this is reproducible across the stack and can be
    * oracle-checked. Use a per-row `perMille` column for mixture weighting
    * (different sampling rates per source).
    *
    * The id reduces mod the prime BEFORE the multiply: the raw product
    * overflows int64 once ids pass ~3.5e9 (ANSI mode then fails the job —
    * hit at the sf1 scale test with 1e9-range ids), while the reduced
    * product is bounded by 1000002 × 2654435761 ≈ 2.7e15. Ids below the
    * prime — every current dataset — select identically.
    */
  def hashModKeep(id: Column, perMille: Column): Column =
    hashBucket(id) < perMille

  /** The shared per-mille hash bucket. pmod, not %: Spark's % keeps the
    * dividend's sign, so a NEGATIVE id (xxhash64-derived ids are negative
    * half the time) would land in [-999, 0] — always kept by any rate >= 1
    * and always 'train' in [[splitAssign]]. The oracle replays the same
    * non-negative form as ((x % p + p) % p ...).
    */
  private def hashBucket(id: Column): Column =
    pmod(pmod(id.cast(LongType), lit(1000003L)) * lit(2654435761L),
      lit(1000003L)) % lit(1000L)

  /** Deterministic train/val/test assignment by hash range — the split
    * must be a pure function of the row id (not of partitioning, run, or
    * engine) or retraining sees different data every time. Boundaries are
    * per-mille: e.g. (800, 900) → 80% train / 10% val / 10% test. Same
    * Knuth multiplicative hash as [[hashModKeep]], so any engine can
    * reproduce the assignment.
    */
  def splitAssign(id: Column, trainPm: Int = 800, valPm: Int = 900): Column = {
    require(0 <= trainPm && trainPm <= valPm && valPm <= 1000)
    val bucket = hashBucket(id)
    when(bucket < trainPm, "train").when(bucket < valPm, "val").otherwise("test")
  }

  /** Seeded deterministic GLOBAL shuffle — the reproducible training-order
    * permutation a pipeline needs before sequence packing / epoch
    * streaming: the same (corpus, seed) always yields the same order on
    * any engine, and changing the seed reshuffles. `posCol` gets the
    * 0-based position in the shuffled order.
    *
    * The permutation key is an affine map over the prime field
    * p = 2^61−1: key = (a·k0 + b) mod p with k0 = id mod p (non-negative
    * form). The field is WIDER than any realistic id domain: ids collide
    * mod p only when they differ by an exact multiple of 2^61−1
    * (impossible for sequential ids below 2.3×10¹⁸ rows; probability
    * ~2⁻⁶¹ per pair for hash ids), unlike the previous 2^31−1 field where
    * any >2B-row sequential id space put congruent pairs permanently in
    * id order. The a·k0 product exceeds 64 bits, so it is computed by an
    * EXACT 31/30-bit limb split ([[mulMod61Sql]] documents the identity)
    * — plain long multiplies and adds, every intermediate < 2^63, no
    * overflow even under ANSI — so any SQL engine replays it bit-for-bit,
    * unlike engine-internal hash functions (xxhash64 here vs murmur
    * elsewhere). Residual ties (astronomically rare) break by id, so the
    * order stays total.
    *
    * Position assignment is [[DenseId.withDenseId]]'s distributed dense
    * rank over (key, id) — range exchange + per-partition offsets, never
    * a single-task global window. One full-data exchange total, the
    * minimum any global permutation costs.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long,
                           posCol: String = "pos"): DataFrame = {
    val (aEff, b) = shuffleConstants(seed)
    val p = ShufflePrime
    val k0 = ((col(idCol) % p) + p) % p
    val key = (mulMod61(k0, aEff) + b) % p
    val keyed = df.withColumn("__graft_shuf",
      struct(key.as("k"), col(idCol).as("i")))
    DenseId.withDenseId(keyed, "__graft_shuf", posCol)
      .drop("__graft_shuf")
  }

  /** p = 2^61 − 1 (a Mersenne prime): the field [[deterministicShuffle]]
    * permutes in. Mersenne form is what makes the split-multiply cheap:
    * x mod p folds as (x >> 61) + (x & p).
    *
    * PERMUTATION-SCHEME VERSION (layout note for shard consumers): this is
    * scheme v2. v1 (rounds ≤10) permuted in the 2^31−1 field with a plain
    * multiplier; widening the field, the golden-ratio base multiplier, and
    * the ≥2^59 re-mix loop each change the permutation for EVERY seed, so
    * shard exports and other persisted artifacts produced under v1 do not
    * reproduce byte-identically under v2 with the same (corpus, seed,
    * nShards) — regenerate, don't mix. [[ShuffleSchemeVersion]] is the
    * machine-readable tag; writeShuffledShards stamps it into each export's
    * `_graft_shuffle_scheme` marker file so a reader can tell which scheme
    * produced a layout.
    */
  val ShufflePrime: Long = (1L << 61) - 1

  /** See [[ShufflePrime]]'s version note. Bump whenever the permutation
    * for a fixed (corpus, seed, nShards) changes.
    */
  val ShuffleSchemeVersion: Int = 2

  /** x·a mod (2^61−1) in exact long arithmetic, a ∈ [0, p), x a
    * non-negative column < p. Both operands split into 31/30-bit limbs
    * (x = x1·2^31 + x0, a = a1·2^31 + a0), then
    * x·a = x1·a1·2^62 + (x1·a0 + x0·a1)·2^31 + x0·a0 reduces with
    * 2^61 ≡ 1 (mod p): the 2^62 term becomes 2·x1·a1, the middle term t
    * folds as (t >> 30) + (t mod 2^30)·2^31, and the low product folds as
    * (c >> 61) + (c mod 2^61). Every intermediate stays < 2^63 (bounds in
    * line comments), so the arithmetic is exact in signed longs — the
    * property the cross-engine replay contract rests on.
    */
  private def mulMod61(x: Column, a: Long): Column = {
    val p = ShufflePrime
    val a1 = a >>> 31 // < 2^30
    val a0 = a & 0x7FFFFFFFL // < 2^31
    val x1 = shiftright(x, 31) // x < p < 2^61 → < 2^30
    val x0 = x.bitwiseAND(lit(0x7FFFFFFFL)) // < 2^31
    val m = x1 * lit(a1) // < 2^60
    val t = x1 * lit(a0) + x0 * lit(a1) // < 2^62
    val c = x0 * lit(a0) // < 2^62
    val cR = shiftright(c, 61) + c.bitwiseAND(lit(p)) // ≤ p+1
    val r = lit(2L) * m + shiftright(t, 30) +
      shiftleft(t.bitwiseAND(lit((1L << 30) - 1)), 31) + cR // < 3·2^61+2^32 < 2^63
    (shiftright(r, 61) + r.bitwiseAND(lit(p))) % lit(p) // fold < p+4, then exact
  }

  /** The (multiplier, offset) pair of [[deterministicShuffle]]'s affine
    * map for `seed`. The seed must modulate the MULTIPLIER, not just the
    * offset: an additive-only seed is a mod-p rotation, which preserves
    * the relative order of almost every pair (caught by spec — seeds 7
    * and 8 produced the identical permutation). The multiplier stays
    * nonzero mod p (a ≠ 0, 1 ≤ s' ≤ p−2, p prime), so the map is always
    * a bijection of the field. (BigInt here is DRIVER-side constant
    * derivation only — executors and the oracle replay see plain longs.)
    */
  def shuffleConstants(seed: Long): (Long, Long) = {
    val p = ShufflePrime
    // 2^64/φ (the golden-ratio mixing constant) mod p — a FIELD-SIZED base
    // multiplier. The old 31-bit field scrambled with any multiplier
    // because a·id wrapped p31 almost immediately; in the 2^61−1 field a
    // small multiplier times a small-id corpus never wraps, leaving the
    // "shuffle" in id order (caught by spec: seeds 7 and 8 both produced
    // the identity on a 600-doc table).
    val g = 2177342782468422681L
    val sPrime = ((seed % (p - 2)) + (p - 2)) % (p - 2) + 1 // in [1, p-2]
    var aEff = (BigInt(g) * sPrime % p).toLong
    // Re-mix until the multiplier is ≥ 2^59 = p/4: then a·k ≥ p for every
    // k ≥ 4, so the map wraps (scrambles) on every corpus under EVERY
    // seed, not just on seeds that happen to land a large residue.
    // Driver-side constant derivation (executors and the oracle replay see
    // the finished long); geometric termination, mean 0.33 steps, max 9
    // over seeds 0..10^5.
    while (aEff < (1L << 59)) aEff = (BigInt(g) * aEff % p).toLong
    val b = ((seed % p) + p) % p
    (aEff, b)
  }

  /** The DuckDB/ANSI-SQL replay of [[deterministicShuffle]]'s sort key for
    * `idExpr` — kept next to the constants so the operator and any oracle
    * can never drift apart. Spells out [[mulMod61]]'s limb-split identity
    * in pure integer SQL (`//` integer division, `%`, `*`, `+` — every
    * intermediate < 2^63, so engines with checked BIGINT arithmetic accept
    * it); subexpressions are textually inlined since SQL has no lets.
    */
  def shuffleKeySql(idExpr: String, seed: Long): String = {
    val (aEff, b) = shuffleConstants(seed)
    val p = ShufflePrime
    val a1 = aEff >>> 31
    val a0 = aEff & 0x7FFFFFFFL
    val two31 = 1L << 31
    val two30 = 1L << 30
    val two61 = 1L << 61
    val k0 = s"((($idExpr) % $p + $p) % $p)"
    val x1 = s"($k0 // $two31)"
    val x0 = s"($k0 % $two31)"
    val t = s"($x1 * $a0 + $x0 * $a1)"
    val c = s"($x0 * $a0)"
    val r = s"(2 * ($x1 * $a1) + $t // $two30 + ($t % $two30) * $two31" +
      s" + ($c // $two61 + $c % $two61))"
    s"((($r // $two61 + $r % $two61) % $p + $b) % $p)"
  }

  /** Stratified mixture sample: keep each row with its group's per-mille
    * rate, deterministically (see [[hashModKeep]]). `rates` maps group
    * value → per-mille; missing groups get `defaultPerMille`.
    */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
                    rates: Map[String, Int], defaultPerMille: Int = 0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPerMille)) { case (acc, (g, pm)) =>
      when(col(groupCol) === g, lit(pm)).otherwise(acc)
    }
    df.filter(hashModKeep(col(idCol), rate))
  }

  /** Contiguous sequence packing (the concat-then-chunk shape an LLM data
    * pipeline uses to fill context windows): within each group, walk rows
    * in `orderCol` order accumulating `tokenCol`; a row belongs to the
    * budget-window its first token falls in — `floor(cumsum_before /
    * budget)`. One running-sum window per group, deterministic; a sequence
    * can overshoot the budget by at most the last document's length (the
    * tokenizer-side chunker trims the straddling document, which is
    * per-row work outside this operator's scope). A true close-when-full
    * greedy packer is a sequential fold — not expressible as a window —
    * and changes bin totals by at most one document either way.
    */
  /** `orderCol` must totally order each group (a unique id/offset): the
    * running-sum ROWS frame over tied values depends on shuffle order, so
    * ties would make bin membership nondeterministic across runs.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("seq_id", floor((col("__cum") - col(tokenCol)) / budget).cast(LongType))
      .drop("__cum")
  }

  /** Corpus-wide top-`k` most frequent word `n`-grams — the heavy-hitters
    * report a curation pipeline runs to spot boilerplate and template text
    * (and the exact companion to sketch-based heavy hitters). Tokens are
    * lowercased whitespace words; ties break on the n-gram text so the
    * cutoff is fully deterministic.
    *
    * 100 TB shape, two phases: (1) grams hash map-side in one fused codegen
    * pass, so the counting exchange carries only partial-combined
    * `(hash, count)` pairs — never gram text (at corpus scale most grams
    * are unique, so a text-keyed count would shuffle the corpus); the
    * boundary count of the k-th hash comes back as one scalar. (2) a second
    * scan recovers the texts of just the ≥-boundary candidates
    * (`xxhash64(gram) == fused hash` by construction), recounts that tiny
    * set exactly, and applies the text tie-break. Two scans, both bounded
    * exchanges — the right trade for a report whose output must be text.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    import graft.functions.ShingleHash
    // persisted: BOTH the boundary collect and the candidates side of the
    // final join consume this aggregate — without the persist the full
    // corpus tokenize+hash+shuffle runs twice (the (h, cnt) frame is tiny
    // next to the corpus)
    val hashes = graft.Checkpoints.persist(df.select(
      explode(ShingleHash.positionShingleHashes(col(textCol), n)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt")))
    // boundary: the count of the k-th most frequent hash (one scalar back
    // to the driver; ties at the boundary are all admitted as candidates
    // so the text tie-break below sees every contender)
    val boundary = hashes.orderBy(col("cnt").desc).limit(k)
      .agg(min(col("cnt"))).collect()(0)
    if (boundary.isNullAt(0)) return df.sparkSession.emptyDataFrame
      .select(lit("").as("ngram"), lit(0L).as("cnt")).limit(0)
    val cutoff = boundary.getLong(0)
    val candidates = hashes.filter(col("cnt") >= cutoff).select("h")
    // cutoff == 1 (mostly-unique corpus, or k exceeding the repeated-gram
    // set) makes `candidates` EVERY distinct gram hash — broadcasting that
    // ships an unbounded set to all executors. Only force the broadcast
    // when the cutoff actually bounds the candidates; at cutoff 1 let the
    // planner pick (it will shuffle-join, which is the right plan for an
    // unbounded build side).
    // NOTE hashes stays persisted while the returned report is consumed
    // (the candidates side references it); report-shaped lifecycle
    val candSide = if (cutoff > 1) broadcast(candidates) else candidates
    val grams = df.select(explode(ShingleHash.ngramTexts(col(textCol), n)).as("ngram"))
    grams.join(candSide, xxhash64(col("ngram")) === col("h"), "left_semi")
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** Sliding-window token chunking — the long-document → training-sequence
    * step of an LLM data pipeline. Documents split into lowercased
    * whitespace tokens; chunk `i` covers token positions
    * [i·stride, i·stride + chunkSize). `stride < chunkSize` overlaps
    * consecutive chunks (context continuity across boundaries); a start is
    * emitted for every offset < nTokens, so trailing chunks may be short
    * but no token is ever dropped. Emits (id, chunk_id, n_tokens, chunk).
    *
    * 100 TB shape: pure per-row work — tokenize, generate ≤ ⌈n/stride⌉
    * start offsets, slice and re-join; one generator (posexplode), ZERO
    * shuffles. Output rows inherit the input partitioning, so a downstream
    * tokenizer/packer sees the same locality the scan produced.
    */
  def chunkSliding(df: DataFrame, idCol: String, textCol: String,
                   chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    require(stride <= chunkSize,
      s"stride ($stride) > chunkSize ($chunkSize) would drop the tokens " +
        "between consecutive chunks — the documented contract is that no " +
        "token is ever dropped; use stride <= chunkSize (or slice gaps " +
        "upstream explicitly)")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))))
      .select(col(idCol), col("pos").cast(LongType).as("chunk_id"),
        slice(col("__toks"), col("col") + 1, lit(chunkSize)).as("__c"))
      .select(col(idCol), col("chunk_id"),
        size(col("__c")).cast(LongType).as("n_tokens"),
        array_join(col("__c"), " ").as("chunk"))
  }

  /** Inverted index: token → document frequency + comma-joined sorted
    * posting list. `minDf`/`maxDf` bound the emitted terms the way a real
    * index drops hapaxes and stop-words — at corpus scale an uncapped
    * posting list for "the" is a single monster row, so the cap is part of
    * the operator, not a test convenience. Tokens are lowercased maximal
    * `[a-z]+` runs of at least `minTokenLen` chars (same tokenizer as
    * [[tfIdfTopK]]).
    *
    * 100 TB shape: per-document distinct tokens explode map-side; the df
    * count is one partial-combined aggregate (8-byte state per term); terms
    * outside [minDf, maxDf] are dropped BY SEMI-JOIN BEFORE the posting
    * lists build, so no aggregate ever holds a stop-word's corpus-wide
    * posting list in memory — the collect_list state is bounded by maxDf
    * entries per term by construction.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long, maxDf: Long, minTokenLen: Int = 3): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(split(lower(col(textCol)), "[^a-z]+"))).as("token"))
      .filter(length(col("token")) >= minTokenLen)
    val inRange = tok.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    tok.join(inRange, "token")
      .groupBy("token", "df")
      .agg(array_join(
        transform(sort_array(collect_list(col("doc_id"))),
          d => d.cast("string")), ",").as("postings"))
      .select(col("token"), col("df"), col("postings"))
  }

  /** Per-document top-`k` keyword extraction by tf/df weight — the
    * distinctive-term summary a curation pipeline attaches to each document
    * (topic tagging, mixture diagnostics, cluster labeling).
    *
    * Scoring: term frequency divided by document frequency. Rank-wise this
    * is the same family as tf·idf but engine-portable: one IEEE division
    * that any engine computes bit-identically, where log-idf would hang the
    * ranking on libm's `ln` rounding. Ties break on token text, so top-k is
    * fully deterministic. Tokens are lowercased maximal `[a-z]+` runs of at
    * least `minTokenLen` chars.
    *
    * 100 TB shape: tokenization explodes map-side; the (doc,term) and term
    * aggregates are partial-combined keyed shuffles; the df attach is an
    * equi-join on term; the final top-k window partitions by document, so
    * no global sort appears anywhere. Output: (doc_id, token, tf, df, rk).
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int,
                minTokenLen: Int = 3): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("token"))
      .filter(length(col("token")) >= minTokenLen)
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val docFreq = tok.groupBy("token").agg(count_distinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("token").asc)
    tf.join(docFreq, "token")
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select("doc_id", "token", "tf", "df", "rk")
  }

  /** Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
    * ACL'16): learn `numMerges` merge rules from a document corpus.
    *
    * 100 TB shape: classic BPE trains on the WORD-FREQUENCY table, not the
    * running text — so the corpus collapses in ONE distributed
    * tokenize+count aggregate (partial-combined `(word, count)` exchange,
    * the same fused per-row tokenizer the dedup family uses). The merge
    * loop then runs on the `maxWords` most frequent words
    * (TakeOrdered — count desc, word asc, a deterministic boundary), a
    * BOUNDED driver table: capping the candidate vocabulary is standard
    * tokenizer-training practice (frequency mass concentrates; the tail of
    * hapax words cannot win a merge against `numMerges` rules learned from
    * the head) and is what keeps the driver loop independent of corpus
    * size. Everything after the single shuffle is O(maxWords · numMerges)
    * driver compute — no per-iteration Spark jobs, no lineage growth.
    *
    * Deterministic: tie-breaks are (pair count desc, then (left, right)
    * lexicographic asc), so the same corpus always yields the same rules on
    * any partitioning/engine.
    *
    * Reference lineage: the reference has no tokenizer, but its per-field
    * transformer pipelines (`transformers/`) are the same
    * "learn-once, apply-per-record" shape; this is that pattern for the
    * LLM-pipeline tokenization step (SURVEY.md §2e).
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 1 << 16): graft.functions.BpeModel = {
    import graft.functions.{BpeCompute, BpeModel, ShingleHash}
    // Driver-memory bound: the collected table is maxWords rows of
    // (word, count); at avg word length w bytes that is O(maxWords · w) —
    // the default 2^16 words × ~32 B ≈ 2 MB, corpus-size-INDEPENDENT (the
    // 100 TB property: corpus size raises counts, not vocabulary width).
    // The guard rejects caps that would no longer fit a driver heap rather
    // than letting collect() OOM opaquely.
    require(maxWords > 0 && maxWords <= (1 << 22),
      s"bpeTrain: maxWords=$maxWords outside (0, 2^22] — the word table " +
        "collects to the driver (O(maxWords · avgWordLen) bytes); caps " +
        "beyond ~4M words risk driver OOM and add no merge quality " +
        "(frequency mass concentrates in the head)")
    val top: Array[(String, Long)] =
      df.select(explode(ShingleHash.ngramTexts(col(textCol), 1)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(maxWords)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))

    // driver merge loop over the bounded word table
    var words: Array[(Array[String], Long)] =
      top.map { case (w, c) => (BpeCompute.wordSymbols(w), c) }
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), cnt, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestCnt = 0L
        counts.forEach { (pair, cnt) =>
          if (cnt > bestCnt || (cnt == bestCnt &&
              (best == null ||
               pair._1 < best._1 ||
               (pair._1 == best._1 && pair._2 < best._2)))) {
            best = pair; bestCnt = cnt
          }
        }
        merges += best
        val (bl, br) = best
        words = words.map { case (syms, cnt) =>
          var i = 0
          var hits = 0
          while (i < syms.length - 1) {
            if (syms(i) == bl && syms(i + 1) == br) { hits += 1; i += 2 }
            else i += 1
          }
          if (hits == 0) (syms, cnt)
          else {
            val next = new Array[String](syms.length - hits)
            var r = 0
            var w = 0
            while (r < syms.length) {
              if (r < syms.length - 1 && syms(r) == bl && syms(r + 1) == br) {
                next(w) = bl + br; r += 2
              } else { next(w) = syms(r); r += 1 }
              w += 1
            }
            (next, cnt)
          }
        }
        m += 1
      }
    }
    BpeModel(merges.result())
  }

  /** EXACT heavy-hitter tokens (frequency × `denom` > corpus total) from a
    * sketch-bounded two-pass plan: pass 1 is ONE scan computing a
    * Misra–Gries sketch ([[graft.functions.MisraGriesAgg]]) and the exact
    * token total in the same aggregate — each partition ships at most
    * `capacity` counters, never tokens; pass 2 recounts only the ≤
    * `capacity` candidate tokens (an `InSet` filter pushed to the scan)
    * and applies the exact threshold. Because `capacity + 1 ≥ denom`, the
    * sketch provably contains every true heavy hitter, so the recount
    * makes the answer exact — the approximation never reaches the output.
    *
    * vs [[topNgrams]]: that exact top-k counts EVERY distinct gram hash in
    * its first exchange (shuffle grows with distinct-token count); this
    * pass-1 exchange is `capacity` rows per partition regardless of corpus
    * vocabulary — the shape for a threshold report over unbounded
    * cardinality.
    */
  def heavyHitterTokens(df: DataFrame, textCol: String, denom: Long = 200,
                        capacity: Int = 800): DataFrame =
    heavyHitters(df.select(
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok")),
      "tok", denom, capacity)

  /** Generalized exact heavy hitters over ANY string column (the reference
    * analyzer's value-frequency profile, bounded-memory form): values with
    * `count × denom > rows` via the same sketch-then-recount two-pass as
    * [[heavyHitterTokens]]. Output: (`valueCol`, cnt).
    */
  def heavyHitters(rows: DataFrame, valueCol: String, denom: Long,
                   capacity: Int): DataFrame = {
    require(capacity + 1 >= denom,
      s"capacity+1 ($capacity+1) must be >= denom ($denom) for the superset guarantee")
    import graft.functions.MisraGriesAgg.misraGries
    // 1 row back to the driver: the bounded sketch + the exact total
    val row = rows
      .agg(misraGries(col(valueCol), capacity).as("sk"),
        count(col(valueCol)).as("n")) // non-null count, matching the sketch
      .collect()(0)
    val n = row.getLong(1)
    val cand = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    if (cand.isEmpty) return rows.groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt")).limit(0)
    rows.filter(col(valueCol).isInCollection(cand))
      .groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * denom > n)
  }

  /** LM-lite fluency scoring: corpus word-bigram frequencies (a 2-gram
    * language model's count table) joined back per document — per-doc mean
    * bigram corpus-frequency (per-mille integer) and the count of rare
    * bigrams (corpus frequency < `rareBelow`), the "seen this phrasing
    * before" signal perplexity filters compute with a trained LM. Only
    * 8-byte bigram hashes cross the two exchanges; text never shuffles.
    */
  def bigramFluency(df: DataFrame, idCol: String, textCol: String,
                    rareBelow: Long = 3): DataFrame = {
    val bi = df.select(col(idCol), explode(
      graft.functions.ShingleHash.bigramHashes(col(textCol))).as("__bh"))
    val freq = bi.groupBy(col("__bh")).agg(count(lit(1)).as("__bf"))
    bi.join(freq, "__bh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__bf") < rareBelow, 1L).otherwise(0L)).as("n_rare"),
        sum(col("__bf")).as("__fsum"))
      // quotient/remainder split: __fsum * 1000 overflows int64 once a
      // long document's bigrams are corpus-common at ~1e13-token scale
      // (fsum ~ 1e16); floor((a*1000)/n) == (a div n)*1000 +
      // ((a mod n)*1000) div n exactly for non-negative a
      .withColumn("mean_bf_pm",
        expr("(__fsum div n_bigrams) * 1000 + ((__fsum % n_bigrams) * 1000) div n_bigrams"))
      .drop("__fsum")
  }

  /** Greedy corpus selection under a global token budget: keep documents in
    * (`scoreCol` desc, `idCol` asc) order while the running token total
    * stays ≤ `budget` — "fill the training budget with the best documents",
    * the selection step downstream of quality scoring.
    *
    * 100 TB shape: the naive formulation is ONE global window over every
    * document (single task sorts the corpus). Instead, scores are
    * bounded INTEGERS (the operator's contract — quality scores here are
    * per-mille values in [0,1000]), so a per-score token HISTOGRAM
    * (driver-sized by construction: one row per distinct score) decides
    * each bucket's fate: buckets whose cumulative-above total fits
    * entirely are kept wholesale, and only the single boundary bucket
    * needs exact intra-bucket ranking. One corpus aggregate collects the
    * histogram (a bounded collect, like DenseId's per-partition counts);
    * the cumulative offsets compute driver-side and rejoin as a broadcast;
    * the per-bucket windows partition by score value and distribute.
    * Results are identical to the global-sort greedy (same total order,
    * same inclusive-≤ cutoff). No global window, no corpus sort, two
    * corpus scans total.
    */
  def selectUnderBudget(df: DataFrame, scoreCol: String, idCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    val (hist, _) = collectHist(df, scoreCol, tokenCol)
    selectWithOffsets(df, scoreCol, idCol, tokenCol, hist, budget)
  }

  /** [[selectUnderBudget]] with the budget expressed as a FRACTION
    * (`num/den`, floor) of the corpus token total. The total comes from
    * the same histogram the selection needs anyway, so the corpus is
    * scanned exactly twice (histogram + selection join), not three times
    * (a separate corpus-wide total pass is what a naive
    * `agg(sum).collect` budget costs; measured 1.98 → 1.28 s at sf0.1).
    */
  def selectUnderBudgetFraction(df: DataFrame, scoreCol: String, idCol: String,
                                tokenCol: String, num: Long, den: Long): DataFrame = {
    require(den > 0, "den must be positive")
    val (hist, total) = collectHist(df, scoreCol, tokenCol)
    // overflow-safe floor(total * num / den)
    val budget = total / den * num + total % den * num / den
    selectWithOffsets(df, scoreCol, idCol, tokenCol, hist, budget)
  }

  /** One corpus aggregate → driver-side (score, bucketTokens) histogram +
    * grand total. Bounded by the integer score domain.
    */
  private def collectHist(df: DataFrame, scoreCol: String,
                          tokenCol: String): (Array[(Long, Long)], Long) = {
    // the bounded-histogram argument only holds for integral scores (the
    // operator's contract); a fractional score would silently truncate two
    // distinct scores into one bucket
    df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"selectUnderBudget needs an integral score column, got $other")
    }
    // null-score rows are excluded from selection either way (the offsets
    // join never matches null); excluding them here keeps getLong safe
    val hist = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast(LongType).as("__s"))
      .agg(sum(col(tokenCol)).as("__btoks"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    (hist, hist.map(_._2).sum)
  }

  private def selectWithOffsets(df: DataFrame, scoreCol: String, idCol: String,
                                tokenCol: String, hist: Array[(Long, Long)],
                                budget: Long): DataFrame = {
    // cumulative tokens strictly above each bucket, highest score first;
    // buckets starting past the budget can't contribute (≤, not <: a
    // zero-token document sitting exactly at the boundary is kept by the
    // inclusive global greedy, so its bucket must survive this prefilter)
    var above = 0L
    val offsetRows = hist.sortBy(-_._1).flatMap { case (s, btoks) =>
      val mine = above
      above += btoks
      if (mine <= budget) Some((s, mine)) else None
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offsetRows.toSeq.toDF("__s", "__above")
    val wb = Window.partitionBy(col(scoreCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(offsets), col(scoreCol).cast(LongType) === col("__s"))
      .withColumn("__cum", sum(col(tokenCol)).over(wb) + col("__above"))
      .filter(col("__cum") <= budget)
      .drop("__s", "__above", "__cum")
  }

  // ------------------------------------------- trained quality classifier

  /** Train the linear quality classifier's token weights — the TRAINED
    * half of the quality gate (the heuristic half is
    * `TextFunctions.qualityScore`). The standard pipeline step is a
    * fastText-style linear scorer; here training is CLOSED-FORM so the
    * whole train+apply decision is integer-exact and replayable by any
    * engine (the oracle-gate margin discipline — no logs, no floats, no
    * iterative descent):
    *
    *   weight(t) = (1000·(c_pos(t)+1)) div (c_tot(t)+2)
    *             − (1000·C_pos) div C_tot
    *
    * — token t's add-one-smoothed positive-occurrence share minus the
    * corpus positive share, in per-mille. A token seen mostly in
    * `label`-positive documents scores positive, one seen mostly in
    * negative documents scores negative, an uninformative token ~0. The
    * caller supplies the boolean `label` column; bootstrapping it from the
    * heuristic gate is the usual weak-supervision seed (the model then
    * generalizes token evidence beyond the hand rules — spec-pinned).
    *
    * Scale shape: one explode + token-keyed aggregate (partial map-side
    * combine, so the exchange carries per-partition vocabularies, not the
    * corpus), then a one-row totals broadcast. Returns (token, weight),
    * one row per distinct token.
    */
  def qualityModelTrain(df: DataFrame, textCol: String,
                        label: Column): DataFrame = {
    // label BELOW the explode, in its own stage: inlining it beside the
    // generator plans the Project ABOVE Generate, re-evaluating the (regex-
    // heavy) label once per TOKEN row instead of once per document —
    // measured 16 s vs 0.6 s at sf0.1 (the Dfasdl.readTokenStream staging
    // lesson, generator edition)
    val counts = df
      .select(label.as("__pos"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("__pos"), explode(col("__toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__cpos"),
        count(lit(1)).as("__ctot"))
    // totals without a second explode+shuffle: Σ_t c_pos(t) is, by
    // definition, Σ_docs [label] · |tokens(doc)| — one cheap per-document
    // aggregate instead of re-running the token pass (the cold train
    // measured 3.1 → 1.7 s at sf0.1; identical values by construction)
    val totals = df
      .select(label.as("__pos"),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast(LongType).as("__n"))
      .agg(sum(when(col("__pos"), col("__n")).otherwise(0L)).as("__CP"),
        sum(col("__n")).as("__CT"))
    counts.crossJoin(broadcast(totals)) // one-row totals: bounded by construction
      .select(col("token"),
        (expr("(1000 * (__cpos + 1)) div (__ctot + 2)") -
          expr("(1000 * __CP) div __CT")).as("weight"))
  }

  /** Prune the trained weights to the top `topK` tokens by evidence
    * strength (|weight| desc, token asc — deterministic ties) and collect
    * them into the broadcastable [[graft.functions.QualityModel]] the
    * codegen scorer applies. The pruned model is the deployment artifact:
    * out-of-model tokens score 0, so vocabulary growth costs recall, not
    * memory. Driver-bounded by construction: `topK` is capped at 2²⁰
    * entries (~tens of MB of token strings — the same driver-heap argument
    * as bpeTrain's word-table cap).
    */
  def qualityModelCollect(weights: DataFrame, topK: Int)
  : graft.functions.QualityModel = {
    require(topK > 0 && topK <= (1 << 20),
      s"qualityModelCollect: topK=$topK outside (0, 2^20] — the collected " +
        "model must stay driver/broadcast sized")
    val kept = weights
      .orderBy(abs(col("weight")).desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("weight").cast(LongType))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    graft.functions.QualityModel(kept.toIndexedSeq)
  }

  // --------------------------------------- DSIR importance resampling

  /** Token importance weights for DSIR-style data selection (Xie et al.,
    * NeurIPS'23, "Data Selection for Language Models via Importance
    * Resampling"): how much more a token is represented in the TARGET
    * domain than in the RAW corpus, so that documents resembling the
    * target score high. The published estimator is a log-probability
    * ratio over hashed n-gram features; this engine's form is the integer
    * per-million SHARE DIFFERENCE under add-one smoothing over the union
    * vocabulary —
    *
    *   w(t) = (S·(c_tgt(t)+1)) div (T_tgt + V)
    *        − (S·(c_raw(t)+1)) div (T_raw + V),  S = `scale`
    *
    * — closed-form and integer-exact end-to-end (the oracle-gate margin
    * discipline of [[qualityModelTrain]]: no logs, no floats, no
    * iterative fit), pointing the same way as the probability ratio: a
    * token over-represented in the target scores positive, one
    * over-represented in the raw corpus negative, a proportionally
    * represented one ~0. Prune with [[qualityModelCollect]] (|weight|
    * desc — evidence strength), apply + select with [[dsirResample]].
    *
    * Scale shape: ONE tagged union + explode + token-keyed aggregate with
    * map-side combine (persisted — both the weight projection and the
    * one-row |vocabulary| aggregate read it, so the explode runs once),
    * a per-document size aggregate for the totals (no second explode —
    * the qualityModelTrain totals trick), and two one-row broadcasts.
    * The corpus text itself never shuffles.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  scale: Long = 1000000L): DataFrame =
    dsirWeightsManaged(raw, target, textCol, scale)._1

  /** [[dsirWeights]] plus the persisted token-count handle (the
    * crossDedupStreamManaged discipline, r15): the estimator caches the
    * token-count relation so its two consumers share one corpus explode,
    * and without the handle a long-lived session training repeatedly
    * accumulates MEMORY_AND_DISK blocks until a manual cacheManager
    * sweep. Call `handle.unpersist()` once the weights are materialized
    * (collected into a model, written, or localCheckpointed).
    */
  def dsirWeightsManaged(raw: DataFrame, target: DataFrame, textCol: String,
                         scale: Long = 1000000L): (DataFrame, DataFrame) =
    dsirWeightsBy(raw, target, textCol, scale, "token", identity)

  /** The shared DSIR estimator over an arbitrary feature projection of
    * the token column — ONE implementation of the smoothing, totals
    * trick, persist discipline, and weight formula, so the exact and
    * hashed faces (spec-pinned equal on collision-free vocabularies)
    * cannot silently diverge.
    *
    * NOTE on the persist: the token-count aggregate has two consumers
    * (the weight projection and the one-row |vocabulary| aggregate), so
    * it persists to run the explode once. The cached relation is returned
    * as the second element so callers can release it deterministically
    * ([[dsirWeightsManaged]]); the unmanaged faces document the
    * harness-sweep fallback.
    */
  private def dsirWeightsBy(raw: DataFrame, target: DataFrame,
                            textCol: String, scale: Long, featureCol: String,
                            feature: Column => Column): (DataFrame, DataFrame) = {
    def tagged(df: DataFrame, tgt: Boolean): DataFrame =
      df.select(lit(tgt).as("__tgt"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
    val union = tagged(raw, tgt = false).unionByName(tagged(target, tgt = true))
    val counts = graft.Checkpoints.persist(union
      .select(col("__tgt"), explode(col("__toks")).as("__tok"))
      .select(col("__tgt"), feature(col("__tok")).as(featureCol))
      .groupBy(col(featureCol))
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cr")))
    // totals and |vocabulary| both derive from the persisted counts table
    // (r16, guide §1.2): every token occurrence lands in exactly one
    // counts row, so Σ__ct / Σ__cr ARE the side totals — the old totals
    // pass re-tokenized the whole union a second time to re-sum what the
    // aggregate already held, and vocab ran as its own job. One one-row
    // aggregate over the cached relation now serves both.
    val totals = counts.agg(sum(col("__ct")).as("__TT"),
      sum(col("__cr")).as("__TR"), count(lit(1)).as("__V"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col(featureCol),
        (expr(s"($scale * (__ct + 1)) div (__TT + __V)") -
          expr(s"($scale * (__cr + 1)) div (__TR + __V)")).as("weight"))
    (weights, counts)
  }

  /** [[dsirWeights]] over HASHED features — the DSIR paper's actual
    * design: tokens bucket by `pmod(xxhash64(token), buckets)` so the
    * feature space (and the model) is FIXED-SIZE no matter how large the
    * corpus vocabulary grows; at 100 TB a string-keyed vocabulary is
    * unbounded, a 2²⁰-bucket array is 8 MB. Same estimator over the
    * bucket domain (V = occupied buckets), so on a collision-free
    * vocabulary the weights EQUAL the exact form's (spec-pinned);
    * collisions merge features exactly as published. Not oracle-gated —
    * xxhash64 has no DuckDB twin — so the exact [[dsirWeights]] stays the
    * registry face (the fingerprint md5/xxhash64 two-face pattern).
    * Returns (bucket, weight).
    */
  def dsirWeightsHashed(raw: DataFrame, target: DataFrame, textCol: String,
                        buckets: Int, scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 22),
      s"dsirWeightsHashed: buckets=$buckets outside (0, 2^22] — the dense " +
        "model array must stay driver/broadcast sized")
    dsirWeightsBy(raw, target, textCol, scale, "bucket",
      t => pmod(xxhash64(t), lit(buckets.toLong)))._1
  }

  /** Collect hashed DSIR weights into the dense scoring array
    * ([[graft.functions.HashedQualityModel]]): index = bucket, unoccupied
    * buckets 0. Driver-bounded by construction — at most `buckets` rows,
    * capped at 2²² by [[dsirWeightsHashed]].
    */
  def dsirHashedCollect(weights: DataFrame,
                        buckets: Int): graft.functions.HashedQualityModel = {
    val arr = new Array[Long](buckets)
    weights.select(col("bucket").cast(LongType), col("weight").cast(LongType))
      .collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    graft.functions.HashedQualityModel(arr)
  }

  // --------------------------------------- mixture calibration (raking)

  /** Two-way mixture calibration by ITERATIVE PROPORTIONAL FITTING
    * (raking / IPF — Deming & Stephan 1940; the DoReMi-style "fix the
    * domain mix" step done closed-form): fit per-(row, col) sampling
    * masses whose row and column marginals match the requested targets
    * while staying proportional to the observed counts within each cell.
    * Targets default to UNIFORM over the observed row/col values (the
    * "balance languages × balance sources" ask); pass per-value
    * per-million shares to calibrate to any mixture.
    *
    * INTEGER-EXACT by construction (the oracle-gate discipline): masses
    * live in `scale` units, every scaling step is one integer
    * multiply-then-floor-div per cell, and the iteration count is fixed —
    * so any engine replays the entire fit bit-for-bit (no convergence
    * tolerance, no floats). Floor-div means marginals match the targets
    * to within one unit per cell per iteration, the documented residual.
    *
    * Scale shape: ONE distributed groupBy(count) over the corpus; the
    * contingency table itself (≤ |rows|·|cols| cells, required ≤ 2²⁰ —
    * the qualityModelCollect driver-bound argument) iterates on the
    * driver and returns as a small DataFrame to broadcast-join against
    * the corpus for weighted resampling (d_weighted_sample's input).
    * Output: (rowCol, colCol, n, mass, weight_ppm) where `mass` is the
    * calibrated per-`scale` share and `weight_ppm` = mass·10⁶ div
    * initial-mass — the per-cell resampling factor.
    */
  def mixtureCalibrate(df: DataFrame, rowCol: String, colCol: String,
                       iters: Int = 5,
                       rowTargetsPpm: Map[String, Long] = Map.empty,
                       colTargetsPpm: Map[String, Long] = Map.empty,
                       scale: Long = 1000000000L): DataFrame = {
    require(iters > 0 && iters <= 64, s"mixtureCalibrate: iters=$iters")
    val spark = df.sparkSession
    val cells = df.groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    require(cells.length <= (1 << 20),
      s"mixtureCalibrate: ${cells.length} cells — the contingency table " +
        "must stay driver-sized (<= 2^20)")
    val rows = cells.map(_._1).distinct.sorted
    val cols = cells.map(_._2).distinct.sorted
    val tot = cells.map(_._3).sum
    def targetMass(vals: Seq[String], ppm: Map[String, Long]): Map[String, Long] =
      if (ppm.isEmpty) vals.map(_ -> scale / vals.size).toMap
      else {
        require(vals.forall(ppm.contains),
          s"targets missing values: ${vals.filterNot(ppm.contains).take(5)}")
        vals.map(v => v -> (ppm(v) * scale) / 1000000L).toMap
      }
    val rMass = targetMass(rows, rowTargetsPpm)
    val cMass = targetMass(cols, colTargetsPpm)
    // Every mass is clamped to >= 1 unit (r15, review-caught): a cell
    // whose share floors to 0 — n·scale < tot, or a caller-supplied 0-ppm
    // target zeroing a whole row/col slice — would otherwise zero its
    // row/col marginal and the next iteration divides by it
    // (ArithmeticException in BOTH engines, so the oracle gate never saw
    // it). The one-unit floor is the documented residual: marginals match
    // targets to within one unit per cell per iteration, same as the
    // floor-div residual.
    val m0 = cells.map { case (r, c, n) =>
      ((r, c), math.max((n * scale) / tot, 1L)) }.toMap
    var m = m0
    (1 to iters).foreach { _ =>
      val rowSum = m.groupBy(_._1._1).map { case (r, g) => r -> g.values.sum }
      m = m.map { case ((r, c), v) =>
        ((r, c), math.max((v * rMass(r)) / rowSum(r), 1L)) }
      val colSum = m.groupBy(_._1._2).map { case (c, g) => c -> g.values.sum }
      m = m.map { case ((r, c), v) =>
        ((r, c), math.max((v * cMass(c)) / colSum(c), 1L)) }
    }
    import spark.implicits._
    cells.toSeq.map { case (r, c, n) =>
      val mass = m((r, c))
      (r, c, n, mass, (mass * 1000000L) / m0((r, c)))
    }.toDF(rowCol, colCol, "n", "mass", "weight_ppm")
  }

  /** Select the `k` documents whose token distribution most resembles the
    * target domain: score with the pruned [[graft.functions.QualityModel]]
    * (one codegen dot product per document — the corpus never shuffles to
    * score), keep the top k by (`dsir_score` desc, `idCol` asc). This is
    * the noiseless rank cut of DSIR's importance resampling — the paper
    * adds Gumbel noise for sample diversity; a deterministic engine
    * exposes the greedy form so the whole train→prune→score→select
    * decision replays exactly in any engine. TakeOrdered shape:
    * per-partition top-k heaps merge on the driver, no global sort.
    */
  def dsirResample(df: DataFrame, textCol: String, idCol: String,
                   model: graft.functions.QualityModel, k: Int): DataFrame =
    df.withColumn("dsir_score",
        graft.functions.QualityModelFns.score(col(textCol), model))
      .orderBy(col("dsir_score").desc, col(idCol).asc)
      .limit(k)

  /** Top-`k` within-document co-occurring token pairs by pointwise mutual
    * information over a bounded vocabulary — the association-statistics
    * report (word2vec's signal, collocation mining, topic diagnostics) a
    * curation pipeline runs next to [[topNgrams]]' raw frequency view.
    *
    * Vocabulary: the `vocabSize` most document-frequent tokens (df DESC,
    * token ASC — deterministic). PMI = log(N * c_xy / (c_x * c_y)); log is
    * monotone, so pairs RANK by the exact rational argument and the
    * ranking replays in any engine as one IEEE multiply/divide chain over
    * integer counts ((c_xy * N) / (c_x * c_y), ties on the pair text).
    * Output is integer-exact: (tok_a, tok_b, c_xy, c_x, c_y, rk).
    *
    * 100 TB shape: the vocab table is `vocabSize` rows and BROADCASTS (its
    * ranking window is global but runs over distinct terms); per-document
    * vocab-token sets build in one keyed aggregate bounded by `vocabSize`
    * elements; pairs explode MAP-SIDE from the sorted per-doc array (never
    * a doc-keyed self-join shuffle); the pair count is one
    * partial-combined aggregate over at most vocabSize² keys; the final
    * cut is TakeOrderedAndProject.
    *
    * CONTRACT: `docs` must hold exactly ONE row per `idCol` value (the
    * corpus-table shape every caller has). Document frequency is counted
    * as rows-per-token over the per-document distinct token list, so a
    * duplicated document row would inflate df — and with it the
    * vocabulary ranking — silently. Dedupe on `idCol` upstream if the
    * input can carry repeats.
    */
  def pmiTopPairs(docs: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int, k: Int, minTokenLen: Int = 3): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(split(lower(col(textCol)), "[^a-z]+"))).as("token"))
      .filter(length(col("token")) >= minTokenLen)
    // TakeOrdered cut, not a ranking window: a real corpus's vocabulary is
    // multi-million terms and must never funnel through one partition.
    // `tok` is distinct per (doc, token) by construction (array_distinct
    // over each doc's single row), so df is a plain COUNT — the
    // count_distinct formulation paid a two-phase distinct aggregate for
    // a distinctness the input already guarantees (r16, guide §2.3).
    val dfT = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val vocab = dfT.orderBy(col("df").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), col("df"))
    // ONE doc-keyed aggregate serves both the per-doc vocab sets AND the
    // corpus doc count (r16): the old shape ran a third full tokenize
    // pass just for count_distinct(doc_id). A left join against the
    // broadcast vocabulary keeps every tokenized doc in the aggregate
    // (collect_set skips the nulls non-vocab tokens map to), so counting
    // the groups IS n_docs, and the two consumers share the exchange.
    val perDocAll = tok
      .join(broadcast(vocab.select(col("token"), lit(1).as("__v"))),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(when(col("__v") === 1, col("token"))))
        .as("toks"))
    val nDocs = perDocAll.select(count(lit(1)).as("n_docs"))
    val pairs = perDocAll
      .select(col("doc_id"), explode(col("toks")).as("tok_a"), col("toks"))
      .select(col("doc_id"), col("tok_a"), explode(col("toks")).as("tok_b"))
      .filter(col("tok_a") < col("tok_b"))
    val cxy = pairs.groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_xy"))
    val withMarginals = cxy
      .join(broadcast(vocab.select(col("token").as("tok_a"), col("df").as("c_x"))), "tok_a")
      .join(broadcast(vocab.select(col("token").as("tok_b"), col("df").as("c_y"))), "tok_b")
      .crossJoin(broadcast(nDocs))
    val pmiArg = (col("c_xy").cast(org.apache.spark.sql.types.DoubleType) * col("n_docs")) /
      (col("c_x").cast(org.apache.spark.sql.types.DoubleType) * col("c_y"))
    withMarginals
      .orderBy(pmiArg.desc, col("tok_a").asc, col("tok_b").asc).limit(k)
      .withColumn("rk", row_number()
        .over(Window.orderBy(pmiArg.desc, col("tok_a").asc, col("tok_b").asc))
        .cast(LongType))
      .select("tok_a", "tok_b", "c_xy", "c_x", "c_y", "rk")
  }

  /** EXACT context-window tiling of a token stream (the GPT-style
    * concat-then-slice step [[packSequences]] deliberately stops short of):
    * within each group, documents concatenate in `orderCol` order and the
    * stream slices into windows of exactly `budget` tokens — a document
    * STRADDLING a boundary is split, and each output row is one
    * (sequence, document) slice carrying where the slice starts in the
    * document (`doc_off`), where it lands in the sequence (`seq_off`) and
    * how many tokens it contributes (`take_n`). Every sequence except a
    * group's last therefore sums to exactly `budget` tokens with no gaps:
    * the invariants `sum(take_n) over doc == doc's token count` and
    * `sum(take_n) over (group, seq) == budget` (last seq ≤) are what specs
    * pin. Pure integer arithmetic end to end.
    *
    * 100 TB shape: one running-sum window per group (groups partition the
    * work — shard by hash upstream for parallelism), then a map-side
    * explode of each document over the ≤ 1 + len/budget windows it spans.
    * No joins, no second shuffle; long division (`div`) keeps the window
    * ids exact where a double floor would lose precision past 2^53.
    */
  def packChunks(df: DataFrame, groupCol: String, orderCol: String,
                 tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(tokenCol) > 0)
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("__start", col("__cum") - col(tokenCol))
      .withColumn("seq_id",
        explode(sequence(expr(s"__start div $budget"),
          expr(s"(__cum - 1) div $budget"))))
      .withColumn("__s", greatest(col("__start"), col("seq_id") * budget))
      .withColumn("__e", least(col("__cum"), (col("seq_id") + 1) * budget))
      .select(col(groupCol), col("seq_id").cast(LongType).as("seq_id"),
        col(orderCol),
        (col("__s") - col("__start")).cast(LongType).as("doc_off"),
        (col("__s") - col("seq_id") * budget).cast(LongType).as("seq_off"),
        (col("__e") - col("__s")).cast(LongType).as("take_n"))
  }
}
