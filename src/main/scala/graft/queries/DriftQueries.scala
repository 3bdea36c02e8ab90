package graft.queries

import graft.Tables
import graft.operators.Profiling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profiling & drift-monitoring registry queries (SURVEY.md §2d) — split
  * out of DocumentQueries in r16 (pure mechanical move; registry
  * unchanged): column profiles (numeric/string/completeness), exact
  * percentiles and histograms, PSI drift in batch and streaming form
  * (single, categorical, rolling-window, multi-column), correlation, and
  * the sketch family under the invariant oracle.
  */
object DriftQueries {

  // ---------------------------------------------------------- profiling
  private def pNumeric(spark: SparkSession, dir: String): DataFrame =
    Profiling.numericProfile(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  private val pNumericSql =
    """SELECT
      | COUNT(l_quantity) AS l_quantity_count, MIN(l_quantity) AS l_quantity_min,
      | MAX(l_quantity) AS l_quantity_max,
      | CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * 1000 / COUNT(l_quantity)) AS BIGINT) AS l_quantity_mean_milli,
      | COUNT(l_extendedprice) AS l_extendedprice_count, MIN(l_extendedprice) AS l_extendedprice_min,
      | MAX(l_extendedprice) AS l_extendedprice_max,
      | CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * 1000 / COUNT(l_extendedprice)) AS BIGINT) AS l_extendedprice_mean_milli,
      | COUNT(l_discount) AS l_discount_count, MIN(l_discount) AS l_discount_min,
      | MAX(l_discount) AS l_discount_max,
      | CAST(FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) * 1000 / COUNT(l_discount)) AS BIGINT) AS l_discount_mean_milli
      |FROM lineitem""".stripMargin

  private def pString(spark: SparkSession, dir: String): DataFrame =
    Profiling.stringProfile(Tables.customer(spark, dir), Seq("c_name", "c_mktsegment"))

  private val pStringSql =
    """SELECT
      | COUNT(c_name) AS c_name_count,
      | CAST(MIN(length(c_name)) AS BIGINT) AS c_name_min_len,
      | CAST(MAX(length(c_name)) AS BIGINT) AS c_name_max_len,
      | CAST(COUNT(DISTINCT c_name) AS BIGINT) AS c_name_distinct,
      | COUNT(c_mktsegment) AS c_mktsegment_count,
      | CAST(MIN(length(c_mktsegment)) AS BIGINT) AS c_mktsegment_min_len,
      | CAST(MAX(length(c_mktsegment)) AS BIGINT) AS c_mktsegment_max_len,
      | CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS c_mktsegment_distinct
      |FROM customer""".stripMargin

  private def pCompleteness(spark: SparkSession, dir: String): DataFrame =
    Profiling.completeness(Tables.orders(spark, dir))

  private val pCompletenessSql =
    """SELECT
      | CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey_nulls,
      | CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
      | CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
      | CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
      | CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate_nulls,
      | CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority_nulls,
      | COUNT(*) AS total_rows
      |FROM orders""".stripMargin

  // --------------------------------------------------------- p_percentiles
  // Exact distribution percentiles of document length — the profiling
  // surface a curation pipeline thresholds against. Spark's `percentile`
  // and DuckDB's `quantile_cont` share the linear-interpolation definition
  // (index p*(n-1)), so the doubles must match exactly.
  private def pPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(
      expr("percentile(n_chars, 0.25)").as("p25"),
      expr("percentile(n_chars, 0.5)").as("p50"),
      expr("percentile(n_chars, 0.75)").as("p75"),
      expr("percentile(n_chars, 0.9)").as("p90"),
      expr("percentile(n_chars, 0.99)").as("p99"))

  private val pPercentilesSql =
    """SELECT quantile_cont(n_chars, 0.25) AS p25,
      | quantile_cont(n_chars, 0.5) AS p50,
      | quantile_cont(n_chars, 0.75) AS p75,
      | quantile_cont(n_chars, 0.9) AS p90,
      | quantile_cont(n_chars, 0.99) AS p99
      |FROM documents""".stripMargin

  // ------------------------------------------------------------ p_histogram
  // Equi-width value distribution of order totals — one scan, one keyed agg
  // over at most 20 groups (Profiling.histogram). Bucket bounds derive from
  // the bucket id by the same double formula in both engines.
  private def pHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.histogram(
      Tables.orders(spark, dir), "o_totalprice", lo = 0.0, hi = 500000.0,
      nBuckets = 20)

  private val pHistogramSql =
    """SELECT bucket, 0.0 + bucket * 25000.0 AS bucket_lo,
      | 0.0 + (bucket + 1) * 25000.0 AS bucket_hi, n
      |FROM (
      | SELECT CAST(least(floor((o_totalprice - 0.0) / 25000.0), 19) AS BIGINT) AS bucket,
      |  COUNT(*) AS n
      | FROM orders
      | WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0.0 AND o_totalprice <= 500000.0
      | GROUP BY 1)""".stripMargin

  // -------------------------------------------------------------- p_drift
  // Distribution drift (per-bin PSI) between the q22 snapshot pair: A is
  // orders as-is, B the deterministic mutation (keys %97 removed, %101
  // repriced +1.0, %103 re-added) — the "did the new ingest shift my
  // feature?" check between two crawls. Same fixed 20-bin [0, 500000]
  // range as p_histogram, out-of-range CLAMPED into edge bins; the oracle
  // replays binning, the conditional counts, and the ε-smoothed ln term
  // in the same double arithmetic, quantized through DECIMAL(38,6).
  // the q22 mutation as a price-only snapshot B — shared by p_drift
  // (two-static-snapshot form) and s_drift (streamed against the
  // persisted baseline); identical inputs make the two oracles twins
  /** The SHARED q22-mutation "snapshot B" every drift surface scores
    * against (p_drift, s_drift, s_drift_rolling, s_drift_multi — and the
    * pDriftSql-derived oracles replay exactly these %97/%101/%103
    * constants): drop the %97 keys, reprice the %101 keys by +1.0,
    * re-add the %103 keys. `extra` carries additional passthrough
    * columns for multi-column monitors — ONE definition of the mutation
    * so a staged batch can never silently diverge from the oracle's.
    */
  private def driftSnapshotB(spark: SparkSession, dir: String,
                             extra: Seq[String] = Nil): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select((Seq("o_orderkey", "o_totalprice") ++ extra).map(col): _*)
    val keep = Seq(col("o_totalprice")) ++ extra.map(col)
    o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .select(when(pmod(col("o_orderkey"), lit(101)) === 0,
        col("o_totalprice") + lit(1.0d))
        .otherwise(col("o_totalprice")).as("o_totalprice") +: extra.map(col): _*)
      .unionByName(o.filter(pmod(col("o_orderkey"), lit(103)) === 0)
        .select(keep: _*))
  }

  private def pDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    graft.operators.Profiling.distributionDrift(
      o.select(col("o_totalprice")), driftSnapshotB(spark, dir), "o_totalprice",
      lo = 0.0, hi = 500000.0, nBuckets = 20)
      // p_corr's comparator convention: quantize through the decimal, hand
      // the oracle a DOUBLE (decimal column renderings differ per engine)
      .withColumn("psi_term", col("psi_term").cast(DoubleType))
  }

  private val pDriftSql =
    """WITH b AS (
      | SELECT CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
      |  ELSE o_totalprice END AS x
      | FROM orders WHERE o_orderkey % 97 <> 0
      | UNION ALL
      | SELECT o_totalprice FROM orders WHERE o_orderkey % 103 = 0),
      |u AS (
      | SELECT 'a' AS s,
      |  CAST(least(greatest(floor((o_totalprice - 0.0) / 25000.0), 0), 19) AS BIGINT) AS bucket
      | FROM orders WHERE o_totalprice IS NOT NULL
      | UNION ALL
      | SELECT 'b',
      |  CAST(least(greatest(floor((x - 0.0) / 25000.0), 0), 19) AS BIGINT)
      | FROM b WHERE x IS NOT NULL),
      |c AS (
      | SELECT bucket,
      |  count(*) FILTER (WHERE s = 'a') AS count_a,
      |  count(*) FILTER (WHERE s = 'b') AS count_b
      | FROM u GROUP BY bucket),
      |t AS (SELECT sum(count_a) AS na, sum(count_b) AS nb FROM c)
      |SELECT bucket, count_a, count_b,
      | CAST(CAST((count_a * 1.0 / na - count_b * 1.0 / nb)
      |  * ln((count_a * 1.0 / na + 1e-9) / (count_b * 1.0 / nb + 1e-9))
      |  AS DECIMAL(38,6)) AS DOUBLE) AS psi_term
      |FROM c, t""".stripMargin

  // ------------------------------------------------------- p_drift_decile
  // The EQUI-MASS PSI form — the industry convention bins by the
  // BASELINE'S OWN DECILES (every bin ~10% of baseline mass) so the
  // report is sensitive across the whole distribution, not only where
  // equi-width bins happen to be populated. Cuts come from Spark's exact
  // `percentile` (bit-for-bit the same linear-interpolation definition as
  // DuckDB's quantile_cont — the p_percentiles evidence), bucket(v) =
  // #{cuts ≤ v}; the oracle recomputes the cuts and replays the
  // indicator-chain binning + counts + ln term.
  private def pDriftDecile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_totalprice"))
    val cuts = graft.operators.Profiling.quantileCuts(o, "o_totalprice", 10)
    graft.operators.Profiling.distributionDriftByCuts(
      o, driftSnapshotB(spark, dir), "o_totalprice", cuts)
      .withColumn("psi_term", col("psi_term").cast(DoubleType))
  }

  private val pDriftDecileSql =
    """WITH b AS (
      | SELECT CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
      |  ELSE o_totalprice END AS x
      | FROM orders WHERE o_orderkey % 97 <> 0
      | UNION ALL
      | SELECT o_totalprice FROM orders WHERE o_orderkey % 103 = 0),
      |q AS (
      | SELECT quantile_cont(o_totalprice,
      |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      | FROM orders WHERE o_totalprice IS NOT NULL),
      |u AS (
      | SELECT 'a' AS s,
      |  CAST(len(list_filter(qs, t -> o_totalprice >= t)) AS BIGINT) AS bucket
      | FROM orders, q WHERE o_totalprice IS NOT NULL
      | UNION ALL
      | SELECT 'b', CAST(len(list_filter(qs, t -> x >= t)) AS BIGINT)
      | FROM b, q WHERE x IS NOT NULL),
      |c AS (
      | SELECT bucket,
      |  count(*) FILTER (WHERE s = 'a') AS count_a,
      |  count(*) FILTER (WHERE s = 'b') AS count_b
      | FROM u GROUP BY bucket),
      |t AS (SELECT sum(count_a) AS na, sum(count_b) AS nb FROM c)
      |SELECT bucket, count_a, count_b,
      | CAST(CAST((count_a * 1.0 / na - count_b * 1.0 / nb)
      |  * ln((count_a * 1.0 / na + 1e-9) / (count_b * 1.0 / nb + 1e-9))
      |  AS DECIMAL(38,6)) AS DOUBLE) AS psi_term
      |FROM c, t""".stripMargin

  // ---------------------------------------------------------- p_drift_cat
  // Categorical drift over the same q22 snapshot pair: order PRIORITY
  // distribution before/after the mutation, vocabulary = A's top-3
  // priorities (count desc, value asc — deterministic even under count
  // ties), the two remaining priorities folding into __other__ — the
  // new-source/new-language check a numeric binning can't see. Oracle
  // replays vocabulary, folding, counts, and the ln term.
  private def pDriftCat(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val b = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .unionByName(o.filter(pmod(col("o_orderkey"), lit(103)) === 0))
      .select(col("o_orderpriority"))
    graft.operators.Profiling.categoricalDrift(
      o.select(col("o_orderpriority")), b, "o_orderpriority", topK = 3)
      .withColumn("psi_term", col("psi_term").cast(DoubleType))
  }

  private val pDriftCatSql =
    """WITH b AS (
      | SELECT o_orderpriority AS v FROM orders WHERE o_orderkey % 97 <> 0
      | UNION ALL
      | SELECT o_orderpriority FROM orders WHERE o_orderkey % 103 = 0),
      |vocab AS (
      | SELECT o_orderpriority AS category FROM orders
      | WHERE o_orderpriority IS NOT NULL
      | GROUP BY 1 ORDER BY count(*) DESC, category LIMIT 3),
      |u AS (
      | SELECT 'a' AS s, COALESCE(vo.category, '__other__') AS category,
      |  vo.category IS NULL AS is_fold
      | FROM orders LEFT JOIN vocab vo ON o_orderpriority = vo.category
      | WHERE o_orderpriority IS NOT NULL
      | UNION ALL
      | SELECT 'b', COALESCE(vo.category, '__other__'), vo.category IS NULL
      | FROM b LEFT JOIN vocab vo ON b.v = vo.category
      | WHERE b.v IS NOT NULL),
      |c AS (
      | SELECT category, is_fold,
      |  count(*) FILTER (WHERE s = 'a') AS count_a,
      |  count(*) FILTER (WHERE s = 'b') AS count_b
      | FROM u GROUP BY category, is_fold),
      |t AS (SELECT sum(count_a) AS na, sum(count_b) AS nb FROM c)
      |SELECT category, is_fold, count_a, count_b,
      | CAST(CAST((count_a * 1.0 / na - count_b * 1.0 / nb)
      |  * ln((count_a * 1.0 / na + 1e-9) / (count_b * 1.0 / nb + 1e-9))
      |  AS DECIMAL(38,6)) AS DOUBLE) AS psi_term
      |FROM c, t""".stripMargin

  // ------------------------------------------------------------- s_drift
  // The STREAMING drift monitor under the hash gate (the recurring-check
  // form of p_drift): the numeric baseline persists ONCE per (session, dir) —
  // bucket counts + binning contract, never the snapshot — snapshot B
  // stages as a parquet drop directory, and a real readStream →
  // toDriftSink query scores it against the stored baseline (one batch →
  // batch_id 0). Fresh report/checkpoint dirs per invocation. The oracle
  // is p_drift's with the batch_id constant — a baseline/stream count
  // divergence, a re-binning drift, or a double-append breaks the hash.
  private def sDrift(spark: SparkSession, dir: String): DataFrame = {
    // baseline (root/b) + staged snapshot-B drop dir (root/in), once per
    // (session, dir) — the recurring invocations only read them
    val root = Artifacts.staged(spark, "driftstage", dir) { tmp =>
      graft.operators.Profiling.writeDriftBaseline(
        Tables.orders(spark, dir).select(col("o_totalprice")),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 20,
        dir = tmp + "/b")
      driftSnapshotB(spark, dir).write.mode("overwrite")
        .parquet(tmp + "/in")
    }
    val rep = graft.TempFiles.createDir("graft_driftrep")
    val stream = Tables.parquetStream(spark, root + "/in")
    val q = graft.streaming.Streams.toDriftSink(stream, "o_totalprice",
      root + "/b", rep + "/r", rep + "/ckpt")
    q.processAllAvailable(); q.stop()
    Tables.parquet(spark, rep + "/r")
      .select(col("bucket"), col("count_a"), col("count_b"),
        col("psi_term").cast(DoubleType).as("psi_term"),
        // batch_id is the report's PARTITION column (replay-idempotent
        // per-batch overwrite layout); inference reads it as int
        col("batch_id").cast(LongType).as("batch_id"))
  }

  private val sDriftSql = pDriftSql.replace(
    "SELECT bucket, count_a, count_b,",
    "SELECT bucket, count_a, count_b, CAST(0 AS BIGINT) AS batch_id,")

  // --------------------------------------------------------- s_drift_cat
  // s_drift's categorical twin under the gate: the vocabulary + folded
  // counts persist once (writeCategoricalBaseline), the priority-only B
  // snapshot streams through toCatDriftSink, and the batch-tagged report
  // must hash-match p_drift_cat's oracle — a recomputed-instead-of-read
  // vocabulary, a fold-key drift, or a count divergence breaks it.
  private def sDriftCat(spark: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.staged(spark, "cdriftstage", dir) { tmp =>
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.Profiling.writeCategoricalBaseline(
        o.select(col("o_orderpriority")), "o_orderpriority", topK = 3,
        dir = tmp + "/b")
      o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(103)) === 0))
        .select(col("o_orderpriority"))
        .write.mode("overwrite").parquet(tmp + "/in")
    }
    val rep = graft.TempFiles.createDir("graft_cdriftrep")
    val stream = Tables.parquetStream(spark, root + "/in")
    val q = graft.streaming.Streams.toCatDriftSink(stream, "o_orderpriority",
      root + "/b", rep + "/r", rep + "/ckpt")
    q.processAllAvailable(); q.stop()
    Tables.parquet(spark, rep + "/r")
      .select(col("category"), col("is_fold"), col("count_a"), col("count_b"),
        col("psi_term").cast(DoubleType).as("psi_term"),
        col("batch_id").cast(LongType).as("batch_id")) // partition column
  }

  // ----------------------------------------------------- s_drift_rolling
  // The ROLLING drift monitor under the hash gate: batch 0 (the baseline
  // snapshot) seeds the ledger without a report; batch 1 (the q22
  // mutation) scores against the WINDOW — which at that point is exactly
  // batch 0 — so the report must hash-match p_drift's oracle with
  // batch_id 1. Batch boundaries are deterministic by construction: ONE
  // sink run (r14 — was two full query startups, the r13 verdict's cost
  // item) drains the staged batch-0 files, then the batch-1 files are
  // dropped and drained by the SAME query — the file source admits
  // exactly the new files as batch 1. Fresh dirs per invocation. A
  // ledger that double-counted a replay, mixed the batch into its own
  // history, or mis-pruned the window breaks the hash.
  private def sDriftRolling(spark: SparkSession, dir: String): DataFrame = {
    // both batches' parquet files stage ONCE per (session, dir) — recurring
    // invocations hardlink them into a fresh drop dir (the ledger,
    // checkpoint, and report must stay per-invocation; the DATA is
    // invariant), so the timed run is the monitor, not two table dumps
    val o = Tables.orders(spark, dir).select(col("o_totalprice"))
    val stage = Artifacts.staged(spark, "rdriftstage", dir) { tmp =>
      o.write.mode("overwrite").parquet(tmp + "/b0")
      driftSnapshotB(spark, dir).write.mode("overwrite").parquet(tmp + "/b1")
    }
    val root = graft.TempFiles.createDir("graft_rdriftq")
    val in = root + "/in"
    linkParquetInto(stage + "/b0", in) // batch 0: the baseline snapshot
    val q = graft.streaming.Streams.toRollingDriftSink(
      spark.readStream.schema(o.schema).parquet(in),
      "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 20,
      windowBatches = 4,
      stateDir = root + "/ledger",
      reportDir = root + "/r",
      checkpointDir = root + "/ckpt")
    q.processAllAvailable() // batch 0 seeds the ledger
    linkParquetInto(stage + "/b1", in) // batch 1: the mutated snapshot
    q.processAllAvailable() // batch 1 scores against the window
    q.stop()
    Tables.parquet(spark, root + "/r")
      .select(col("bucket"), col("count_a"), col("count_b"),
        col("psi_term").cast(DoubleType).as("psi_term"),
        col("batch_id").cast(LongType).as("batch_id")) // partition column
  }

  private val sDriftRollingSql = pDriftSql.replace(
    "SELECT bucket, count_a, count_b,",
    "SELECT bucket, count_a, count_b, CAST(1 AS BIGINT) AS batch_id,")

  /** Hardlink the staged parquet part files of `from` into drop dir `in`
    * — per-invocation batch drops without rewriting invariant data (part
    * file names are UUID-unique, so successive drops never collide).
    */
  private def linkParquetInto(from: String, in: String): Unit = {
    new java.io.File(in).mkdirs()
    new java.io.File(from).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f => java.nio.file.Files.createLink(
        java.nio.file.Paths.get(in, f.getName), f.toPath) }
  }

  // ------------------------------------------------------- s_drift_multi
  // The MULTI-COLUMN rolling monitor under the gate: ONE streaming query,
  // ONE column-keyed ledger, scoring the numeric o_totalprice (equi-width
  // PSI) and the categorical o_orderpriority (vocabulary-folded PSI)
  // slices of the SAME q22-mutation batch. Batch 0 (both columns of the
  // baseline snapshot) seeds; batch 1 carries the mutation row set whose
  // numeric slice is exactly driftSnapshotB and whose categorical slice
  // is exactly p_drift_cat's B — so the report must equal the UNION of
  // p_drift's and p_drift_cat's oracles, tagged by column, with the
  // numeric bucket rendered through the unified string key. A ledger that
  // mixed columns, scored a column against the other's totals, or folded
  // through a recomputed vocabulary breaks the hash.
  private def sDriftMulti(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val stage = Artifacts.staged(spark, "mdriftstage", dir) { tmp =>
      graft.operators.Profiling.writeCategoricalVocabulary(
        o.select(col("o_orderpriority")), "o_orderpriority", topK = 3,
        dir = tmp + "/v")
      o.select(col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(tmp + "/b0")
      // batch 1 IS the shared q22-mutation snapshot (one definition —
      // the numeric slice must equal p_drift's B, the categorical slice
      // p_drift_cat's B, or the union oracle breaks at the hash)
      driftSnapshotB(spark, dir, extra = Seq("o_orderpriority"))
        .write.mode("overwrite").parquet(tmp + "/b1")
    }
    val root = graft.TempFiles.createDir("graft_mdriftq")
    val in = root + "/in"
    linkParquetInto(stage + "/b0", in)
    val q = graft.streaming.Streams.toRollingMultiDriftSink(
      Tables.parquetStream(spark, in), // b0's files, linked above
      numeric = Seq(graft.streaming.Streams.NumericDriftCol(
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 20)),
      categorical = Seq(graft.streaming.Streams.CatDriftCol(
        "o_orderpriority", stage + "/v")),
      windowBatches = 4,
      stateDir = root + "/ledger",
      reportDir = root + "/r",
      checkpointDir = root + "/ckpt")
    q.processAllAvailable() // batch 0 seeds both columns' ledger slices
    linkParquetInto(stage + "/b1", in)
    q.processAllAvailable() // batch 1 scores per column
    q.stop()
    Tables.parquet(spark, root + "/r")
      .select(col("column"), col("key"), col("is_fold"),
        col("count_a"), col("count_b"),
        col("psi_term").cast(DoubleType).as("psi_term"),
        col("batch_id").cast(LongType).as("batch_id")) // partition column
  }

  // the two single-column oracles, tagged by column through the unified
  // string key (plain concatenation — no stripMargin over finished SQL)
  private val sDriftMultiSql =
    "SELECT 'o_totalprice' AS \"column\", CAST(bucket AS VARCHAR) AS key," +
      " FALSE AS is_fold, count_a, count_b, psi_term," +
      " CAST(1 AS BIGINT) AS batch_id FROM (" + pDriftSql + ")\n" +
      "UNION ALL\n" +
      "SELECT 'o_orderpriority', category, is_fold, count_a, count_b," +
      " psi_term, CAST(1 AS BIGINT) FROM (" + pDriftCatSql + ")"

  private val sDriftCatSql = pDriftCatSql.replace(
    "SELECT category, is_fold, count_a, count_b,",
    "SELECT category, is_fold, count_a, count_b, CAST(0 AS BIGINT) AS batch_id,")

  // ----------------------------------------------------------------- p_corr
  // Exact Pearson correlation between line-item quantity and price
  // (Profiling.corrExact): moment sums accumulate as exact DECIMAL (order-
  // independent, unlike a float corr()), and the closed form runs entirely
  // in correctly-rounded double ops (*, -, /, sqrt) — bit-identical on both
  // engines.
  // The closed form is 1 ulp apart across engines (DuckDB's int128-decimal
  // -> double cast double-rounds; Spark's BigDecimal path rounds once), so
  // the QUERY quantizes the final float through DECIMAL(38,10) — granularity
  // nine orders above the discrepancy — while the library operator stays
  // full-precision.
  private def pCorr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.corrExact(
        Tables.lineitem(spark, dir), "l_quantity", "l_extendedprice")
      .select(col("n"),
        col("corr").cast(DecimalType(38, 10)).cast(DoubleType).as("corr"))

  private val pCorrSql =
    """WITH m AS (
      | -- DECIMAL(19,6): one digit past int64 so DuckDB multiplies in
      | -- int128 (18,6 operands overflow), product width 38 still legal;
      | -- the sums stay exact, which is all the double render consumes
      | SELECT COUNT(*) AS n,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6))) AS sx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS sy,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS syy,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy
      | FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
      |SELECT n, CAST(CAST(
      | (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |  sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |       (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      | AS DECIMAL(38,10)) AS DOUBLE) AS corr
      |FROM m""".stripMargin

  // ------------------------------------------------------------ p_sketches
  // Approximate aggregation sketches (HyperLogLog++ count-distinct and
  // approximate quantiles) under the INVARIANT oracle (the d_embed_pca
  // pattern, promoted r15 from rows-only): sketch internals differ per
  // engine, so the raw estimates never reach the hash — instead each
  // engine computes its OWN estimate next to the both-engine-exact answer
  // and emits a within-bound FLAG the gate checks. The bounds are an
  // order of magnitude above the sketches' published error (10% for HLL
  // at rsd=0.02; 5% value error for rank-ε=1e-3 quantiles on this smooth
  // price distribution), so a flag flip means a sketch actually broke,
  // not that two correct sketches disagreed. The exact distinct counts
  // ride as hashed columns in their own right; AggregatesSpec still
  // bounds the numeric error directly.
  private def pSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("__ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("__ao"),
        expr("percentile(l_extendedprice, 0.5)").as("__e50"),
        expr("percentile(l_extendedprice, 0.99)").as("__e99"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__a50"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("__a99"))
      .select(col("exact_parts"), col("exact_orders"),
        (abs(col("__ap") - col("exact_parts")) * 10 <= col("exact_parts"))
          .as("hll_parts_ok"),
        (abs(col("__ao") - col("exact_orders")) * 10 <= col("exact_orders"))
          .as("hll_orders_ok"),
        (abs(col("__a50") - col("__e50")) * 20 <= col("__e50")).as("p50_ok"),
        (abs(col("__a99") - col("__e99")) * 20 <= col("__e99")).as("p99_ok"))

  private val pSketchesSql =
    """WITH x AS (
      | SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  approx_count_distinct(l_partkey) AS ap,
      |  approx_count_distinct(l_orderkey) AS ao,
      |  quantile_cont(l_extendedprice, 0.5) AS e50,
      |  quantile_cont(l_extendedprice, 0.99) AS e99,
      |  approx_quantile(l_extendedprice, 0.5) AS a50,
      |  approx_quantile(l_extendedprice, 0.99) AS a99
      | FROM lineitem)
      |SELECT CAST(exact_parts AS BIGINT) AS exact_parts,
      | CAST(exact_orders AS BIGINT) AS exact_orders,
      | abs(ap - exact_parts) * 10 <= exact_parts AS hll_parts_ok,
      | abs(ao - exact_orders) * 10 <= exact_orders AS hll_orders_ok,
      | abs(a50 - e50) * 20 <= e50 AS p50_ok,
      | abs(a99 - e99) * 20 <= e99 AS p99_ok
      |FROM x""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("p_sketches", pSketches, Some(pSketchesSql)),
    QueryDef("p_percentiles", pPercentiles, Some(pPercentilesSql)),
    QueryDef("p_histogram", pHistogram, Some(pHistogramSql)),
    QueryDef("p_drift", pDrift, Some(pDriftSql)),
    QueryDef("p_drift_decile", pDriftDecile, Some(pDriftDecileSql)),
    QueryDef("p_drift_cat", pDriftCat, Some(pDriftCatSql)),
    QueryDef("s_drift", sDrift, Some(sDriftSql)),
    QueryDef("s_drift_cat", sDriftCat, Some(sDriftCatSql)),
    QueryDef("s_drift_rolling", sDriftRolling, Some(sDriftRollingSql)),
    QueryDef("s_drift_multi", sDriftMulti, Some(sDriftMultiSql)),
    QueryDef("p_corr", pCorr, Some(pCorrSql)),
    QueryDef("p_numeric_profile", pNumeric, Some(pNumericSql)),
    QueryDef("p_string_profile", pString, Some(pStringSql)),
    QueryDef("p_completeness", pCompleteness, Some(pCompletenessSql))
  )
}
