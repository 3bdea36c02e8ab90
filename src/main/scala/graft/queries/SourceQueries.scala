package graft.queries

import graft.Tables
import graft.operators.{DenseId, ForeignKey, VanCode}
import graft.sinks.Sinks
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-checked queries for the round-3 reference surfaces: fixed-width
  * flat files (parsers/FileParserFunctions.scala:146/:273), cross-source
  * foreign-key resolution (transformers/FetchForeignKeyValue.scala:41) and
  * Drupal vancode thread paths (generators/DrupalVanCodeGenerator.scala).
  */
object SourceQueries {

  // ----------------------------------------------------- q21_fixed_width
  // Round-trip proof: write nation as a fixed-width flat file, read it back
  // with the fixed-width source, and project typed columns; the oracle reads
  // the original parquet. Any column drift, padding bug or type loss in
  // either direction breaks the hash.
  private val fwFields = Seq(("n_nationkey", 6), ("n_name", 26), ("n_regionkey", 4))

  private def q21FixedWidth(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Artifacts.staged(spark, "fw", dir) { out =>
      Sinks.writeFixedWidth(
        Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey"),
        out, fwFields)
    }
    Sources.readFixedWidth(spark, tmp, fwFields)
      .select(col("n_nationkey").cast(LongType).as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast(LongType).as("n_regionkey"))
  }

  private val q21FixedWidthSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      | CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation""".stripMargin

  // --------------------------------------------------------- t_fk_fetch
  // Migration re-key: the customer dimension gets target-side dense ids
  // (DenseId = the auto-increment the target DB would assign), and every
  // order's FK is resolved against that target snapshot with one join —
  // FetchForeignKeyValue.scala:41's per-row target lookup, set-at-a-time.
  private def tFkFetch(spark: SparkSession, dir: String): DataFrame = {
    val mapping = DenseId.withDenseId(
      Tables.customer(spark, dir).select(col("c_custkey")),
      "c_custkey", "new_key", startAt = 1000000L)
    ForeignKey.fetch(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
      "o_custkey", mapping, "c_custkey", "new_key", "o_custkey_new")
  }

  private val tFkFetchSql =
    """WITH m AS (
      | SELECT c_custkey,
      |  999999 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS new_key
      | FROM customer)
      |SELECT o_orderkey, o_custkey, CAST(new_key AS BIGINT) AS o_custkey_new
      |FROM orders LEFT JOIN m ON o_custkey = c_custkey""".stripMargin

  // ---------------------------------------------------------- t_vancode
  // Thread-path composition over a deterministic synthetic comment tree:
  // customers per nation are the comments of one "article"; the customer at
  // 1-based rank rn replies to the one at rank rn/3 (0 → top-level). The
  // oracle replays the path build with a recursive CTE.
  private def tVanCode(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("article")).orderBy(col("cid"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").cast(LongType).as("cid"),
        col("c_nationkey").cast(LongType).as("article"))
      .withColumn("rn", row_number().over(w))
    val p = c.select(col("cid").as("pcid"), col("article").as("particle"),
      col("rn").as("prn"))
    val tree = c.join(p,
        col("article") === col("particle") && col("prn") === floor(col("rn") / 3),
        "left")
      .select(col("cid"), col("article"), coalesce(col("pcid"), lit(0L)).as("parent"))
    VanCode.withVanCodes(tree, "cid", "article", "parent", maxDepth = 16)
      .select(col("cid"), col("vancode"))
  }

  private val tVanCodeSql =
    """WITH RECURSIVE base0 AS (
      | SELECT c_custkey AS cid, CAST(c_nationkey AS BIGINT) AS article,
      |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      | FROM customer),
      |tree AS (
      | SELECT a.cid, a.article, COALESCE(b.cid, 0) AS parent
      | FROM base0 a LEFT JOIN base0 b
      |  ON a.article = b.article AND b.rn = a.rn // 3),
      |seg AS (
      | SELECT cid, article, parent,
      |  CAST(length(lower(to_base(n, 36))) - 1 AS VARCHAR) || lower(to_base(n, 36)) AS seg
      | FROM (
      |  SELECT cid, article, parent,
      |   ROW_NUMBER() OVER (PARTITION BY article, parent ORDER BY cid)
      |    - CASE WHEN parent = 0 THEN 0 ELSE 1 END AS n
      |  FROM tree)),
      |paths AS (
      | SELECT cid, parent AS cur, '' AS anc FROM seg
      | UNION ALL
      | SELECT p.cid, s.parent, p.anc || s.seg || '.'
      | FROM paths p JOIN seg s ON p.cur = s.cid WHERE p.cur != 0)
      |SELECT g.cid, p.anc || g.seg || '/' AS vancode
      |FROM seg g JOIN paths p ON g.cid = p.cid AND p.cur = 0""".stripMargin

  // ------------------------------------------------- q22_snapshot_diff
  // Incremental-sync change detection: snapshot B mutates orders
  // deterministically (keys %97 removed, %101 repriced, %103 re-added
  // under shifted keys); the diff must classify every key exactly. The
  // oracle derives the statuses analytically from the same mutation rules.
  private def ordersSnapshotA(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))

  /** Snapshot B's deterministic mutations: keys %97 removed, %101 repriced,
    * %103 re-added under shifted keys. Shared by q22 (detect) and q31
    * (apply).
    */
  private def mutateOrders(a: DataFrame): DataFrame =
    a.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(101)) === 0, col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")))
      .unionByName(a.filter(pmod(col("o_orderkey"), lit(103)) === 0)
        .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority")))

  private def q22SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = ordersSnapshotA(spark, dir)
    graft.operators.Validators.snapshotDiff(a, mutateOrders(a),
        keys = Seq("o_orderkey"), compareCols = Seq("o_totalprice", "o_orderpriority"))
      .filter(col("status") =!= "same")
  }

  private val q22SnapshotDiffSql =
    """SELECT o_orderkey, 'removed' AS status FROM orders WHERE o_orderkey % 97 = 0
      |UNION ALL
      |SELECT o_orderkey, 'changed' FROM orders
      |WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 != 0
      |UNION ALL
      |SELECT o_orderkey + 10000000000, 'added' FROM orders WHERE o_orderkey % 103 = 0""".stripMargin

  // ------------------------------------------------------------ q31_scd2
  // The APPLY step of incremental sync (q22 detects, this folds): snapshot A
  // initializes an SCD type-2 history, snapshot B's mutations must version
  // it exactly — unchanged keys stay open since A, changed keys get a closed
  // A-version plus an open B-version, removed keys close, re-added shifted
  // keys open at B. The oracle derives the identical history from a generic
  // full-outer join (not the planted rules), so the operator's semantics —
  // not the test fixture — are what is being checked.
  private def q31Scd2(spark: SparkSession, dir: String): DataFrame = {
    val a = ordersSnapshotA(spark, dir)
    graft.operators.Scd2.merge(
      graft.operators.Scd2.init(a, "2024-01-01"), mutateOrders(a),
      keys = Seq("o_orderkey"), compareCols = Seq("o_totalprice", "o_orderpriority"),
      ts = "2024-02-01")
  }

  private val q31Scd2Sql =
    """WITH a AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
      |b AS (
      | SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      | FROM orders WHERE o_orderkey % 97 != 0
      | UNION ALL
      | SELECT o_orderkey + 10000000000, o_totalprice, o_orderpriority
      | FROM orders WHERE o_orderkey % 103 = 0),
      |j AS (
      | SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
      |  a.o_totalprice AS pa, a.o_orderpriority AS ra,
      |  b.o_totalprice AS pb, b.o_orderpriority AS rb
      | FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT ka AS o_orderkey, pa AS o_totalprice, ra AS o_orderpriority,
      | '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      |FROM j WHERE ka IS NOT NULL AND kb IS NOT NULL
      | AND pa IS NOT DISTINCT FROM pb AND ra IS NOT DISTINCT FROM rb
      |UNION ALL
      |SELECT ka, pa, ra, '2024-01-01', '2024-02-01'
      |FROM j WHERE ka IS NOT NULL
      | AND (kb IS NULL OR pa IS DISTINCT FROM pb OR ra IS DISTINCT FROM rb)
      |UNION ALL
      |SELECT kb, pb, rb, '2024-02-01', CAST(NULL AS VARCHAR)
      |FROM j WHERE kb IS NOT NULL
      | AND (ka IS NULL OR pa IS DISTINCT FROM pb OR ra IS DISTINCT FROM rb)""".stripMargin

  // ---------------------------------------------------------- q32_upsert
  // SCD type-1 merge (MERGE INTO): a DELTA of changes — repriced keys plus
  // newly added shifted keys — upserts into the orders snapshot; updated
  // keys must show the new price exactly once, inserts append, everything
  // else passes through untouched.
  private def q32Upsert(spark: SparkSession, dir: String): DataFrame = {
    val a = ordersSnapshotA(spark, dir)
    val delta = a
      .filter(pmod(col("o_orderkey"), lit(101)) === 0 &&
        pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0d))
      .unionByName(a.filter(pmod(col("o_orderkey"), lit(103)) === 0)
        .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority")))
    graft.operators.Scd2.upsert(a, delta, Seq("o_orderkey"))
  }

  private val q32UpsertSql =
    """WITH d AS (
      | SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice, o_orderpriority
      | FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 != 0
      | UNION ALL
      | SELECT o_orderkey + 10000000000, o_totalprice, o_orderpriority
      | FROM orders WHERE o_orderkey % 103 = 0)
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM d
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d)""".stripMargin

  // ----------------------------------------------------------- q23_excel
  // Round-trip proof for the pure-JDK xlsx source/sink: write the documents
  // table (long free text — the hostile case for cell encoding/escaping) as
  // a workbook, read it back through the Excel source, re-type the numeric
  // columns; the oracle reads the original parquet. Any cell-encoding,
  // escaping, shared/inline-string or column-alignment bug breaks the hash.
  private def q23Excel(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Artifacts.staged(spark, "xlsx", dir) { out =>
      Sinks.writeExcel(
        Tables.documents(spark, dir).select("doc_id", "text", "lang", "n_chars"),
        java.nio.file.Paths.get(out).resolve("documents.xlsx").toString)
    }
    Sources.readExcel(spark, tmp)
      .select(col("doc_id").cast(LongType).as("doc_id"),
        col("text"), col("lang"),
        col("n_chars").cast(LongType).as("n_chars"))
  }

  private val q23ExcelSql =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,
      | CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents""".stripMargin

  // ------------------------------------------------------ q28_constraints
  // Declarative data-quality gate (Validators.checkConstraints): orders
  // with four kinds of planted dirt — nulled priorities (%97), negated
  // totals (%101), dangling customer FKs (%103), duplicated keys (%107) —
  // must yield EXACT violation counts per rule, plus one passing rule.
  // Row-wise rules and uniqueness fuse into a single scan; the FK rule is
  // one broadcast join-aggregate.
  private def q28Constraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validators._
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val mutated = o
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(97)) === 0, lit(null))
          .otherwise(col("o_orderpriority")))
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(101)) === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(103)) === 0, col("o_custkey") + 9000000L)
          .otherwise(col("o_custkey")))
    val dirty = mutated.unionByName(
      mutated.filter(pmod(col("o_orderkey"), lit(107)) === 0))
    checkConstraints(dirty, Seq(
      NotNull("o_orderpriority"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 0.0, 1e9),
      MatchesRegex("o_orderpriority", "^[1-5]-"),
      RefIntegrity("o_custkey", Tables.customer(spark, dir), "c_custkey"),
      Satisfies("key_positive", "o_orderkey > 0")))
  }

  private val q28ConstraintsSql =
    """WITH d0 AS (
      | SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 103 = 0 THEN o_custkey + 9000000 ELSE o_custkey END AS o_custkey,
      |  CASE WHEN o_orderkey % 101 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
      | FROM orders),
      |d AS (SELECT * FROM d0 UNION ALL SELECT * FROM d0 WHERE o_orderkey % 107 = 0)
      |SELECT 'not_null:o_orderpriority' AS rule,
      | CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM d
      |UNION ALL SELECT 'unique:o_orderkey',
      | CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM d
      |UNION ALL SELECT 'in_range:o_totalprice',
      | CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
      |   AND (o_totalprice < 0 OR o_totalprice > 1000000000.0) THEN 1 ELSE 0 END) AS BIGINT) FROM d
      |UNION ALL SELECT 'matches:o_orderpriority',
      | CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
      |   AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) FROM d
      |UNION ALL SELECT 'ref:o_custkey',
      | CAST(SUM(CASE WHEN o_custkey IS NOT NULL AND c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      | FROM (SELECT o_custkey, c_custkey AS c
      |       FROM d LEFT JOIN customer ON o_custkey = c_custkey)
      |UNION ALL SELECT 'satisfies:key_positive',
      | CAST(SUM(CASE WHEN NOT (o_orderkey > 0) THEN 1 ELSE 0 END) AS BIGINT) FROM d""".stripMargin

  // ----------------------------------------------------------- q41_jdbc
  // Database round-trip (DatabaseParser.scala / DatabaseWriterActor.scala —
  // the reference is a database-integration agent at heart): supplier is
  // written into embedded Derby via the JDBC sink, read back through the
  // PARTITIONED JDBC source (4 range-partitioned parallel reads on
  // s_suppkey), and projected; the oracle reads the original parquet. Any
  // type-mapping loss (BIGINT/INT/DOUBLE/VARCHAR) in either direction
  // breaks the hash.
  private def q41Jdbc(spark: SparkSession, dir: String): DataFrame = {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val db = Artifacts.staged(spark, "derby", dir) { out =>
      Sinks.writeJdbc(
        Tables.supplier(spark, dir)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        s"jdbc:derby:$out/db;create=true", "supplier_rt", props,
        mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    Sources.readJdbc(spark, s"jdbc:derby:$db/db", "supplier_rt", props,
        partitionColumn = Some("s_suppkey"), lowerBound = 1L,
        upperBound = 10000L, numPartitions = 4)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
  }

  private val q41JdbcSql =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"

  // --------------------------------------------------- q49_jdbc_upsert
  // The reference's keyed-UPDATE database write path end-to-end
  // (writers/DatabaseWriterActor.scala:506–531,607: prepared UPDATE batches
  // with the primary-key columns bound into the WHERE clause): supplier is
  // seeded into Derby, then a batch of CHANGED rows (every 10th key:
  // acctbal+100, name lower-cased) plus NEW rows (every 7th key shifted to
  // 1e10 — far above any reachable scaled key, r7 fixture rule) is applied
  // through Sinks.writeJdbcUpsert, and the table is read back. The oracle
  // replays the same upsert as pure SQL over the original parquet
  // (Scd2.upsert's anti-join ∪ source form). A wrong WHERE binding, a
  // lost INSERT-on-zero-update, a type-mapping loss, or a non-idempotent
  // re-application (the cached DB is upserted again on every invocation)
  // breaks the hash.
  private def q49JdbcUpsert(spark: SparkSession, dir: String): DataFrame = {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val base = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val db = Artifacts.staged(spark, "derbyups", dir) { out =>
      Sinks.writeJdbc(base, s"jdbc:derby:$out/db;create=true", "supplier_ups",
        props, mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    val changed = base.filter(col("s_suppkey") % 10 === 0)
      .withColumn("s_acctbal", col("s_acctbal") + 100.0)
      .withColumn("s_name", lower(col("s_name")))
    val fresh = base.filter(col("s_suppkey") % 7 === 0)
      .withColumn("s_suppkey", col("s_suppkey") + lit(10000000000L))
    Sinks.writeJdbcUpsert(changed.unionByName(fresh), s"jdbc:derby:$db/db",
      "supplier_ups", Seq("s_suppkey"), props)
    Sources.readJdbc(spark, s"jdbc:derby:$db/db", "supplier_ups", props)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
  }

  private val q49JdbcUpsertSql =
    "WITH base AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier), " +
      "batch AS (" +
      "SELECT s_suppkey, lower(s_name) AS s_name, s_nationkey, s_acctbal + 100.0 AS s_acctbal " +
      "FROM base WHERE s_suppkey % 10 = 0 " +
      "UNION ALL " +
      "SELECT s_suppkey + 10000000000, s_name, s_nationkey, s_acctbal " +
      "FROM base WHERE s_suppkey % 7 = 0) " +
      "SELECT * FROM base WHERE s_suppkey NOT IN (SELECT s_suppkey FROM batch) " +
      "UNION ALL SELECT * FROM batch"

  // ---------------------------------------------------- q52_cdc_apply
  // The FULL CDC apply — updates, inserts, AND tombstones — against a live
  // database in one call (Sinks.writeJdbcCdc; q49 covers the
  // update/insert half alone). supplier seeds Derby; one change batch
  // carries updates (every 10th key, except those the tombstones claim),
  // inserts (every 7th key shifted to 1e10), and deletes (every 13th key)
  // tagged through an op column; the table is read back. The oracle
  // replays all three channels in SQL. A delete that lands on the wrong
  // key, a tombstone row leaking into the upsert half, or a
  // non-idempotent re-application (the cached DB re-applies the batch on
  // every invocation) breaks the hash.
  private def q52CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val base = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val db = Artifacts.staged(spark, "derbycdc", dir) { out =>
      Sinks.writeJdbc(base, s"jdbc:derby:$out/db;create=true", "supplier_cdc",
        props, mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    val changed = base
      .filter(col("s_suppkey") % 10 === 0 && col("s_suppkey") % 13 =!= 0)
      .withColumn("s_acctbal", col("s_acctbal") + 100.0)
      .withColumn("s_name", lower(col("s_name")))
    val fresh = base.filter(col("s_suppkey") % 7 === 0)
      .withColumn("s_suppkey", col("s_suppkey") + lit(10000000000L))
    val dels = base.filter(col("s_suppkey") % 13 === 0)
    val batch = changed.withColumn("__op", lit("U"))
      .unionByName(fresh.withColumn("__op", lit("U")))
      .unionByName(dels.withColumn("__op", lit("D")))
    Sinks.writeJdbcCdc(batch, s"jdbc:derby:$db/db", "supplier_cdc",
      Seq("s_suppkey"), "__op", "D", props)
    Sources.readJdbc(spark, s"jdbc:derby:$db/db", "supplier_cdc", props)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
  }

  private val q52CdcApplySql =
    "WITH base AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier), " +
      "batch AS (" +
      "SELECT s_suppkey, lower(s_name) AS s_name, s_nationkey, s_acctbal + 100.0 AS s_acctbal " +
      "FROM base WHERE s_suppkey % 10 = 0 AND s_suppkey % 13 <> 0 " +
      "UNION ALL " +
      "SELECT s_suppkey + 10000000000, s_name, s_nationkey, s_acctbal " +
      "FROM base WHERE s_suppkey % 7 = 0), " +
      "dels AS (SELECT s_suppkey FROM base WHERE s_suppkey % 13 = 0) " +
      "SELECT * FROM base WHERE s_suppkey NOT IN (SELECT s_suppkey FROM batch) " +
      "AND s_suppkey NOT IN (SELECT s_suppkey FROM dels) " +
      "UNION ALL SELECT * FROM batch"

  // --------------------------------------------------- s_cdc_apply
  // STRUCTURED STREAMING itself under the hash gate (s_sessionize gates
  // the batch twin; this runs the real stream machinery): a change log —
  // initial versions, updates at seq 2 for every 10th key, late inserts —
  // stages as a parquet drop directory, a readStream → toUpsertSink query
  // runs to completion (foreachBatch, per-batch max_by(seq) winner
  // collapse, Scd2.upsert merge, atomic write-and-swap publish), and the
  // FINAL table read back is the query result. Fresh output/checkpoint
  // dirs per invocation, so re-runs are self-contained and deterministic.
  // The oracle replays latest-version-per-key in SQL — a lost update, a
  // winner tie-break drift, or a non-atomic publish breaks the hash.
  private def sCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val in = Artifacts.staged(spark, "scdcin", dir) { out =>
      base.withColumn("seq", lit(1L))
        .write.mode("overwrite").parquet(out)
      base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderpriority", lower(col("o_orderpriority")))
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
        .withColumn("seq", lit(2L))
        .write.mode("append").parquet(out)
      base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000000L))
        .withColumn("seq", lit(1L))
        .write.mode("append").parquet(out)
    }
    val outDir = graft.TempFiles.createDir("scdcout") + "/t"
    val ckpt = graft.TempFiles.createDir("scdcckpt")
    val stream = Tables.parquetStream(spark, in)
    val q = graft.streaming.Streams.toUpsertSink(stream, outDir, ckpt,
      keys = Seq("o_orderkey"), seqCol = "seq")
    q.processAllAvailable(); q.stop()
    Tables.parquet(spark, outDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("seq"))
  }

  private val sCdcApplySql =
    "WITH ch AS (" +
      "SELECT o_orderkey, o_orderpriority, o_totalprice, CAST(1 AS BIGINT) AS seq FROM orders " +
      "UNION ALL " +
      "SELECT o_orderkey, lower(o_orderpriority), o_totalprice + 5.0, CAST(2 AS BIGINT) " +
      "FROM orders WHERE o_orderkey % 10 = 0 " +
      "UNION ALL " +
      "SELECT o_orderkey + 10000000000, o_orderpriority, o_totalprice, CAST(1 AS BIGINT) " +
      "FROM orders WHERE o_orderkey % 7 = 0) " +
      "SELECT o_orderkey, o_orderpriority, o_totalprice, seq FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ch" +
      ") WHERE rn = 1"

  // ------------------------------------------------- d_shard_export
  // The full training-export path under the hash gate: documents permute
  // through the deterministic shuffle, write as round-robin shards
  // (Sinks.writeShuffledShards → path/shard=i/, one pos-ordered file
  // each), and read BACK through the partitioned layout. The oracle
  // re-derives position and shard from the same affine-permutation
  // constants (Corpus.shuffleKeySql) — a drifted shard route, a
  // partition-column type loss, or a nondeterministic position breaks
  // the hash.
  private def dShardExport(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Artifacts.staged(spark, "shards", dir) { out =>
      Sinks.writeShuffledShards(
        Tables.documents(spark, dir).select("doc_id"), out, "doc_id",
        seed = 11L, nShards = 4)
    }
    Tables.parquet(spark, tmp)
      .select(col("doc_id"), col("pos"),
        col("shard").cast(org.apache.spark.sql.types.LongType).as("shard"))
  }

  private val dShardExportSql =
    "SELECT doc_id, row_number() OVER (ORDER BY " +
      graft.operators.Corpus.shuffleKeySql("doc_id", 11L) +
      ", doc_id) - 1 AS pos, " +
      "(row_number() OVER (ORDER BY " +
      graft.operators.Corpus.shuffleKeySql("doc_id", 11L) +
      ", doc_id) - 1) % 4 AS shard FROM documents"

  // ------------------------------------------------ q51_jdbc_if_absent
  // The reference's DatabaseQueryType.Ignore write path under the hash
  // gate (skip rows whose unique-column value is already present — never
  // update): Derby is seeded with the EVEN-keyed half of supplier, then a
  // batch of ALL rows with lower-cased names goes through
  // writeJdbcIfAbsent. Present evens keep their ORIGINAL names (a lost
  // skip shows as a lower-cased even); absent odds insert lower-cased.
  // Re-applied every invocation — idempotence inside the gate, like q49.
  private def q51JdbcIfAbsent(spark: SparkSession, dir: String): DataFrame = {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val base = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val db = Artifacts.staged(spark, "derbyia", dir) { out =>
      Sinks.writeJdbc(base.filter(col("s_suppkey") % 2 === 0),
        s"jdbc:derby:$out/db;create=true", "supplier_ia", props,
        mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    Sinks.writeJdbcIfAbsent(base.withColumn("s_name", lower(col("s_name"))),
      s"jdbc:derby:$db/db", "supplier_ia", Seq("s_suppkey"), props)
    Sources.readJdbc(spark, s"jdbc:derby:$db/db", "supplier_ia", props)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
  }

  private val q51JdbcIfAbsentSql =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier " +
      "WHERE s_suppkey % 2 = 0 " +
      "UNION ALL " +
      "SELECT s_suppkey, lower(s_name) AS s_name, s_nationkey, s_acctbal " +
      "FROM supplier WHERE s_suppkey % 2 <> 0"

  // -------------------------------------------------- q50_dfasdl_tokens
  // The r9 token-stream reader under the rows+schema+hash gate: orders is
  // staged as a vCard-shaped label:value stream (two physical lines per
  // record — "KEY:<orderkey>" / "PRI:<orderpriority>"), read back through
  // a mixed-stop-sign DFASDL document (':'-stopped anonymous labels,
  // newline-default values; parsers/BaseParser.scala:50 semantics), with
  // the num leaf coercing to LongType. The oracle reads the original
  // parquet — a mis-framed record boundary, a label leaking into a value,
  // or a type-coercion miss breaks the hash.
  private val q50Doc =
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="TOK">
      |  <seq id="s"><elem id="r">
      |    <str class="label" stop-sign=":"/>
      |    <num id="o_orderkey"/>
      |    <str class="label" stop-sign=":"/>
      |    <str id="o_orderpriority"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin

  private def q50DfasdlTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "tokstream", dir) { out =>
      Tables.orders(spark, dir)
        .select(concat(lit("KEY:"), col("o_orderkey"),
          lit("\nPRI:"), col("o_orderpriority")).as("value"))
        .write.mode("overwrite").text(s"$out/data")
    }
    Dfasdl.readDelimited(spark, s"$tmp/data", Dfasdl.parseSchema(q50Doc))
  }

  private val q50DfasdlTokensSql =
    "SELECT o_orderkey, o_orderpriority FROM orders"

  // --------------------------------------------------- q53_dfasdl_mixed
  // The r12 record-scope choice reader under the rows+schema+hash gate —
  // the reference's LAST BaseParser shape (BaseParser.scala:244 offset-
  // reset branch retry: a record mixing plain slots with a MULTI-leaf
  // choice branch). Orders stage one line per record: even keys carry a
  // "K:"-labeled priority (the two-leaf branch), odd keys a bare custkey
  // number (the one-leaf branch), so the record's token COUNT is branch-
  // dependent — exactly what the fixed-arity readers reject and the
  // combination-alternation reader handles. The oracle replays the
  // dispatch with CASE over the original parquet; a mis-framed record, a
  // wrong branch pick, or a type-coercion miss breaks the hash.
  private def q53DfasdlMixed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "dfasdlmixed", dir) { out =>
      Tables.orders(spark, dir)
        .select(concat(
          col("o_orderkey"), lit(";"),
          when(col("o_orderkey") % 2 === 0,
            concat(lit("K:"), col("o_orderpriority")))
            .otherwise(col("o_custkey").cast(StringType)),
          lit(";"), col("o_orderstatus")).as("value"))
        .write.mode("overwrite").text(s"$out/data")
    }
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="MIXEDCHOICE">
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
    Dfasdl.readDelimited(spark, s"$tmp/data", doc)
  }

  private val q53DfasdlMixedSql =
    """SELECT o_orderkey AS okey,
      | CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END AS prio,
      | CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END AS ck,
      | o_orderstatus AS status
      |FROM orders""".stripMargin

  // --------------------------------------------------------- q42_dfasdl
  // The cookbook front-end end-to-end, oracle-checked: customer is staged
  // as a headered CSV, its DFASDL schema document is EMITTED by
  // Dfasdl.emit (SchemaExtractor's output format), embedded in a cookbook
  // whose recipe upper/lower-cases and renames through reference
  // transformer class names, and the compiled pipeline runs over
  // Dfasdl.readDelimited. The oracle reproduces the transforms over the
  // original parquet — any drift in schema emission, document parsing, CSV
  // typing (num→long, formatnum→double), or transformer compilation breaks
  // the hash.
  private def q42Dfasdl(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val cols = Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val tmp = Artifacts.staged(spark, "dfasdlcsv", dir) { out =>
      Sinks.writeCsv(Tables.customer(spark, dir).select(cols.map(col): _*), out)
    }
    val schemaDoc = Dfasdl
      .emit(StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))), id = "CUSTOMER", header = true)
      .replaceFirst("^<\\?xml[^>]*\\?>\\s*", "")
    val cookbook = Dfasdl.parseCookbook(
      s"""<cookbook id="CUSTOMER-MIGRATION">
         |  <source>$schemaDoc</source>
         |  <recipe id="CURATE" mode="one-to-one">
         |    <mapping>
         |      <sources>c_custkey c_acctbal</sources>
         |      <targets>custkey acctbal</targets>
         |    </mapping>
         |    <mapping>
         |      <sources>c_name</sources>
         |      <targets>name_upper</targets>
         |      <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
         |        <option name="perform" value="upper"/>
         |      </transformation>
         |    </mapping>
         |    <mapping>
         |      <sources>c_mktsegment</sources>
         |      <targets>segment</targets>
         |      <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
         |        <option name="perform" value="lower"/>
         |      </transformation>
         |    </mapping>
         |  </recipe>
         |</cookbook>""".stripMargin)
    Dfasdl.applyCookbook(
      Dfasdl.readDelimited(spark, tmp, cookbook.source), cookbook)
  }

  private val q42DfasdlSql =
    """SELECT c_custkey AS custkey, c_acctbal AS acctbal,
      | upper(c_name) AS name_upper, lower(c_mktsegment) AS segment
      |FROM customer""".stripMargin

  // ----------------------------------------------------- q43_dfasdl_xml
  // DFASDL-described XML data read end-to-end (the reference's
  // parsers/XmlFileParser.scala StAX walk, re-expressed over the native xml
  // source): customer is staged as XML with the segment as an ATTRIBUTE of
  // the row element, then read back through a hand-written DFASDL whose
  // leaves rename via xml-element-name and pull the attribute via
  // xml-attribute-name/xml-attribute-parent. The oracle reads the original
  // parquet — any drift in rowTag derivation, element naming, attribute
  // extraction, or the num/formatnum coercions breaks the hash.
  private def q43DfasdlXml(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "dfasdlxml", dir) { out =>
      Sinks.writeXml(
        Tables.customer(spark, dir).select(
          col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment").as("_segment")),
        out, rowTag = "customer", rootTag = "customers")
    }
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="CUSTXML" semantic="niem">
        |  <seq id="customers">
        |    <elem id="row" xml-element-name="customer">
        |      <num id="custkey" xml-element-name="c_custkey"/>
        |      <str id="name" xml-element-name="c_name"/>
        |      <formatnum id="acctbal" xml-element-name="c_acctbal" decimal-separator="."/>
        |      <str id="segment" xml-attribute-name="segment" xml-attribute-parent="customer"/>
        |    </elem>
        |  </seq>
        |</dfasdl>""".stripMargin)
    Dfasdl.readXml(spark, tmp, doc)
  }

  private val q43DfasdlXmlSql =
    """SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
      | c_mktsegment AS segment FROM customer""".stripMargin

  // ---------------------------------------------------- q44_dfasdl_json
  // DFASDL-described JSON read (parsers/JsonFileParser.scala's argonaut
  // cursor walk → the distributed json source): orders is staged as JSON
  // Lines under renamed keys, the DFASDL maps them back through
  // json-attribute-name, and the date/num/formatnum coercions re-type the
  // stringly read. Oracle reads the original parquet.
  private def q44DfasdlJson(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "dfasdljson", dir) { out =>
      Sinks.writeJson(
        Tables.orders(spark, dir).select(
          col("o_orderkey").as("key"), col("o_orderdate").as("odate"),
          col("o_totalprice").as("total"), col("o_orderpriority").as("prio")),
        out)
    }
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="ORDERSJSON" semantic="niem">
        |  <seq id="orders">
        |    <elem id="row">
        |      <num id="orderkey" json-attribute-name="key"/>
        |      <date id="orderdate" json-attribute-name="odate"/>
        |      <formatnum id="totalprice" json-attribute-name="total" decimal-separator="."/>
        |      <str id="priority" json-attribute-name="prio"/>
        |    </elem>
        |  </seq>
        |</dfasdl>""".stripMargin)
    Dfasdl.readJson(spark, tmp, doc)
  }

  private val q44DfasdlJsonSql =
    """SELECT o_orderkey AS orderkey, o_orderdate AS orderdate,
      | o_totalprice AS totalprice, o_orderpriority AS priority FROM orders""".stripMargin

  // --------------------------------------------------- q45_dfasdl_write
  // The target-DFASDL-driven write side (writers/FileWriterActor.scala:
  // value bytes + per-element stop-sign) closing the read/write asymmetry:
  // orders renders THROUGH the schema's format attributes (dd.MM.yyyy
  // dates, ';' stop-signs, a header from the preamble) via
  // Dfasdl.writeDelimited, and the SAME document reads it back — a full
  // write→read round-trip whose oracle is the original parquet. Any
  // asymmetry between render() and convert() breaks the hash.
  private def q45DfasdlWrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="ORDERSOUT" semantic="niem">
        |  <str id="header"/>
        |  <seq id="orders">
        |    <elem id="row">
        |      <num id="orderkey" stop-sign=";"/>
        |      <date id="orderdate" format="dd.MM.yyyy" stop-sign=";"/>
        |      <formatnum id="totalprice" decimal-separator="." stop-sign=";"/>
        |      <str id="priority" stop-sign=";"/>
        |    </elem>
        |  </seq>
        |</dfasdl>""".stripMargin)
    val tmp = Artifacts.staged(spark, "dfasdlout", dir) { out =>
      Dfasdl.writeDelimited(
        Tables.orders(spark, dir).select(
          col("o_orderkey").as("orderkey"), col("o_orderdate").as("orderdate"),
          col("o_totalprice").as("totalprice"),
          col("o_orderpriority").as("priority")),
        doc, out)
    }
    Dfasdl.readDelimited(spark, tmp, doc)
  }

  private val q45DfasdlWriteSql =
    """SELECT o_orderkey AS orderkey, o_orderdate AS orderdate,
      | o_totalprice AS totalprice, o_orderpriority AS priority FROM orders""".stripMargin

  // --------------------------------------------------- q46_dfasdl_choice
  // DFASDL <choice> elements end-to-end (parsers/BaseParser.scala:244
  // handleChoice + BaseParserChoiceState.scala — try branches in order,
  // first successful parse wins): a staged ';'-delimited file whose second
  // token is a NUMBER on even order keys and a priority STRING on odd
  // ones; the schema models that position as a num-vs-str choice, so each
  // record dispatches per-row to its first parsing branch (the reference's
  // CSV/choice-02 fixture shape). The oracle replays the dispatch with
  // CASE over the original parquet — a wrong branch pick, a flattened
  // (pre-r8) parse, or a typing drift breaks the hash.
  private def q46DfasdlChoice(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "dfasdlchoice", dir) { out =>
      Sinks.writeCsv(
        Tables.orders(spark, dir).select(
          col("o_orderkey").as("okey"),
          when(col("o_orderkey") % 2 === 0,
            (col("o_orderkey") * 2).cast(StringType))
            .otherwise(col("o_orderpriority")).as("v")),
        out, delimiter = ";")
    }
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="ORDERSCHOICE" semantic="niem">
        |  <str id="header"/>
        |  <seq id="orders">
        |    <elem id="row">
        |      <num id="okey" stop-sign=";"/>
        |      <choice id="v">
        |        <celem id="v-as-num"><num id="v_num"/></celem>
        |        <celem id="v-as-str"><str id="v_str"/></celem>
        |      </choice>
        |    </elem>
        |  </seq>
        |</dfasdl>""".stripMargin)
    Dfasdl.readDelimited(spark, tmp, doc)
  }

  private val q46DfasdlChoiceSql =
    """SELECT o_orderkey AS okey,
      | CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 2 END AS v_num,
      | CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS v_str
      |FROM orders""".stripMargin

  // --------------------------------------------------- q48_dfasdl_lines
  // Line-shaped multi-leaf choice documents end-to-end (the reference's
  // email-header / vCard shape — Email/email-01.xml: each record is one
  // "Label: value" line; branches pair a start-sign-anchored label leaf
  // with a value leaf, last branch the generic catch-all). Orders stage as
  // three line shapes by orderkey mod 3; the schema dispatches each line
  // to its first matching branch, the ORDER branch parses its value as
  // num, the catch-all's value is a formatstr whose format regex extracts
  // the digits (FileParserFunctions.scala:286 group(1) semantics). The
  // oracle replays dispatch AND extraction with CASE + regexp_extract —
  // a wrong branch, a lost trim, or a formatstr drift breaks the hash.
  private def q48DfasdlLines(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dfasdl
    val tmp = Artifacts.staged(spark, "dfasdllines", dir) { out =>
      Tables.orders(spark, dir).select(
        when(col("o_orderkey") % 3 === 1,
          concat(lit("ORDER: "), (col("o_orderkey") * 2).cast(StringType)))
          .when(col("o_orderkey") % 3 === 2,
            concat(lit("PRIO: "), col("o_orderkey").cast(StringType),
              lit("-"), col("o_orderpriority")))
          .otherwise(concat(lit("REF: R"), col("o_orderkey").cast(StringType),
            lit("x"))).as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(out)
    }
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="ORDERLINES" semantic="niem">
        |  <seq id="lines">
        |    <choice id="line">
        |      <celem id="order">
        |        <str id="order_label" start-sign="ORDER" stop-sign=":"/>
        |        <num id="order_value" trim="both"/>
        |      </celem>
        |      <celem id="prio">
        |        <str id="prio_label" start-sign="PRIO" stop-sign=":"/>
        |        <str id="prio_value" trim="both"/>
        |      </celem>
        |      <celem id="generic">
        |        <str id="ref_label" stop-sign=":"/>
        |        <formatstr id="ref_value" format="R(\d+)" trim="both"/>
        |      </celem>
        |    </choice>
        |  </seq>
        |</dfasdl>""".stripMargin)
    Dfasdl.readDelimited(spark, tmp, doc)
  }

  private val q48DfasdlLinesSql =
    """SELECT CASE WHEN o_orderkey % 3 = 1 THEN 'ORDER' END AS order_label,
      | CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey * 2 END AS order_value,
      | CASE WHEN o_orderkey % 3 = 2 THEN 'PRIO' END AS prio_label,
      | CASE WHEN o_orderkey % 3 = 2
      |   THEN o_orderkey || '-' || o_orderpriority END AS prio_value,
      | CASE WHEN o_orderkey % 3 = 0 THEN 'REF' END AS ref_label,
      | CASE WHEN o_orderkey % 3 = 0
      |   THEN regexp_extract('R' || o_orderkey || 'x', 'R(\d+)', 1)
      | END AS ref_value
      |FROM orders""".stripMargin

  // ------------------------------------------------------------ q47_avro
  // Avro container round-trip (sources/Avro.scala — avro CORE container +
  // codec layer; sources/AvroV2.scala — the `graftavro` V2 scan and its
  // sync-marker split planning): orders writes to snappy Avro
  // (dates/timestamps as logical types, prices as double) and reads back
  // through Avro.readAvro, i.e. the byte-ranged V2 scan, with splits small
  // enough that several tasks cover each part file. The oracle reads the
  // original parquet — any drift in the schema mapping, logical-type
  // encode/decode, or a split duplicating/dropping a block row breaks
  // rows+hash.
  private def q47Avro(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Avro
    val tmp = Artifacts.staged(spark, "avro", dir) { out =>
      Avro.writeAvro(
        Tables.orders(spark, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")),
        out, codec = "snappy")
    }
    Avro.readAvro(spark, tmp, maxSplitBytes = 64 * 1024)
  }

  private val q47AvroSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
      | o_orderpriority FROM orders""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q21_fixed_width", q21FixedWidth, Some(q21FixedWidthSql)),
    QueryDef("q43_dfasdl_xml", q43DfasdlXml, Some(q43DfasdlXmlSql)),
    QueryDef("q44_dfasdl_json", q44DfasdlJson, Some(q44DfasdlJsonSql)),
    QueryDef("q45_dfasdl_write", q45DfasdlWrite, Some(q45DfasdlWriteSql)),
    QueryDef("q46_dfasdl_choice", q46DfasdlChoice, Some(q46DfasdlChoiceSql)),
    QueryDef("q47_avro", q47Avro, Some(q47AvroSql)),
    QueryDef("q48_dfasdl_lines", q48DfasdlLines, Some(q48DfasdlLinesSql)),
    QueryDef("q41_jdbc", q41Jdbc, Some(q41JdbcSql)),
    QueryDef("q42_dfasdl", q42Dfasdl, Some(q42DfasdlSql)),
    QueryDef("q28_constraints", q28Constraints, Some(q28ConstraintsSql)),
    QueryDef("q23_excel", q23Excel, Some(q23ExcelSql)),
    QueryDef("t_fk_fetch", tFkFetch, Some(tFkFetchSql)),
    QueryDef("t_vancode", tVanCode, Some(tVanCodeSql)),
    QueryDef("q22_snapshot_diff", q22SnapshotDiff, Some(q22SnapshotDiffSql)),
    QueryDef("q31_scd2", q31Scd2, Some(q31Scd2Sql)),
    QueryDef("q32_upsert", q32Upsert, Some(q32UpsertSql)),
    QueryDef("q49_jdbc_upsert", q49JdbcUpsert, Some(q49JdbcUpsertSql)),
    QueryDef("q50_dfasdl_tokens", q50DfasdlTokens, Some(q50DfasdlTokensSql)),
    QueryDef("q53_dfasdl_mixed", q53DfasdlMixed, Some(q53DfasdlMixedSql)),
    QueryDef("q51_jdbc_if_absent", q51JdbcIfAbsent, Some(q51JdbcIfAbsentSql)),
    QueryDef("q52_cdc_apply", q52CdcApply, Some(q52CdcApplySql)),
    QueryDef("d_shard_export", dShardExport, Some(dShardExportSql)),
    QueryDef("s_cdc_apply", sCdcApply, Some(sCdcApplySql))
  )
}
