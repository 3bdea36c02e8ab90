package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SaveMode}

/** Sink connectors — the Spark form of the reference writer stack
  * (/root/reference/src/main/scala/com/wegtam/tensei/agent/writers/
  * FileWriterActor.scala, JsonFileWriterActor.scala,
  * DatabaseWriterActor.scala).
  *
  * The reference funnels all rows through one writer actor per target; here
  * every format writes one file per partition in parallel, and
  * `partitionBy` lays the output out for partition-pruned downstream scans
  * — the difference between a single-node funnel and a 100 TB sink.
  */
// Serializable: writeJdbcUpsert's partition closure uses method-local defs,
// which scalac lifts onto this module class — the closure then captures the
// module, and an unserializable module fails task serialization.
object Sinks extends Serializable {

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               delimiter: String = ",", mode: SaveMode = SaveMode.Overwrite,
               partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
      .option("header", header.toString).option("sep", delimiter)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  def writeJson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
                partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  def writeXml(df: DataFrame, path: String, rowTag: String,
               rootTag: String = "rows", mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("xml")
      .option("rowTag", rowTag).option("rootTag", rootTag).save(path)

  def writeParquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Bucketed managed table: pre-hash the rows into `nBuckets` by `keys` at
    * write time so later equi-joins and aggregations on those keys run with
    * NO exchange — the co-located-join layout for fact tables that are
    * joined repeatedly at 100 TB. (Bucketing requires saveAsTable; plain
    * path writes can't record bucket metadata.)
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
                    keys: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Unique-filtered append (writers/BaseWriterFilter.scala: the reference
    * filters each write batch against already-written unique values before
    * the actual write). Spark form: dedup the batch on the unique keys,
    * anti-join what the target already holds, append the remainder — one
    * bounded scan of the target's key columns (column-pruned at the parquet
    * reader), no driver-side state. Returns the number of rows written.
    */
  def appendUnique(df: DataFrame, path: String, keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val fresh = df.dropDuplicates(keys)
    val novel =
      if (new org.apache.hadoop.fs.Path(path)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(path))) {
        val existing = spark.read.parquet(path).select(
          keys.map(k => col(k).as(s"__x_$k")): _*)
        // null-SAFE key equality: a plain anti-join never matches null
        // keys (null = null is not true), so a null-keyed row would
        // re-append every batch — while dropDuplicates above treats nulls
        // as equal. <=> keeps the two consistent.
        val cond = keys.map(k => col(k) <=> col(s"__x_$k")).reduce(_ && _)
        fresh.join(existing, cond, "left_anti")
      } else fresh
    val n = novel.cache().count()
    if (n > 0) novel.write.mode(SaveMode.Append).parquet(path)
    novel.unpersist()
    n
  }

  /** Fixed-width flat-file sink (writers/FileWriterActor.scala writing
    * DFASDL elements with fixed byte widths): every column is rendered,
    * right-padded/truncated to its width, and the concatenated record is
    * written as one text line per row. The inverse of
    * Sources.readFixedWidth.
    */
  def writeFixedWidth(df: DataFrame, path: String, fields: Seq[(String, Int)],
                      saveMode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions._
    val rendered = fields.map { case (name, w) =>
      rpad(coalesce(col(name).cast("string"), lit("")), w, " ").substr(1, w)
    }
    df.select(concat(rendered: _*).as("value")).write.mode(saveMode).text(path)
  }

  /** Network file writer (writers/NetworkFileWriterActor.scala:64: the
    * reference pushes finished files to FTP/SFTP targets). Spark writes any
    * Hadoop-FileSystem scheme directly, so ftp:// / sftp:// URIs stream
    * partition files without a staging copy; http(s) has no Hadoop FS —
    * write locally and upload, exactly like the reference's connection-
    * management step.
    */
  def writeNetworkCsv(df: DataFrame, uri: String, header: Boolean = true,
                      delimiter: String = ",",
                      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val scheme = java.net.URI.create(uri).getScheme
    require(scheme == "ftp" || scheme == "sftp" || scheme == "file",
      s"scheme $scheme not writable as a Hadoop filesystem; stage the output " +
        "locally and upload (reference: NetworkFileWriterActor.scala uploads " +
        "after the file is complete)")
    writeCsv(df, uri, header, delimiter, mode)
  }

  /** Compact a parquet dataset's small files into ~`targetFileBytes` files.
    * Long-running ingest (streaming sinks, per-batch appends) accumulates
    * thousands of tiny files whose open/footer costs dominate scans at
    * 100 TB; periodic compaction is standard table maintenance. One
    * distributed read → round-robin repartition → write; returns the target
    * file count. Written to `outPath` (swap or retention is the caller's
    * policy — an in-place rewrite that fails midway would lose data).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, inPath: String,
                     outPath: String, targetFileBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** Dynamic partition overwrite: replace ONLY the hive-style partitions
    * present in `df`, leaving every other partition untouched — the
    * idempotent daily-reprocess shape for a date-partitioned 100 TB table
    * (re-running yesterday's batch must not truncate the other 3,650
    * days, which is exactly what static overwrite mode does). Scoped
    * conf: the session's partitionOverwriteMode is restored afterwards.
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Range-partitioned, sorted parquet layout: rows land in `nFiles` files
    * with pairwise-disjoint key ranges (repartitionByRange) and sorted
    * row groups inside each (sortWithinPartitions), so parquet min/max
    * statistics let downstream key filters skip whole files and row
    * groups — the scan-pruning layout for the columns a 100 TB table is
    * filtered by. ScaleSpec asserts the disjoint-range property on disk.
    */
  def writeSorted(df: DataFrame, path: String, keys: Seq[String],
                  nFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(nFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode(mode).parquet(path)
  }

  /** Export a corpus as SHUFFLED TRAINING SHARDS — the file layout a
    * training job consumes: rows permute by
    * [[graft.operators.Corpus.deterministicShuffle]] (seeded, engine-
    * replayable), shard `pos % nShards` round-robin (equal sizes ±1, each
    * shard an evenly spaced subsequence of the global order — consumers
    * that interleave shards still see the global permutation), and each
    * shard writes as ONE file ordered by `pos`, under
    * `path/shard=<i>/`. Deterministic end-to-end: the same
    * (corpus, seed, nShards) always produces byte-identical shard
    * contents, which is what makes a training run reproducible and a
    * resume-after-crash read the same data order.
    *
    * Determinism is scoped to a PERMUTATION SCHEME version (see
    * [[graft.operators.Corpus.ShufflePrime]]'s version note): exports made
    * under different scheme versions legitimately differ under identical
    * parameters. Each export stamps `_graft_shuffle_scheme` (a one-line
    * marker file holding [[graft.operators.Corpus.ShuffleSchemeVersion]])
    * at the root so consumers can tell layouts apart without guessing.
    *
    * Scale shape: the permutation is one range exchange (DenseId), the
    * shard routing one hash exchange keyed on a per-shard PREIMAGE value
    * ([[shardPartitionPreimages]]) so shard i lands in partition i
    * exactly — ALL `nShards` tasks write in parallel, none empty. Size
    * nShards so a shard fits a consumer's read budget — at 100 TB that
    * is thousands of shards, each still one task's sequential write.
    */
  def writeShuffledShards(df: DataFrame, path: String, idCol: String,
                          seed: Long, nShards: Int,
                          mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    require(nShards > 0, s"writeShuffledShards: nShards must be positive, got $nShards")
    val shuffled = graft.operators.Corpus.deterministicShuffle(df, idCol, seed)
    // Sort by (shard, pos), not pos alone: the dynamic-partition writer
    // REQUIRES child ordering by the partition column, and a pos-only sort
    // makes the planner insert its own sort on `shard` above ours — an
    // extra sort whose stability is NOT guaranteed once it spills, so the
    // "each shard file pos-ordered" contract could silently break at
    // scale. With (shard, pos) the child ordering already satisfies the
    // writer and no sort is inserted.
    // scheme-marker bookkeeping BEFORE the write: the marker must describe
    // the data that is actually on disk afterwards, so (a) an Ignore write
    // that no-ops must not restamp an old layout with the current version,
    // and (b) an Append onto a DIFFERENT scheme's layout must refuse —
    // the result would be one directory mixing two permutations under one
    // tag, unreproducible under either
    val markerPath = new org.apache.hadoop.fs.Path(path, "_graft_shuffle_scheme")
    val fs = markerPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val current = graft.operators.Corpus.ShuffleSchemeVersion.toString
    val existing: Option[String] =
      if (!fs.exists(markerPath)) None
      else {
        val in = fs.open(markerPath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    val pathExists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val ignoredNoOp = mode == SaveMode.Ignore && pathExists
    // marker absence only means "pre-marker v1 layout" when shard data is
    // actually present — an empty pre-created directory (or a first
    // Append that died before writing anything) must stay appendable
    def hasShardData = pathExists &&
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .exists(_.getPath.getName.startsWith("shard="))
    if (mode == SaveMode.Append) existing match {
      case Some(v) if v != current => throw new IllegalStateException(
        s"writeShuffledShards: $path holds a scheme-v$v layout; appending " +
          s"scheme-v$current shards would mix permutations under one tag — " +
          "regenerate the export instead")
      case None if hasShardData => throw new IllegalStateException(
        s"writeShuffledShards: $path holds UNVERSIONED shard data (a " +
          "pre-marker scheme-v1 export, or an export that died before its " +
          "marker stamp); appending current-scheme shards could mix " +
          "permutations under one tag — regenerate the export instead")
      case _ => ()
    }
    shuffled
      .withColumn("shard",
        (col("pos") % nShards).cast(org.apache.spark.sql.types.IntegerType))
      .repartition(nShards,
        element_at(typedLit(shardPartitionPreimages(nShards).toSeq), col("shard") + 1))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode(mode).partitionBy("shard").parquet(path)
    // scheme marker (see scaladoc): written AFTER the data commit so a
    // half-failed export never carries a version stamp — and not at all
    // when an Ignore-mode write left the existing layout untouched
    if (!ignoredNoOp) {
      val out = fs.create(markerPath, true)
      try out.write(s"$current\n".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** A preimage table for Spark's hash partitioning: entry i is a long x
    * with pmod(murmur3(x, seed=42), n) == i — Catalyst's
    * HashPartitioning.partitionIdExpression for one long column — so
    * repartitioning on the looked-up value routes shard i to partition i
    * EXACTLY. Plain repartition(n, col("shard")) hash-partitions the n
    * distinct shard values into n partitions, leaving ~1/e of the writer
    * tasks empty while others own two shards (correct, but the "nShards
    * tasks write in parallel" claim degrades at high shard counts).
    * Driver-side cost: expected n·Hₙ murmur evaluations (coupon
    * collector) — microseconds at thousands of shards.
    */
  private[graft] def shardPartitionPreimages(n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var x = 0L
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(x, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; out(p) = x; remaining -= 1 }
      x += 1
    }
    out
  }

  /** Z-ordered parquet layout for MULTI-dimensional scan pruning (the
    * lakehouse `OPTIMIZE ZORDER BY` shape): [[writeSorted]] makes one
    * column's file ranges disjoint but leaves every other column spanning
    * its full range per file; interleaving the bits of two columns' scaled
    * positions (a Morton curve) makes EACH file cover a compact rectangle
    * in (x, y) space, so parquet min/max statistics prune files for
    * filters on EITHER column — the layout a 100 TB table wants when two
    * independent predicates matter.
    *
    * Cost shape: one tiny min/max aggregate (2 rows to the driver), then
    * the same repartitionByRange + sortWithinPartitions as writeSorted on
    * the computed z-value — no extra shuffle versus single-key layout. The
    * z-value is a pure expression tree (shifts/masks/ors), fully codegen'd.
    * Numeric columns only; 16 bits of resolution per dimension.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    nFiles: Int, saveMode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions._
    val Row(xLo, xHi, yLo, yHi) = df.agg(
      min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double")))
      .collect()(0)
    def scaled(c: String, lo: Double, hi: Double) = {
      val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
      least(floor((col(c).cast("double") - lo) / span * 65536.0), lit(65535.0))
        .cast("long")
    }
    val x = scaled(xCol, xLo.asInstanceOf[Double], xHi.asInstanceOf[Double])
    val y = scaled(yCol, yLo.asInstanceOf[Double], yHi.asInstanceOf[Double])
    val zBits = (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    // rows with a null coordinate sort FIRST into their own leading files
    // (least() would otherwise plant them at cell 65535 — the max corner —
    // stretching exactly the per-file min/max spans the layout tightens)
    val z = when(col(xCol).isNull || col(yCol).isNull, lit(-1L))
      .otherwise(zBits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(saveMode).parquet(path)
  }

  /** Excel .xlsx sink (the write direction of the reference's Excel
    * surface, helpers/ExcelToCSVConverter.scala). Pure-JDK OOXML writer —
    * see [[graft.sources.Excel.write]] for the streaming/row-cap contract.
    */
  def writeExcel(df: DataFrame, file: String, sheetName: String = "Sheet1"): Unit =
    graft.sources.Excel.write(df, file, sheetName)

  /** Distributed Excel sink: one workbook per partition, written
    * executor-side in parallel (see [[graft.sources.Excel.writeSharded]]).
    */
  def writeExcelSharded(df: DataFrame, dir: String, sheetName: String = "Sheet1"): Unit =
    graft.sources.Excel.writeSharded(df, dir, sheetName)

  /** JDBC writes batch per partition (DatabaseWriterActor.scala's prepared-
    * statement batches, but one concurrent writer per partition).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: Map[String, String] = Map.empty,
                mode: SaveMode = SaveMode.Append,
                batchSize: Int = 1000): Unit = {
    val w = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }

  /** Keyed INSERT-IF-ABSENT into a live database table — the reference's
    * DatabaseQueryType.Ignore path (DatabaseWriterActor checks a row's
    * unique-column value against the target and SKIPS rows already
    * present, rather than updating them — the "at least one unique column
    * was present" branch near writers/DatabaseWriterActor.scala:525).
    * Declarative form: anti-join the batch against the target's current
    * key set (a single-connection JDBC read — the keys projection pushes
    * down to the database; for a very large target read the key set
    * yourself via readJdbc's range-partitioned form and anti-join before
    * a plain append) and append the survivors. Complements [[writeJdbcUpsert]], which
    * OVERWRITES matched rows. Within-batch duplicates also collapse to
    * one row (the reference's buffer dedups the same way). Not
    * transactional across the read and the append — like the reference,
    * a concurrent writer inserting the same key between check and write
    * races; the unique index (create one via writeJdbcUpsert or DDL)
    * is the real guard.
    */
  def writeJdbcIfAbsent(df: DataFrame, url: String, table: String,
                        keys: Seq[String],
                        props: Map[String, String] = Map.empty,
                        batchSize: Int = 1000): Unit = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty && keys.forall(df.columns.contains),
      s"writeJdbcIfAbsent: keys $keys must exist in ${df.columns.mkString(",")}")
    // a NULL key can never match the anti-join (`k = NULL` is UNKNOWN in
    // three-valued SQL), so a null-key row would re-insert on EVERY
    // application — the same non-idempotence writeJdbcUpsert rejects.
    // assert_true rides the write pass itself (no extra job over a
    // possibly-expensive batch): it evaluates null per row and kills the
    // job with the message on the first null key.
    val guarded = df.filter(org.apache.spark.sql.functions.assert_true(
      keys.map(col(_).isNotNull).reduce(_ && _),
      org.apache.spark.sql.functions.lit(
        s"writeJdbcIfAbsent: null in key ${keys.mkString(",")} — null keys " +
          "cannot match the presence check and would re-insert on every " +
          "application; filter or key-fill first")).isNull)
    val existing = graft.sources.Sources.readJdbc(df.sparkSession, url, table, props)
      .select(keys.map(col): _*)
    val fresh = guarded.dropDuplicates(keys)
      .join(existing, keys, "left_anti")
    writeJdbc(fresh, url, table, props, mode = SaveMode.Append,
      batchSize = batchSize)
  }

  /** Keyed UPDATE-or-INSERT write into a live database table — the Spark
    * form of the reference's update write path
    * (writers/DatabaseWriterActor.scala:506–531 sets non-key columns then
    * binds the primary-key columns into the WHERE clause of a prepared
    * UPDATE batch; :607 executes it; :334 warns that a primary key without
    * an update query "may lead to data loss"). Spark's own jdbc sink only
    * appends or truncates, so a DB-to-DB sync — the reference's core use
    * case — could not apply changed rows to an existing target without
    * dropping it; this sink closes that gap.
    *
    * Semantics: for each row, UPDATE the non-key columns WHERE the key
    * columns match; a row whose update touches nothing (executeBatch count
    * 0) is INSERTed. Applying the same batch twice is idempotent. Rows are
    * hash-repartitioned on the key columns first so a given key is written
    * by exactly ONE task — without that, two concurrent partitions holding
    * the same key could interleave their update/insert probes and either
    * double-insert or deadlock on row locks; it is also what keeps the
    * sink correct on a 1000-executor cluster (each task owns a disjoint
    * key range, transactions never contend).
    *
    * Each partition is one transaction: autocommit off, one commit after
    * the final batch, rollback + rethrow on failure (Spark retries the
    * task; re-applying an upsert partition is safe by idempotence).
    * MEMORY NOTE: each task buffers its partition's rows once (for exact
    * deadlock-victim replay — the engine rolls the transaction back
    * whole); size `spark.sql.shuffle.partitions` so a partition of the
    * upsert batch fits executor memory, the same knob every shuffle
    * consumer here uses.
    * Drivers that return SUCCESS_NO_INFO from update batches (Derby and
    * most return real counts) fall back to a per-key existence probe for
    * exactly the unknown rows.
    *
    * Within one batch the caller must present at most one row per key
    * (enforced cheaply per-partition against adjacent rows after the
    * repartition-sort below; a duplicate key in one batch is
    * order-dependent in the reference too and almost always a caller bug).
    */
  def writeJdbcUpsert(df: DataFrame, url: String, table: String,
                      keys: Seq[String],
                      props: Map[String, String] = Map.empty,
                      batchSize: Int = 1000): Unit = {
    val cols = df.columns.toSeq
    require(keys.nonEmpty, "writeJdbcUpsert: at least one key column required")
    require(keys.forall(cols.contains),
      s"writeJdbcUpsert: keys $keys not all present in ${cols.mkString(",")}")
    val setCols = cols.filterNot(keys.contains)
    require(setCols.nonEmpty,
      "writeJdbcUpsert: every column is a key — nothing to update; use " +
        "appendUnique (parquet) or a plain writeJdbc with dedup instead")
    val schema = df.schema
    val fieldIdx = cols.zipWithIndex.toMap
    def q(c: String) = jdbcQuote(c)
    val lobKeyLen: Map[String, Int] = jdbcLobKeyLen(url, props, table, keys)
    def keyCmp(c: String): String = jdbcKeyCmp(lobKeyLen)(c)
    val updateSql = s"UPDATE $table SET " +
      setCols.map(c => s"${q(c)} = ?").mkString(", ") +
      " WHERE " + keys.map(keyCmp).mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(", ")})"
    val existsSql = s"SELECT 1 FROM $table WHERE " +
      keys.map(keyCmp).mkString(" AND ")
    val sqlTypes = cols.map(c => c -> jdbcSqlType(schema(c).dataType)).toMap
    // Without an index on the key columns every UPDATE's WHERE is a full
    // table scan taking write locks row by row — N concurrent partition
    // transactions then deadlock almost immediately (measured on Derby).
    // A real sync target has a primary key (the reference REQUIRES one to
    // emit updates at all); when the target was just bulk-created by
    // Spark's jdbc writer it has none, so create the key index up front,
    // driver-side, one statement, ignoring "already exists" from any
    // dialect. UNIQUE also enforces the one-row-per-key invariant the
    // update semantics assume.
    jdbcEnsureKeyIndex(url, props, table, keys, "writeJdbcUpsert")
    jdbcKeyedApply(df, keys, url, props) { (conn, buffered) =>
      val upd = conn.prepareStatement(updateSql)
      val ins = conn.prepareStatement(insertSql)
      def bind(st: java.sql.PreparedStatement, idx: Int, colName: String,
               v: Any): Unit = jdbcBind(st, idx, sqlTypes(colName), v)
      // binary keys normalize to Seq so the duplicate check compares
      // content (Array equality is reference equality)
      def keyOf(row: Row): Seq[Any] = keys.map(k => row.get(fieldIdx(k)) match {
        case a: Array[Byte] => a.toSeq
        case v => v
      })
      val pending = scala.collection.mutable.ArrayBuffer.empty[Row]
      def insertRow(row: Row): Unit = {
        cols.zipWithIndex.foreach { case (c, i) =>
          bind(ins, i + 1, c, row.get(fieldIdx(c)))
        }
        ins.addBatch()
      }
      def exists(row: Row): Boolean = {
        val ex = conn.prepareStatement(existsSql)
        try {
          keys.zipWithIndex.foreach { case (k, i) =>
            bind(ex, i + 1, k, row.get(fieldIdx(k)))
          }
          val rs = ex.executeQuery()
          try rs.next() finally rs.close()
        } finally ex.close()
      }
      def flush(): Unit = if (pending.nonEmpty) {
        val counts = upd.executeBatch()
        var inserts = 0
        counts.zip(pending).foreach { case (n, row) =>
          // n > 0: definitely matched. n == 0 or SUCCESS_NO_INFO (-2):
          // PROBE before inserting — affected-rows drivers (MySQL
          // without CLIENT_FOUND_ROWS) report 0 for a matched row
          // whose values didn't change, and assuming "missing" there
          // would turn idempotent re-application into a duplicate-key
          // crash. The probe is one indexed point SELECT per
          // zero-count row only.
          // EXECUTE_FAILED (-3) or any other negative ≠ SUCCESS_NO_INFO:
          // drivers with continue-on-error batches report a FAILED
          // entry this way — probing existence there would silently
          // treat the lost UPDATE as applied. Fail the transaction so
          // rollback + replay (or the caller) handles it.
          if (n < 0 && n != java.sql.Statement.SUCCESS_NO_INFO)
            throw new java.sql.SQLException(
              s"writeJdbcUpsert: batch UPDATE entry failed (count=$n) " +
                s"for key ${keyOf(row)} — driver continued past a failed " +
                "statement; rolling back the partition transaction")
          val missing = if (n > 0) false else !exists(row)
          if (missing) { insertRow(row); inserts += 1 }
        }
        if (inserts > 0) ins.executeBatch()
        pending.clear()
      }
      var prevKey: Seq[Any] = null
      buffered.foreach { row =>
        val k = keyOf(row)
        // a NULL key can never match its own WHERE clause (three-valued
        // SQL: `k = NULL` is UNKNOWN), so the row would INSERT on every
        // application — silently duplicating under replay. Primary keys
        // are NOT NULL in every dialect; reject like one.
        if (k.exists(_ == null))
          throw new IllegalArgumentException(
            s"writeJdbcUpsert: null in key ${keys.mkString(",")} = $k — " +
              "null keys cannot match an UPDATE/EXISTS probe and would " +
              "re-insert on every application; filter or key-fill first")
        if (k == prevKey)
          throw new IllegalArgumentException(
            s"writeJdbcUpsert: duplicate key $k within one batch — " +
              "the outcome would be order-dependent; dedup the source first")
        prevKey = k
        setCols.zipWithIndex.foreach { case (c, i) =>
          bind(upd, i + 1, c, row.get(fieldIdx(c)))
        }
        keys.zipWithIndex.foreach { case (c, i) =>
          bind(upd, setCols.size + i + 1, c, row.get(fieldIdx(c)))
        }
        upd.addBatch()
        pending += row
        if (pending.size >= batchSize) flush()
      }
      flush()
    }
  }

  /** Keyed DELETE against a live database table — the tombstone half of a
    * CDC apply. [[writeJdbcUpsert]] covers inserts and updates; a change
    * stream also carries deletes, and Spark's jdbc sink has no write path
    * for them at all. Each row's KEY columns drive one batched
    * `DELETE ... WHERE k = ?`; non-key columns are ignored (a delete is
    * key-addressed). A key already absent deletes zero rows — applying
    * the same batch twice is idempotent, so Spark task retries are safe.
    *
    * Same scale/concurrency shape as the upsert sink: rows repartition on
    * the key columns so ONE task owns each key (no row-lock contention
    * between partitions), each partition is a single transaction with
    * exact deadlock-victim replay, and LOB-typed key comparisons CAST per
    * the dialect workaround. Null keys are rejected: `k = NULL` matches
    * nothing, so the row would silently never delete.
    */
  def writeJdbcDelete(df: DataFrame, url: String, table: String,
                      keys: Seq[String],
                      props: Map[String, String] = Map.empty,
                      batchSize: Int = 1000): Unit = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "writeJdbcDelete: at least one key column required")
    require(keys.forall(df.columns.contains),
      s"writeJdbcDelete: keys $keys not all present in ${df.columns.mkString(",")}")
    val keyDf = df.select(keys.map(col): _*).dropDuplicates(keys)
    val schema = keyDf.schema
    val sqlTypes = keys.map(c => jdbcSqlType(schema(c).dataType)).toArray
    val lobKeyLen = jdbcLobKeyLen(url, props, table, keys)
    val deleteSql = s"DELETE FROM $table WHERE " +
      keys.map(jdbcKeyCmp(lobKeyLen)).mkString(" AND ")
    // unindexed keyed DELETEs full-scan under write locks like UPDATEs do
    jdbcEnsureKeyIndex(url, props, table, keys, "writeJdbcDelete")
    jdbcKeyedApply(keyDf, keys, url, props) { (conn, buffered) =>
      val del = conn.prepareStatement(deleteSql)
      var inBatch = 0
      def flush(): Unit = if (inBatch > 0) {
        val counts = del.executeBatch()
        counts.foreach { n =>
          // 0 = already absent (idempotent re-application) — fine;
          // EXECUTE_FAILED or any other negative ≠ SUCCESS_NO_INFO
          // means a continue-on-error driver lost a statement
          if (n < 0 && n != java.sql.Statement.SUCCESS_NO_INFO)
            throw new java.sql.SQLException(
              s"writeJdbcDelete: batch DELETE entry failed (count=$n); " +
                "rolling back the partition transaction")
        }
        inBatch = 0
      }
      buffered.foreach { row =>
        var i = 0
        while (i < keys.length) {
          val v = row.get(i)
          if (v == null)
            throw new IllegalArgumentException(
              s"writeJdbcDelete: null in key ${keys.mkString(",")} — " +
                "`k = NULL` matches nothing; the row would silently " +
                "never delete. Filter or key-fill first")
          jdbcBind(del, i + 1, sqlTypes(i), v)
          i += 1
        }
        del.addBatch()
        inBatch += 1
        if (inBatch >= batchSize) flush()
      }
      flush()
    }
  }

  /** Apply one CDC batch — updates, inserts, AND deletes — to a live
    * database table in a single call: rows whose `opCol` equals
    * `deleteOp` route (keys only) through [[writeJdbcDelete]]; everything
    * else drops `opCol` and routes through [[writeJdbcUpsert]]. The
    * caller presents at most one row per key (collapse a raw change
    * stream to its latest change per key first — see
    * [[graft.streaming.Streams.toJdbcCdcSink]]), so the two routes touch
    * DISJOINT key sets and their apply order cannot matter. Re-applying
    * the same batch is idempotent end-to-end: upserts converge and
    * already-deleted keys delete zero rows.
    */
  def writeJdbcCdc(df: DataFrame, url: String, table: String,
                   keys: Seq[String], opCol: String,
                   deleteOp: String = "D",
                   props: Map[String, String] = Map.empty,
                   batchSize: Int = 1000): Unit = {
    import org.apache.spark.sql.functions.col
    require(df.columns.contains(opCol),
      s"writeJdbcCdc: op column $opCol not in ${df.columns.mkString(",")}")
    require(!keys.contains(opCol), s"writeJdbcCdc: opCol $opCol is a key")
    // two passes over the batch — persist so the (possibly expensive)
    // upstream computes once; foreachBatch callers already hold a
    // materialized micro-batch, for which this is a no-op-cheap pin
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // null-safe routing: a NULL op is not a delete — it upserts (plain
      // =!= would drop the row from BOTH routes silently)
      val dels = pinned.filter(col(opCol) === deleteOp)
      val ups = pinned.filter(!(col(opCol) <=> deleteOp)).drop(opCol)
      writeJdbcDelete(dels.select(keys.map(col): _*), url, table, keys,
        props, batchSize)
      writeJdbcUpsert(ups, url, table, keys, props, batchSize)
    } finally { pinned.unpersist(); () }
  }

  // ------- shared machinery of the keyed JDBC writes (upsert/delete/CDC)

  /** The keyed writes' partition loop. Rows hash-repartition on `keys` and
    * sort within each partition, so ONE task owns each key (and duplicate
    * keys sit next to each other). Each task buffers its partition and runs
    * `apply` over it in one transaction: autocommit off, commit after
    * `apply` returns, rollback on any failure. A deadlock victim (SQLState
    * 40001, anywhere in the chain — drivers wrap it in
    * BatchUpdateException) was rolled back whole by the engine, so
    * replaying the buffered rows is EXACT, not merely idempotent; up to 6
    * replays, with jittered backoff to break the lock-acquisition symmetry
    * that caused the cycle. Any other failure rethrows.
    */
  private def jdbcKeyedApply(df: DataFrame, keys: Seq[String], url: String,
                             props: Map[String, String])(
      apply: (java.sql.Connection, Array[Row]) => Unit): Unit = {
    import org.apache.spark.sql.functions.col
    val shuffleN = df.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = df.repartition(shuffleN, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    keyed.foreachPartition { (rows: Iterator[Row]) =>
      val buffered = rows.toArray // retained for deadlock-victim replay
      var attempt = 0
      var done = buffered.isEmpty
      while (!done) {
        val conn = jdbcOpen(url, props)
        try {
          conn.setAutoCommit(false)
          apply(conn, buffered)
          conn.commit()
          done = true
        } catch {
          case t: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            if (jdbcDeadlockIn(t) && attempt < 6) {
              attempt += 1
              Thread.sleep(50L * attempt +
                java.util.concurrent.ThreadLocalRandom.current().nextInt(200))
            } else throw t
        } finally conn.close()
      }
    }
  }

  /** Quote column identifiers exactly as Spark's own jdbc writer does at
    * CREATE TABLE time (JdbcDialect.quoteIdentifier → double quotes): an
    * unquoted name would case-fold (Derby/Oracle upper-case it) and miss
    * the case-exact quoted columns Spark created.
    */
  private def jdbcQuote(c: String): String = "\"" + c + "\""

  private def jdbcOpen(url: String,
                       props: Map[String, String]): java.sql.Connection = {
    props.get("driver").foreach(Class.forName(_))
    val jp = new java.util.Properties()
    (props - "driver").foreach { case (k, v) => jp.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, jp)
  }

  private def jdbcSqlType(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case ByteType => java.sql.Types.TINYINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case DateType => java.sql.Types.DATE
    case TimestampType => java.sql.Types.TIMESTAMP
    case _: DecimalType => java.sql.Types.DECIMAL
    case BinaryType => java.sql.Types.BINARY
    case _ => java.sql.Types.VARCHAR
    }
  }

  private def jdbcBind(st: java.sql.PreparedStatement, idx: Int,
                       sqlType: Int, v: Any): Unit = v match {
    case null => st.setNull(idx, sqlType)
    case x: Long => st.setLong(idx, x)
    case x: Int => st.setInt(idx, x)
    case x: Short => st.setShort(idx, x)
    case x: Byte => st.setByte(idx, x)
    case x: Double => st.setDouble(idx, x)
    case x: Float => st.setFloat(idx, x)
    case x: Boolean => st.setBoolean(idx, x)
    case x: String => st.setString(idx, x)
    case x: java.math.BigDecimal => st.setBigDecimal(idx, x)
    case x: scala.math.BigDecimal => st.setBigDecimal(idx, x.bigDecimal)
    case x: java.sql.Timestamp => st.setTimestamp(idx, x)
    case x: java.time.Instant =>
      st.setTimestamp(idx, java.sql.Timestamp.from(x))
    case x: java.sql.Date => st.setDate(idx, x)
    case x: java.time.LocalDate =>
      st.setDate(idx, java.sql.Date.valueOf(x))
    case x: Array[Byte] => st.setBytes(idx, x)
    case other => st.setObject(idx, other)
  }

  /** Key columns the TARGET stores as LOBs need a cast in comparisons:
    * Spark's own jdbc writer maps StringType to CLOB on Derby (and TEXT
    * on some others), and `clob_col = ?` is a SQLSyntaxError — "types
    * must be comparable". Probe the target's column types once
    * driver-side; [[jdbcKeyCmp]] wraps those comparisons in
    * CAST(col AS VARCHAR(n)), the dialect's own documented workaround.
    * (A LOB column can't carry an index either, so such keys scan — a
    * real sync target declares a proper VARCHAR primary key; this keeps
    * the bulk-seeded case CORRECT, the scaladoc records the cost.)
    */
  private def jdbcLobKeyLen(url: String, props: Map[String, String],
                            table: String,
                            keys: Seq[String]): Map[String, Int] = {
    val conn = jdbcOpen(url, props)
    try {
      val rs = conn.getMetaData.getColumns(null, null, null, null)
      val found = scala.collection.mutable.Map.empty[String, Int]
      val keySet = keys.toSet
      while (rs.next()) {
        val cn = rs.getString("COLUMN_NAME")
        val tn = Option(rs.getString("TABLE_NAME")).getOrElse("")
        val ty = rs.getInt("DATA_TYPE")
        if (keySet.contains(cn) &&
            tn.equalsIgnoreCase(table.replaceAll("^.*\\.", "")) &&
            (ty == java.sql.Types.CLOB || ty == java.sql.Types.NCLOB ||
              ty == java.sql.Types.LONGVARCHAR ||
              ty == java.sql.Types.LONGNVARCHAR))
          found(cn) = 32672 // Derby's VARCHAR cap; ample for any key
      }
      rs.close()
      found.toMap
    } catch { case _: java.sql.SQLException => Map.empty }
    finally conn.close()
  }

  private def jdbcKeyCmp(lobKeyLen: Map[String, Int])(c: String): String =
    lobKeyLen.get(c) match {
      case Some(n) => s"CAST(${jdbcQuote(c)} AS VARCHAR($n)) = ?"
      case None    => s"${jdbcQuote(c)} = ?"
    }

  /** Create the unique key index the keyed writes rely on (without it
    * every keyed WHERE full-scans under write locks and concurrent
    * partition transactions deadlock — measured on Derby). Only the
    * duplicate-object failure class is ignored; anything else (notably
    * duplicate KEYS already in the target) means the one-row-per-key
    * invariant is unenforced — surfaced on stderr, not swallowed.
    */
  private def jdbcEnsureKeyIndex(url: String, props: Map[String, String],
                                 table: String, keys: Seq[String],
                                 caller: String): Unit = {
    val conn = jdbcOpen(url, props)
    try {
      val idxName = (table + "_upsert_key").replaceAll("[^A-Za-z0-9_]", "_")
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE UNIQUE INDEX $idxName ON $table " +
          s"(${keys.map(jdbcQuote).mkString(", ")})")
      catch {
        case e: java.sql.SQLException =>
          val state = Option(e.getSQLState).getOrElse("")
          val msg = Option(e.getMessage).getOrElse("").toLowerCase
          val alreadyExists =
            state == "X0Y32" /* Derby */ || state == "42P07" /* Postgres */ ||
            state == "42S11" /* H2/MySQL-ish */ || state == "42710" /* DB2 */ ||
            msg.contains("already exists") || msg.contains("already an index")
          if (!alreadyExists)
            System.err.println(
              s"$caller: CREATE UNIQUE INDEX $idxName failed " +
                s"(SQLState=$state): ${e.getMessage} — key uniqueness is " +
                "NOT enforced by the target; duplicate keys would " +
                "multi-match updates and unindexed scans risk deadlock")
      }
      finally st.close()
    } finally conn.close()
  }

  /** Is any throwable in the cause/next-exception chain a deadlock victim
    * (SQLState 40001)? Drivers wrap it in BatchUpdateException layers.
    */
  private def jdbcDeadlockIn(t: Throwable): Boolean = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    def walk(e: Throwable, d: Int): Unit =
      if (e != null && d < 8 && !seen.exists(_ eq e)) {
        seen += e
        walk(e.getCause, d + 1)
        e match {
          case s: java.sql.SQLException => walk(s.getNextException, d + 1)
          case _ => ()
        }
      }
    walk(t, 0)
    seen.exists {
      case s: java.sql.SQLException => s.getSQLState == "40001"
      case _ => false
    }
  }
}
