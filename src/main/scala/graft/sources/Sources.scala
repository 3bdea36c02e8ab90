package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source connectors — the Spark form of the reference agent's parser stack
  * (/root/reference/src/main/scala/com/wegtam/tensei/agent/parsers/
  * FileParser.scala, JsonFileParser.scala, XmlFileParser.scala,
  * DatabaseParser.scala and helpers/ExcelToCSVConverter.scala).
  *
  * The reference walks sources byte-by-byte inside actors guided by a DFASDL
  * schema; here each source is a Spark DataSource scan, so schema inference,
  * column pruning, predicate pushdown and split-based parallel reads come
  * from the platform. On a cluster every reader below scales out by file
  * splits (csv/json/xml/parquet) or by `partitionColumn` ranges (jdbc).
  */
object Sources {

  /** CSV / flat file (FileParser.scala + helpers/CSVSchemaExtractor.scala).
    * `inferSchema` mirrors the extractor's type sniffing.
    */
  def readCsv(spark: SparkSession, path: String,
              header: Boolean = true, delimiter: String = ",",
              schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** JSON lines / multiline JSON (JsonFileParser.scala +
    * helpers/JSONSchemaExtractor.scala).
    */
  def readJson(spark: SparkSession, path: String,
               multiline: Boolean = false,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", multiline.toString)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** XML via Spark 4's built-in xml source (XmlFileParser.scala +
    * helpers/XmlHelpers.scala). `rowTag` plays the role of the DFASDL
    * sequence element.
    */
  def readXml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  /** JDBC (DatabaseParser.scala + helpers/DatabaseSchemaExtractor.scala /
    * SupportedDatabase.scala). When `partitionColumn` is given the read
    * parallelizes into `numPartitions` range-bounded queries — the scale
    * path for big tables; otherwise it is a single-stream read like the
    * reference's cursor walk.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               props: Map[String, String] = Map.empty,
               partitionColumn: Option[String] = None,
               lowerBound: Long = 0L, upperBound: Long = 0L,
               numPartitions: Int = 8): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withProps = props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
    partitionColumn.fold(withProps) { c =>
      // equal bounds make Spark silently collapse to ONE whole-table
      // partition (just a log warning) — the parallel read the caller
      // asked for never engages; demand real bounds instead
      require(lowerBound < upperBound,
        s"readJdbc: partitionColumn=$c needs lowerBound < upperBound " +
          s"(got $lowerBound, $upperBound) — with equal bounds Spark " +
          "falls back to a single-partition whole-table read")
      withProps.option("partitionColumn", c)
        .option("lowerBound", lowerBound.toString)
        .option("upperBound", upperBound.toString)
        .option("numPartitions", numPartitions.toString)
    }.load()
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet read that reconciles files written under EVOLVED schemas
    * (columns added over a long-running ingest): footer schemas merge at
    * planning time, older files surface the new columns as null. Spark's
    * default read takes one file's schema and silently DROPS later columns
    * — at 100 TB with years of files that is data loss, so the ingest-side
    * reader opts in to the merge.
    */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Fixed-width flat file (parsers/FileParserFunctions.scala:146
    * `readNextByteElement` / :273 `readNextStringElement`: the reference
    * walks arbitrary flat files element-by-element guided by DFASDL element
    * widths). Spark form: one distributed text scan + a substring projection
    * per field — splits parallelize by file block, the projection is pure
    * codegen. `fields` are (name, width) pairs in record order, every width
    * > 0; values are trimmed of spaces (DFASDL's trim="both" default) and
    * empty fields become null. `format("fixedwidth")` slices by the same
    * rule over the same text scan.
    */
  def readFixedWidth(spark: SparkSession, path: String,
                     fields: Seq[(String, Int)]): DataFrame = {
    requirePositiveWidths(fields)
    val offsets = fields.scanLeft(1) { case (off, (_, w)) => off + w }
    val cols = fields.zip(offsets).map { case ((name, w), off) =>
      val v = org.apache.spark.sql.functions.trim(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.col("value"), off, w))
      org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.length(v) === 0, null)
        .otherwise(v).as(name)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** Rejects a fixed-width layout holding a field of width <= 0, naming it:
    * such a field would otherwise slice wrong or fail inside a task.
    */
  private[sources] def requirePositiveWidths(fields: Seq[(String, Int)]): Unit =
    fields.find(_._2 <= 0).foreach { case (n, w) =>
      throw new IllegalArgumentException(
        s"fixed-width field '$n:$w' needs a width > 0")
    }

  /** Excel .xlsx (helpers/ExcelToCSVConverter.scala:50). Pure-JDK OOXML
    * reader (ZIP + StAX — see [[Excel]]); one task per workbook via the
    * binaryFile source, so a directory of exports parallelizes by file.
    * All columns are strings, like csv without inferSchema. For legacy
    * binary .xls see [[readXls]].
    */
  def readExcel(spark: SparkSession, path: String,
                header: Boolean = true, sheet: Option[String] = None): DataFrame =
    Excel.read(spark, path, header, sheet)

  /** Legacy binary Excel .xls, BIFF8 (the reference's converter accepts
    * both forms — helpers/ExcelToCSVConverter.scala:50). Pure-JDK CFB +
    * BIFF byte-walker (see [[Xls]]); same surface and string-typed output
    * as [[readExcel]].
    */
  def readXls(spark: SparkSession, path: String,
              header: Boolean = true, sheet: Option[String] = None): DataFrame =
    Xls.read(spark, path, header, sheet)

  /** Network file sources (NetworkFileParser.scala +
    * helpers/NetworkFileHelpers.scala): the reference pulls files over
    * FTP/SFTP/HTTP(S) before parsing. Spark reads any Hadoop-FileSystem
    * scheme directly, so ftp:// and sftp:// URIs stream without a staging
    * copy; plain http(s) has no Hadoop FS — fetch to a staging path first
    * (that is what the reference's download step does too).
    */
  def readNetworkCsv(spark: SparkSession, uri: String,
                     header: Boolean = true, delimiter: String = ","): DataFrame = {
    java.net.URI.create(uri).getScheme match {
      case "ftp" | "sftp"     => readCsv(spark, uri, header, delimiter)
      case "http" | "https"   => readCsv(spark, stageHttp(uri), header, delimiter)
      case other => throw new IllegalArgumentException(
        s"scheme $other not supported (ftp/sftp stream; http(s) stage via stageHttp)")
    }
  }

  /** Stage an http(s) resource to a local temp file and return its path —
    * the reference's download-then-parse step (NetworkFileParser.scala,
    * helpers/NetworkFileHelpers.scala). Plain HTTP has no Hadoop FileSystem
    * so, unlike ftp://, it cannot stream into a scan; the body streams
    * straight to disk (never buffered in memory), so a multi-GB staged file
    * is fine. At cluster scale staging runs once driver-side and the staged
    * file should be copied to shared storage before a distributed read.
    */
  def stageHttp(uri: String,
                timeout: java.time.Duration = java.time.Duration.ofMinutes(5)): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val u = java.net.URI.create(uri)
    require(u.getScheme == "http" || u.getScheme == "https",
      s"stageHttp expects http(s), got ${u.getScheme}")
    // keep the remote extension so extension-dispatched readers still work
    val ext = Option(u.getPath).map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.contains('.')).map(n => n.substring(n.lastIndexOf('.')))
      .getOrElse(".dat")
    val tmp = java.nio.file.Files.createTempFile("graft-staged-", ext)
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(timeout).build()
    try {
      val req = HttpRequest.newBuilder(u).timeout(timeout).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(tmp))
      if (resp.statusCode() / 100 != 2) {
        java.nio.file.Files.deleteIfExists(tmp)
        throw new java.io.IOException(s"GET $uri returned HTTP ${resp.statusCode()}")
      }
      tmp.toString
    } catch {
      case e: Throwable =>
        // a timed-out/failed send otherwise leaves the partial temp file
        // behind — and a retrying caller accumulates one per attempt
        java.nio.file.Files.deleteIfExists(tmp)
        throw e
    }
    // (HttpClient gains close() only in JDK 21; on 17 the selector thread
    // winds down with GC — the temp-file cleanup above is the real leak)
  }

  /** Schema extraction report (SchemaExtractor.scala): inferred schema as a
    * DDL string, the Spark-native analog of emitting a DFASDL document.
    */
  def extractSchemaDdl(df: DataFrame): String = df.schema.toDDL

  def extractSchemaJson(df: DataFrame): String = df.schema.json

  /** Whole-catalog schema extraction
    * (helpers/DatabaseSchemaExtractor.scala): crawl the JDBC catalog via
    * DatabaseMetaData and emit `(table, ddl)` for every user table — the
    * reference emits one DFASDL for the whole source database; the
    * Spark-native analog is one DDL string per table. Schema derivation is
    * a zero-row JDBC metadata query per table (Spark resolves the schema
    * without scanning data), so the report costs one round-trip per table.
    */
  def extractJdbcCatalog(spark: SparkSession, url: String,
                         props: Map[String, String] = Map.empty,
                         schemaPattern: String = null): Seq[(String, String)] = {
    props.get("driver").foreach(Class.forName)
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, p)
    val tables = try {
      val rs = conn.getMetaData.getTables(null, schemaPattern, "%", Array("TABLE"))
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      while (rs.next()) {
        val name = rs.getString("TABLE_NAME")
        buf += Option(rs.getString("TABLE_SCHEM")).filter(_.nonEmpty)
          .map(s => s"$s.$name").getOrElse(name)
      }
      buf.toList
    } finally conn.close()
    tables.sorted.map(t => t -> readJdbc(spark, url, t, props).schema.toDDL)
  }
}
