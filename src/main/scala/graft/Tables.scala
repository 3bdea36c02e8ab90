package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graft.ParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (see
  * TESTDATA.md). Every operator in the library takes DataFrames;
  * these are just convenience readers rooted at a scale-factor directory.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet schema by reading one footer in a one-task job while
    * the DataFrame is built (80-130 ms per read, on every query). Here
    * the same footer is read on the driver and its schema passed with
    * `.schema`, so building the DataFrame starts no job. Nothing is
    * cached: every call reads the footer again, so a rewritten file never
    * meets a stale schema. A path that names no data file is left to
    * Spark, which fails it as its own read would.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** A parquet file stream over `path`, with the schema [[parquet]] reads. */
  def parquetStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(parquet(spark, path).schema).parquet(path)

  /** The schema Spark's non-merging inference gives `path`, from the file
    * it reads: the first, in path order, of the files that `path` (a file,
    * directory or glob) names, skipping the names Spark's file listing
    * skips. The footer is converted under the session's parquet conf
    * (`nanosAsLong`, `inferTimestampNTZ`). Parquet summary files
    * (`_metadata`, `_common_metadata`), which Spark would prefer, are not
    * consulted; partition columns of a `k=v` layout are discovered by the
    * read itself.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // InMemoryFileIndex's filter: `_x` unless a partition dir `_x=v`,
    // `.x`, and files still being copied
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def files(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(s => hidden(s.getPath.getName)).flatMap(files)
    val first = Option(fs.globStatus(root)).toSeq.flatten.flatMap(files)
      .minByOption(_.getPath.toString)
    first.flatMap(ParquetBridge.footerSchema(conf, _, spark))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  /** events.parquet has shipped `ts` two ways across testdata generations:
    * INT64 TIMESTAMP(NANOS) (surfaced as a nano-epoch Long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`; truncate to micros —
    * DuckDB truncates nanos→micros identically) and plain naive
    * timestamp[us] (read as TIMESTAMP in the UTC session —
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` — matching
    * DuckDB's naive reading; the NTZ cast below covers sessions without
    * that flag). Normalize both to TimestampType here so every consumer,
    * batch or streaming, sees one schema.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
