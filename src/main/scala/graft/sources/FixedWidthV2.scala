package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** DataSource V2 registration of the fixed-width flat-file format —
  * `spark.read.format("fixedwidth").option("fields", "name:8,qty:4")` — so
  * the reference's byte-walked flat files (FileParserFunctions.scala:146)
  * plug into every V2 integration point (catalogs, SQL `USING fixedwidth`,
  * multi-path loads) instead of requiring the [[Sources.readFixedWidth]]
  * function call.
  *
  * Scale design: one input partition per file (fixed-width records are
  * line-delimited; a directory of exports parallelizes by file, like the
  * Excel reader), and the scan implements COLUMN PRUNING
  * (SupportsPushDownRequiredColumns) — a 2-column projection over a
  * 40-field record only materializes 2 substrings per line, and the pruned
  * schema is visible in the plan for audit.
  *
  * Paths may name files, directories or globs. Options: `fields` =
  * comma-separated `name:width` in record order, every width > 0
  * (required); `trim` = trim values and null empties (default true,
  * DFASDL's trim="both"). All columns surface as STRING, like csv without
  * inferSchema.
  */
class FixedWidthDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fixedwidth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidthV2.schemaFor(FixedWidthV2.parseFields(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FixedWidthTable(new CaseInsensitiveStringMap(properties))
}

private[sources] object FixedWidthV2 {
  def parseFields(options: CaseInsensitiveStringMap): Seq[(String, Int)] = {
    val spec = options.get("fields")
    require(spec != null && spec.nonEmpty,
      "fixedwidth requires a 'fields' option: comma-separated name:width pairs")
    val fields = spec.split(",").toSeq.map { f =>
      f.trim.split(":") match {
        case Array(name, w) if name.nonEmpty && w.toIntOption.isDefined =>
          name -> w.toInt
        case _ => throw new IllegalArgumentException(
          s"fixedwidth field '$f' is not a name:width pair")
      }
    }
    Sources.requirePositiveWidths(fields)
    fields
  }

  def schemaFor(fields: Seq[(String, Int)]): StructType =
    StructType(fields.map { case (n, _) => StructField(n, StringType) })

  /** Render one InternalRow value as the string the fixed-width layout
    * writes — matching Sinks.writeFixedWidth's `cast(string)` bytes.
    * Date/timestamp live as internal epoch numbers in an InternalRow, so
    * `String.valueOf(row.get(...))` would write '20679' for 2026-08-14
    * and micros-since-epoch for timestamps (timestamps render in UTC,
    * the engine's session zone).
    */
  private[sources] def renderValue(row: org.apache.spark.sql.catalyst.InternalRow,
                                   idx: Int, dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.DateType => java.time.LocalDate.ofEpochDay(row.getInt(idx).toLong).toString
    case org.apache.spark.sql.types.TimestampType =>
      val micros = row.getLong(idx)
      val secs = java.lang.Math.floorDiv(micros, 1000000L)
      val frac = java.lang.Math.floorMod(micros, 1000000L)
      val ldt = java.time.LocalDateTime.ofEpochSecond(secs, 0,
        java.time.ZoneOffset.UTC)
      val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
        f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      if (frac == 0L) base
      else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
    case _ => String.valueOf(row.get(idx, dt))
  }
}

private[sources] class FixedWidthTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  private val fields = FixedWidthV2.parseFields(options)

  override def name(): String = s"fixedwidth(${options.get("path")})"
  override def schema(): StructType = FixedWidthV2.schemaFor(fields)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new FixedWidthScanBuilder(fields, o)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FixedWidthWriteBuilder(fields, info)
}

private[sources] class FixedWidthScanBuilder(
    fields: Seq[(String, Int)], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = FixedWidthV2.schemaFor(fields)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = org.apache.spark.sql.SparkSession.active
    val files = SourceFiles.list(SourceFiles.paths(options),
      spark.sessionState.newHadoopConf()).map(_.getPath.toString)
    new FixedWidthScan(fields, required,
      Option(options.get("trim")).forall(_.toBoolean), files,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}

private[sources] case class FixedWidthFilePartition(file: String)
    extends InputPartition

private[sources] class FixedWidthScan(
    fields: Seq[(String, Int)], required: StructType, trim: Boolean,
    files: Seq[String], conf: SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"fixedwidth ReadSchema: ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(FixedWidthFilePartition.apply).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(fields, required.fieldNames.toSeq, trim, conf)
}

private[sources] class FixedWidthReaderFactory(
    fields: Seq[(String, Int)], requiredNames: Seq[String], trim: Boolean,
    conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[FixedWidthFilePartition].file
    // (offset, width) of just the REQUIRED columns, in required order —
    // pruning means the other substrings are never materialized
    val offsets = fields.scanLeft(0) { case (off, (_, w)) => off + w }
    val byName = fields.zip(offsets).map { case ((n, w), off) => n -> (off, w) }.toMap
    val picks = requiredNames.map(byName)
    new PartitionReader[InternalRow] {
      private val path = new Path(file)
      private val in = path.getFileSystem(conf.value).open(path)
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      private var line: String = _

      override def next(): Boolean = { line = reader.readLine(); line != null }

      override def get(): InternalRow = {
        val vals = picks.map { case (off, w) =>
          val raw = if (off >= line.length) ""
            else line.substring(off, math.min(off + w, line.length))
          val v = if (trim) raw.trim else raw
          if (v.isEmpty && trim) null else UTF8String.fromString(v)
        }
        InternalRow.fromSeq(vals)
      }

      override def close(): Unit = reader.close()
    }
  }
}

private[sources] class FixedWidthWriteBuilder(
    fields: Seq[(String, Int)], info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val spark = org.apache.spark.sql.SparkSession.active
      val path = Option(info.options.get("path")).getOrElse(
        throw new IllegalArgumentException("fixedwidth write needs a path"))
      new FixedWidthBatchWrite(fields, info.schema(), path, doTruncate,
        new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    }
  }
}

/** Batch write: each task streams its partition into a `.tmp` file and
  * RENAMES it into place on task commit (rename is the atomic unit on
  * HDFS-like stores), so a retried or speculatively-duplicated task never
  * leaves a half-written visible file. Overwrite (truncate) keeps the prior
  * part files on disk until the job-level commit — a failed overwrite
  * leaves the old data intact. New files carry a job-unique token so they
  * can never rename over a prior job's part files mid-job.
  */
private[sources] class FixedWidthBatchWrite(
    fields: Seq[(String, Int)], schema: StructType, path: String,
    truncate: Boolean, conf: SerializableConfiguration)
    extends BatchWrite {

  private val jobToken = java.util.UUID.randomUUID.toString.take(8)
  private var prior: Array[String] = Array.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    else if (truncate)
      prior = fs.listStatus(dir).filter(_.isFile).map(_.getPath.toString)
    new FixedWidthWriterFactory(fields, schema, path, jobToken, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (truncate && prior.nonEmpty) {
      val fs = new Path(path).getFileSystem(conf.value)
      val fresh = messages.collect { case FixedWidthCommitted(f) => f }.toSet
      prior.filterNot(fresh).foreach(f => fs.delete(new Path(f), false))
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.collect { case FixedWidthCommitted(f) =>
      fs.delete(new Path(f), false)
    }
  }
}

private[sources] case class FixedWidthCommitted(file: String)
    extends WriterCommitMessage

private[sources] class FixedWidthWriterFactory(
    fields: Seq[(String, Int)], schema: StructType, path: String,
    jobToken: String,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // render in FIELDS order (the record layout), wherever each column sits
    // in the incoming schema: rpad + truncate, nulls as spaces — byte-parity
    // with Sinks.writeFixedWidth
    val picks = fields.map { case (n, w) =>
      val i = schema.fieldIndex(n)
      (i, w, schema(i).dataType)
    }
    val fin = new Path(path, f"part-$partitionId%05d-$taskId-$jobToken.txt")
    val tmp = new Path(path, f".part-$partitionId%05d-$taskId-$jobToken.tmp")
    new DataWriter[InternalRow] {
      private val fs = tmp.getFileSystem(conf.value)
      private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))

      override def write(row: InternalRow): Unit = {
        val sb = new java.lang.StringBuilder
        picks.foreach { case (idx, w, dt) =>
          val v = if (row.isNullAt(idx)) ""
                  else FixedWidthV2.renderValue(row, idx, dt)
          if (v.length >= w) sb.append(v, 0, w)
          else {
            sb.append(v)
            var p = v.length
            while (p < w) { sb.append(' '); p += 1 }
          }
        }
        out.write(sb.toString)
        out.newLine()
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        if (!fs.rename(tmp, fin))
          throw new java.io.IOException(s"rename $tmp -> $fin failed")
        FixedWidthCommitted(fin.toString)
      }

      override def abort(): Unit = { out.close(); fs.delete(tmp, false) }
      override def close(): Unit = ()
    }
  }
}
