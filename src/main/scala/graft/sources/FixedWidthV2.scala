package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.execution.datasources.v2.text.TextTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 registration of the fixed-width flat-file format —
  * `spark.read.format("fixedwidth").option("fields", "name:8,qty:4")` — so
  * the reference's byte-walked flat files (FileParserFunctions.scala:146)
  * plug into every V2 integration point (catalogs, SQL `USING fixedwidth`,
  * multi-path loads) instead of requiring the [[Sources.readFixedWidth]]
  * function call.
  *
  * The read is Spark's own text scan (the listing, globs, splits and line
  * framing of `spark.read.text`); each line is sliced into just the
  * REQUIRED columns (column pruning, visible in the plan) by
  * [[Sources.readFixedWidth]]'s rule. The write pads and truncates by code
  * points like `Sinks.writeFixedWidth`; its values arrive rendered by
  * Spark's string cast in the session time zone, because a V2 write casts
  * the query's columns to this table's all-STRING schema.
  *
  * Paths may name files, directories or globs. Option: `fields` =
  * comma-separated `name:width` in record order, every width > 0
  * (required). All columns surface as STRING, like csv without inferSchema.
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
    new FixedWidthScan(fields, o)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FixedWidthWriteBuilder(fields, info)
}

/** Builder, scan and batch in one: Spark's text scan over the paths, its
  * partitions read through [[FixedWidthReaderFactory]].
  */
private[sources] class FixedWidthScan(
    fields: Seq[(String, Int)], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with Scan with Batch {
  private var required: StructType = FixedWidthV2.schemaFor(fields)
  private lazy val lines = TextTable("fixedwidth", SparkSession.active,
    CaseInsensitiveStringMap.empty(), SourceFiles.paths(options), None,
    classOf[TextFileFormat]).newScanBuilder(CaseInsensitiveStringMap.empty())
    .build().toBatch

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"fixedwidth ReadSchema: ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    lines.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory = {
    // code-point (offset, width) of just the REQUIRED columns, in required
    // order — pruning means the other substrings are never sliced
    val offsets = fields.scanLeft(0) { case (off, (_, w)) => off + w }
    val byName = fields.zip(offsets).map { case ((n, w), off) => n -> (off, w) }.toMap
    new FixedWidthReaderFactory(lines.createReaderFactory(),
      required.fieldNames.map(byName))
  }
}

private[sources] class FixedWidthReaderFactory(
    lines: PartitionReaderFactory, slices: Array[(Int, Int)])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = lines.createReader(p)
    new PartitionReader[InternalRow] {
      private val row = new GenericInternalRow(slices.length)

      override def next(): Boolean = in.next()

      // Sources.readFixedWidth's rule without copying: code points
      // [offset, offset + width), spaces trimmed, empty = null. A value
      // views the line's buffer, which the text reader reuses on next()
      override def get(): InternalRow = {
        val line = in.get().getUTF8String(0)
        val base = line.getBaseObject
        val off = line.getBaseOffset
        val n = line.numBytes
        def skip(from: Int, codePoints: Int): Int = {
          var b = from
          var c = 0
          while (b < n && c < codePoints) {
            b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
            c += 1
          }
          math.min(b, n)
        }
        var i = 0
        while (i < slices.length) {
          var s = skip(0, slices(i)._1)
          var e = skip(s, slices(i)._2)
          while (s < e && Platform.getByte(base, off + s) == ' ') s += 1
          while (e > s && Platform.getByte(base, off + e - 1) == ' ') e -= 1
          row.update(i, if (s == e) null else UTF8String.fromAddress(base, off + s, e - s))
          i += 1
        }
        row
      }

      override def close(): Unit = in.close()
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
      val spark = SparkSession.active
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
    // in the incoming (all-STRING) schema: rpad + truncate by code points,
    // nulls as spaces — the bytes Sinks.writeFixedWidth writes
    val picks = fields.map { case (n, w) => (schema.fieldIndex(n), w) }
    val space = UTF8String.fromString(" ")
    val fin = new Path(path, f"part-$partitionId%05d-$taskId-$jobToken.txt")
    val tmp = new Path(path, f".part-$partitionId%05d-$taskId-$jobToken.tmp")
    new DataWriter[InternalRow] {
      private val fs = tmp.getFileSystem(conf.value)
      private val out = new java.io.BufferedOutputStream(fs.create(tmp, true))

      override def write(row: InternalRow): Unit = {
        picks.foreach { case (i, w) =>
          val v = if (row.isNullAt(i)) UTF8String.EMPTY_UTF8 else row.getUTF8String(i)
          v.rpad(w, space).writeTo(out)
        }
        out.write('\n')
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
