package graft.sources

import java.util

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.Row
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** DataSource V2 registration of the Avro container format —
  * `spark.read.format("graftavro").load(path)` — layered over
  * [[Avro]]'s schema mapping; the one Avro read path.
  *
  * Column pruning: the scan implements COLUMN PRUNING (SupportsPushDownRequiredColumns) as a PROJECTED AVRO READER
  * SCHEMA — Avro's own schema-resolution rules skip writer fields absent
  * from the reader record without materializing them (a varint hop for
  * scalars, a length hop for strings/bytes), so a 2-column projection
  * over a wide record never decodes the other fields. The pruned schema
  * is visible in `.explain` via the scan description.
  *
  * Splits — the genuine Avro split protocol, not per-file tasks:
  * an Avro container is a sequence of blocks separated by a 16-byte sync
  * marker, and `DataFileReader.sync(pos)` seeks to the first block
  * boundary at or after an arbitrary byte offset. Planning therefore
  * carves every file into ~`maxSplitBytes` byte ranges and each task
  * reads `sync(start) .. pastSync(end)` — exactly how avro-mapred splits —
  * so ONE 10 GB file parallelizes across the cluster instead of pinning a
  * single task, and a directory of files fans out both ways. Decoding
  * streams block-by-block (one block in memory per task); no whole-file
  * buffering.
  *
  * Paths may name files, directories (their non-empty `.avro` files) or
  * globs. Options: `maxSplitBytes` (default 128 MB) bounds per-task input.
  * [[Avro.readAvro]] is this scan under a function name.
  */
class AvroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftavro"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroV2.sparkSchema(AvroV2.writerSchema(SourceFiles.paths(options)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new AvroTable(new CaseInsensitiveStringMap(properties))
}

private[sources] object AvroV2 {
  /** (file, length) pairs of the container files under the given paths. */
  def listFiles(paths: Seq[String]): Seq[(String, Long)] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val all = SourceFiles.list(paths, conf,
      s => s.getLen > 0 && s.getPath.getName.endsWith(".avro"))
    require(all.nonEmpty, s"no .avro files under ${paths.mkString(", ")}")
    all.map(s => (s.getPath.toString, s.getLen))
  }

  def writerSchema(paths: Seq[String]): ASchema =
    writerSchemaOf(listFiles(paths).head._1)

  /** Writer schema from one container file's header (metadata-only read). */
  def writerSchemaOf(file: String): ASchema = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val in = new FsInput(new Path(file), conf)
    val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  def sparkSchema(as: ASchema): StructType = {
    require(as.getType == ASchema.Type.RECORD,
      s"top-level Avro schema must be a record, got ${as.getType}")
    Avro.toSparkType(as).asInstanceOf[StructType]
  }

  /** The projection half of the pruning: a reader record holding ONLY the
    * required fields (same name/namespace so Avro schema resolution
    * matches it against the writer; skipped fields are hopped over by the
    * decoder, never materialized).
    */
  def projectedSchema(writer: ASchema, required: StructType): ASchema = {
    val rec = ASchema.createRecord(writer.getName, writer.getDoc,
      writer.getNamespace, false)
    rec.setFields(required.fieldNames.toSeq.map { n =>
      val f = writer.getField(n)
      require(f != null, s"required column $n not in Avro schema")
      new ASchema.Field(n, f.schema(), f.doc(), f.defaultVal())
    }.asJava)
    rec
  }
}

private[sources] class AvroTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  // list the directory and read the first header ONCE per table — every
  // scan of this table reuses the pair (a per-query relisting of an
  // object-store directory with thousands of part files costs seconds of
  // driver latency; staleness scope is one table instance, the same
  // contract Spark's own file-index caching has)
  private lazy val listed: Seq[(String, Long)] =
    AvroV2.listFiles(SourceFiles.paths(options))
  private lazy val writer = AvroV2.writerSchemaOf(listed.head._1)

  override def name(): String = s"graftavro(${options.get("path")})"
  override def schema(): StructType = AvroV2.sparkSchema(writer)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(writer, listed, o)
}

private[sources] class AvroScanBuilder(writer: ASchema,
                                       files: Seq[(String, Long)],
                                       options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = AvroV2.sparkSchema(writer)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val maxSplit = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    val splits = files.flatMap {
      case (f, len) =>
        val n = math.max(1L, (len + maxSplit - 1) / maxSplit)
        (0L until n).map(i =>
          AvroSplit(f, i * maxSplit, math.min((i + 1) * maxSplit, len)))
    }
    val spark = org.apache.spark.sql.SparkSession.active
    new AvroScan(writer.toString, required, splits,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}

private[sources] case class AvroSplit(file: String, start: Long, end: Long)
    extends InputPartition

private[sources] class AvroScan(writerJson: String, required: StructType,
                                splits: Seq[AvroSplit],
                                conf: SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftavro ReadSchema: ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = splits.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(writerJson, required, conf)
}

private[sources] class AvroReaderFactory(writerJson: String,
                                         required: StructType,
                                         conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[AvroSplit]
    val writer = new ASchema.Parser().parse(writerJson)
    val reader = AvroV2.projectedSchema(writer, required)
    val datum = new GenericDatumReader[GenericRecord](writer, reader)
    val fieldSchemas = required.fieldNames.toSeq.map(n => reader.getField(n).schema())
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(required)
    new PartitionReader[InternalRow] {
      private val in = new FsInput(new Path(sp.file), conf.value)
      private val dfr = new DataFileReader[GenericRecord](in, datum)
      dfr.sync(sp.start)
      private var rec: GenericRecord = _

      override def next(): Boolean = {
        val more = dfr.hasNext && !dfr.pastSync(sp.end)
        if (more) rec = dfr.next()
        more
      }

      override def get(): InternalRow = {
        val row = Row.fromSeq(required.fields.toSeq.zipWithIndex.map {
          case (f, i) =>
            Avro.toSpark(rec.get(f.name), f.dataType, fieldSchemas(i))
        })
        toCatalyst(row).asInstanceOf[InternalRow]
      }

      override def close(): Unit = dfr.close()
    }
  }
}
