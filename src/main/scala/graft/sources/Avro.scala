package graft.sources

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** Avro container-file source/sink on the avro CORE library (the
  * spark-avro connector is absent from this environment; `org.apache.avro`
  * itself is on the classpath, so the container/codec layer is the real
  * Avro implementation and only the Spark plumbing is ours).
  *
  * The reference ships no Avro path of its own — this closes the one
  * format gap SURVEY §2c carried as an environment exclusion.
  *
  * Reads go through the `graftavro` DataSource V2 scan ([[AvroDataSource]]),
  * which owns the sync-marker split planning and the column pruning;
  * [[readAvro]] is that scan under a function name.
  *
  * Type mapping (both directions): null/boolean/int/long/float/double/
  * string/bytes/fixed/enum ↔ the §3-natural Spark types, record ↔ struct,
  * array ↔ array, map ↔ map(string,·), `[null, T]` unions ↔ nullable T,
  * logical date ↔ DateType, timestamp-millis/micros ↔ TimestampType,
  * decimal ↔ DecimalType. Multi-branch unions are rejected with a typed
  * error (no silent stringification).
  */
object Avro {

  // ------------------------------------------------------------- schemas

  /** Avro → Spark schema. */
  def toSparkType(s: ASchema): DataType = s.getType match {
    case ASchema.Type.BOOLEAN => BooleanType
    case ASchema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) DateType else IntegerType
    case ASchema.Type.LONG => s.getLogicalType match {
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.TimestampMicros => TimestampType
      case _ => LongType
    }
    case ASchema.Type.FLOAT  => FloatType
    case ASchema.Type.DOUBLE => DoubleType
    case ASchema.Type.STRING => StringType
    case ASchema.Type.ENUM   => StringType
    case ASchema.Type.BYTES | ASchema.Type.FIXED => s.getLogicalType match {
      case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _ => BinaryType
    }
    case ASchema.Type.RECORD =>
      StructType(s.getFields.asScala.toSeq.map(f =>
        StructField(f.name(), toSparkType(f.schema()), nullable = isNullable(f.schema()))))
    case ASchema.Type.ARRAY =>
      ArrayType(toSparkType(nonNull(s.getElementType)), containsNull = isNullable(s.getElementType))
    case ASchema.Type.MAP =>
      MapType(StringType, toSparkType(nonNull(s.getValueType)),
        valueContainsNull = isNullable(s.getValueType))
    case ASchema.Type.UNION => toSparkType(nonNull(s))
    case ASchema.Type.NULL  => NullType
  }

  private def isNullable(s: ASchema): Boolean =
    s.getType == ASchema.Type.UNION &&
      s.getTypes.asScala.exists(_.getType == ASchema.Type.NULL)

  /** The non-null branch of a `[null, T]` union (typed rejection beyond). */
  private def nonNull(s: ASchema): ASchema =
    if (s.getType != ASchema.Type.UNION) s
    else {
      val branches = s.getTypes.asScala.filterNot(_.getType == ASchema.Type.NULL)
      require(branches.size == 1,
        s"multi-branch Avro union ${s} has no single Spark type; " +
          "restructure the schema (e.g. a record of nullable branches)")
      branches.head
    }

  /** Spark → Avro schema (records named `r`, field-path suffixed — Avro
    * record names must be unique within a schema).
    */
  def toAvroSchema(dt: DataType, name: String = "row"): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => ASchema.create(ASchema.Type.INT)
    case LongType    => ASchema.create(ASchema.Type.LONG)
    case FloatType   => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
    case StringType  => ASchema.create(ASchema.Type.STRING)
    case BinaryType  => ASchema.create(ASchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(ASchema.create(ASchema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      ASchema.createArray(wrapNullable(toAvroSchema(et, name + "_item"), containsNull))
    case MapType(StringType, vt, valueNull) =>
      ASchema.createMap(wrapNullable(toAvroSchema(vt, name + "_value"), valueNull))
    case StructType(fields) =>
      val rec = ASchema.createRecord(name, null, "graft.avro", false)
      rec.setFields(fields.toSeq.map { f =>
        new ASchema.Field(f.name,
          wrapNullable(toAvroSchema(f.dataType, name + "_" + f.name), f.nullable),
          null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
      }.asJava)
      rec
    case other => throw new IllegalArgumentException(
      s"no Avro mapping for Spark type ${other.simpleString}")
  }

  private def wrapNullable(s: ASchema, nullable: Boolean): ASchema =
    if (!nullable) s
    else ASchema.createUnion(ASchema.create(ASchema.Type.NULL), s)

  // --------------------------------------------------------------- values

  /** Avro runtime value → Spark Row value for `dt` (used by the V2 scan —
    * see [[AvroV2]]).
    */
  private[sources] def toSpark(v: Any, dt: DataType, as: ASchema): Any = {
    if (v == null) return null
    val s = nonNull(as)
    dt match {
      case StringType => v.toString // Utf8 / enum symbol / String
      case BinaryType => v match {
        case b: ByteBuffer => val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case f: GenericData.Fixed => f.bytes().clone()
        case a: Array[Byte] => a
      }
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType =>
        val micros = s.getLogicalType match {
          case _: LogicalTypes.TimestampMillis => v.asInstanceOf[Long] * 1000L
          case _ => v.asInstanceOf[Long]
        }
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
      case d: DecimalType =>
        val bytes = v match {
          case b: ByteBuffer => val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
          case f: GenericData.Fixed => f.bytes()
        }
        BigDecimal(new java.math.BigInteger(bytes), d.scale)
      case st: StructType =>
        val r = v.asInstanceOf[GenericRecord]
        Row.fromSeq(st.fields.toSeq.map(f =>
          toSpark(r.get(f.name), f.dataType, r.getSchema.getField(f.name).schema())))
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(toSpark(_, et, s.getElementType))
      case MapType(_, vt, _) =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map { case (k, mv) =>
          k.toString -> toSpark(mv, vt, s.getValueType)
        }.toMap
      case _ => v // primitives line up (int/long/float/double/boolean)
    }
  }

  /** Spark Row value → Avro runtime value per the writer schema. */
  private def toAvro(v: Any, dt: DataType, as: ASchema): Any = {
    if (v == null) return null
    val s = nonNull(as)
    dt match {
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case DateType =>
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt
      case TimestampType =>
        val i = v.asInstanceOf[java.sql.Timestamp].toInstant
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
      case _: DecimalType =>
        ByteBuffer.wrap(v.asInstanceOf[java.math.BigDecimal].unscaledValue().toByteArray)
      case st: StructType =>
        val row = v.asInstanceOf[Row]
        val rec = new GenericData.Record(s)
        st.fields.zipWithIndex.foreach { case (f, i) =>
          rec.put(f.name, toAvro(row.get(i), f.dataType, s.getField(f.name).schema()))
        }
        rec
      case ArrayType(et, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(toAvro(_, et, s.getElementType)).asJava
      case MapType(_, vt, _) =>
        v.asInstanceOf[scala.collection.Map[String, Any]].map { case (k, mv) =>
          k -> toAvro(mv, vt, s.getValueType)
        }.toMap.asJava
      case ShortType => v.asInstanceOf[Short].toInt
      case ByteType  => v.asInstanceOf[Byte].toInt
      case _ => v
    }
  }

  // ----------------------------------------------------------------- read

  /** Read a container file, a directory or a glob of them through the
    * `graftavro` V2 scan ([[AvroDataSource]]), so Catalyst prunes columns
    * into the Avro reader schema. `maxSplitBytes` bounds per-task input
    * (default 128 MB — files larger than this parallelize WITHIN the file
    * via sync-marker ranges).
    */
  def readAvro(spark: SparkSession, path: String,
               maxSplitBytes: Long = 128L * 1024 * 1024): DataFrame =
    spark.read.format("graftavro")
      .option("maxSplitBytes", maxSplitBytes).load(path)

  // ---------------------------------------------------------------- write

  /** Write `df` as Avro container files, one per partition, with the given
    * codec (`null`, `deflate`, `snappy`, `zstandard`). Distributed: each
    * task streams its partition through a DataFileWriter; block sync
    * markers make the output splittable by [[readAvro]].
    */
  def writeAvro(df: DataFrame, path: String, codec: String = "snappy"): Unit = {
    val schema = df.schema
    require(Set("null", "deflate", "snappy", "zstandard")(codec),
      s"unknown avro codec $codec (null/deflate/snappy/zstandard)")
    val aschema = toAvroSchema(schema).toString
    val spark = df.sparkSession
    val out = new Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val dir = out.toString
    val sconf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    df.rdd.mapPartitionsWithIndex { (idx, it) =>
      val as = new ASchema.Parser().parse(aschema)
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](as))
      w.setCodec(codec match {
        case "null"      => CodecFactory.nullCodec()
        case "deflate"   => CodecFactory.deflateCodec(6)
        case "snappy"    => CodecFactory.snappyCodec()
        case _           => CodecFactory.zstandardCodec(3)
      })
      var n = 0L
      SourceFiles.writeTaskFile(new Path(dir, f"part-$idx%05d.avro"), sconf.value) { os =>
        w.create(as, os)
        it.foreach { row =>
          w.append(toAvro(row, schema, as).asInstanceOf[GenericRecord])
          n += 1
        }
        w.close()
      }
      Iterator.single(n)
    }.count(): Unit
  }
}
