package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.Jsons

/** Canonical JSON rendering of result rows, shared by the fingerprint and
  * by the dumps the DuckDB check reads. Columns are sorted by name; every
  * value carries enough type to be compared exactly on the other side:
  *
  *  - exact numerics (integers, decimals) as `{"n": "<digits>"}`;
  *  - floating point as `{"d": "<Double.toString>"}` (float32 widened to
  *    its exact double value, which is what DuckDB returns for FLOAT);
  *  - dates and timestamps as `{"t": <epoch microseconds, UTC>}`;
  *  - binary as `{"b": "<hex>"}`, maps as `{"m": [[k, v], ...]}` sorted;
  *  - arrays and structs as JSON arrays, strings as JSON strings.
  */
object Canon {

  def rows(rows: Array[Row], schema: StructType): Array[String] = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).toSeq
    rows.map { r =>
      order.map { case (f, i) => cell(r.get(i), f.dataType) }.mkString("[", ",", "]")
    }
  }

  def columns(schema: StructType): Seq[String] = schema.fieldNames.sorted.toSeq

  def cell(v: Any, dt: DataType): String = if (v == null) "null" else dt match {
    case BooleanType => v.toString
    case ByteType | ShortType | IntegerType | LongType => num("n", v.toString)
    case _: DecimalType => num("n", v match {
      case d: java.math.BigDecimal => d.toPlainString
      case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
      case d => d.toString
    })
    case DoubleType => num("d", v.toString)
    case FloatType => num("d", v.asInstanceOf[Float].toDouble.toString)
    case StringType | _: CharType | _: VarcharType => Jsons.quote(v.toString)
    case BinaryType => num("b", v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString)
    case DateType => "{\"t\":" + (v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
    }) * 86400000000L + "}"
    case TimestampType | TimestampNTZType => "{\"t\":" + (v match {
      case t: java.sql.Timestamp => micros(t.toInstant)
      case t: java.time.Instant => micros(t)
      case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    }) + "}"
    case ArrayType(et, _) =>
      v.asInstanceOf[scala.collection.Seq[Any]].map(cell(_, et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
        .map { case (k, x) => (cell(k, kt), cell(x, vt)) }.sortBy(_._1)
        .map { case (k, x) => s"[$k,$x]" }.mkString("{\"m\":[", ",", "]}")
    case st: StructType =>
      val r = v.asInstanceOf[Row]
      st.fields.indices.map(i => cell(r.get(i), st.fields(i).dataType)).mkString("[", ",", "]")
    case other => Jsons.quote(v.toString + "::" + other.simpleString)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def num(tag: String, s: String): String = s"""{"$tag":"$s"}"""

  /** Order-independent fingerprint of a result: row count plus the sum
    * (mod 2^64) of a 64-bit hash of each canonical row. Row order does not
    * change it; any changed, added or removed row does (up to hash
    * collisions), and duplicates count with their multiplicity.
    */
  def fingerprint(canonRows: Array[String], columns: Seq[String]): String = {
    var sum = 0L
    canonRows.foreach(r => sum += hash64(r))
    f"${canonRows.length}%d:${hash64(columns.mkString(","))}%016x:$sum%016x"
  }

  def hash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    (MurmurHash3.bytesHash(b, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.bytesHash(b, 0x1b873593).toLong & 0xffffffffL)
  }
}
