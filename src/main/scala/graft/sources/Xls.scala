package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Legacy binary Excel (.xls, BIFF8) source implemented with the JDK only —
  * the last reference Excel surface
  * (/root/reference/src/main/scala/com/wegtam/tensei/agent/helpers/
  * ExcelToCSVConverter.scala:50 accepts BOTH .xls and .xlsx via POI; the
  * repo previously covered only OOXML). A .xls file is an OLE2/CFB compound
  * document (MS-CFB) holding a `Workbook` stream of BIFF8 records (MS-XLS);
  * both formats are publicly specified, so the reader is a from-scratch
  * byte-walker: FAT/miniFAT sector chains, the SST shared-string table with
  * its CONTINUE-record string splitting (a string's character run may
  * resume under a fresh encoding flag mid-string), and the cell record
  * families (LABELSST / NUMBER / RK / MULRK / LABEL / BOOLERR / FORMULA
  * with cached results).
  *
  * Scale shape mirrors [[Excel]]: a workbook is one unsplittable stream, so
  * one task per file via the binaryFile source; a directory of .xls exports
  * parallelizes by file and everything downstream is an ordinary DataFrame.
  * Cells render as strings exactly like the .xlsx reader (numbers in
  * shortest form, integers without ".0", booleans as true/false, error
  * cells as null).
  */
object Xls {

  /** Read one .xls file or a directory/glob of them. Same surface as
    * [[Excel.read]]: with `header`, names come from the first row of the
    * first file; all columns StringType.
    */
  def read(spark: SparkSession, path: String, header: Boolean = true,
           sheet: Option[String] = None): DataFrame =
    Excel.readWorkbooks(spark, path, "*.xls", parseWorkbook, header, sheet)

  /** Parse one workbook: rows of string cells from the requested (or first)
    * sheet.
    */
  def parseWorkbook(bytes: Array[Byte],
                    sheet: Option[String] = None): Vector[Array[String]] = {
    val wb = cfbStream(bytes, Set("Workbook", "Book"))
    val sheets = globalSheets(wb)
    require(sheets.nonEmpty, "BIFF workbook defines no sheets")
    val pos = sheet match {
      case Some(name) => sheets.find(_._2 == name)
        .getOrElse(throw new IllegalArgumentException(
          s"sheet $name not found; have ${sheets.map(_._2).mkString(", ")}"))._1
      case None => sheets.head._1
    }
    val sst = parseSst(wb)
    parseSheetSubstream(wb, pos, sst)
  }

  // ----------------------------------------------------------- CFB/OLE2

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF
  private def u16(b: Array[Byte], o: Int): Int = u8(b, o) | (u8(b, o + 1) << 8)
  private def i32(b: Array[Byte], o: Int): Int =
    u16(b, o) | (u16(b, o + 2) << 16)

  private val FREESECT = 0xFFFFFFFF
  private val ENDOFCHAIN = 0xFFFFFFFE

  /** Extract a named stream from a compound document: header → DIFAT → FAT
    * → directory walk → stream chain (regular sectors, or the root entry's
    * mini stream + miniFAT when the stream is below the mini cutoff).
    */
  private def cfbStream(b: Array[Byte], names: Set[String]): Array[Byte] = {
    require(b.length >= 512 &&
      i32(b, 0) == 0xE011CFD0 && i32(b, 4) == 0xE11AB1A1,
      "not an OLE2 compound document (bad magic) - is this really a .xls?")
    val sectorSize = 1 << u16(b, 30)
    val miniSize = 1 << u16(b, 32)
    val numFat = i32(b, 44)
    val firstDir = i32(b, 48)
    val miniCutoff = i32(b, 56)
    val firstMiniFat = i32(b, 60)
    val numMiniFat = i32(b, 64)
    val firstDifat = i32(b, 68)
    val ints = sectorSize / 4
    def sectorOff(sid: Int): Int = (sid + 1) * sectorSize

    // FAT sector ids: 109 in the header, the rest in chained DIFAT sectors
    val fatSids = {
      val out = Vector.newBuilder[Int]
      var i = 0
      while (i < 109) {
        val s = i32(b, 76 + 4 * i)
        if (s != FREESECT && s != ENDOFCHAIN) out += s
        i += 1
      }
      var difat = firstDifat
      var guard = 0
      while (difat != ENDOFCHAIN && difat != FREESECT && guard < 65536) {
        val off = sectorOff(difat)
        var j = 0
        while (j < ints - 1) {
          val s = i32(b, off + 4 * j)
          if (s != FREESECT && s != ENDOFCHAIN) out += s
          j += 1
        }
        difat = i32(b, off + 4 * (ints - 1))
        guard += 1
      }
      out.result().take(numFat)
    }
    val fat = new Array[Int](fatSids.length * ints)
    fatSids.zipWithIndex.foreach { case (sid, k) =>
      val off = sectorOff(sid)
      var j = 0
      while (j < ints) { fat(k * ints + j) = i32(b, off + 4 * j); j += 1 }
    }

    def chain(start: Int, table: Array[Int]): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      var s = start
      var guard = 0
      while (s != ENDOFCHAIN && s != FREESECT && s >= 0 &&
             s < table.length && guard < table.length + 1) {
        out += s; s = table(s); guard += 1
      }
      out.result()
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      val sids = chain(start, fat)
      val out = new Array[Byte]((sids.length.toLong * sectorSize).toInt)
      sids.zipWithIndex.foreach { case (sid, k) =>
        System.arraycopy(b, sectorOff(sid), out, k * sectorSize, sectorSize)
      }
      if (size >= 0 && size < out.length) java.util.Arrays.copyOf(out, size.toInt)
      else out
    }

    // directory: 128-byte entries along the directory chain
    val dir = readChain(firstDir, -1L)
    val entries = (0 until dir.length / 128).map { k =>
      val o = k * 128
      val nameLen = u16(dir, o + 64) // bytes incl. UTF-16 terminator
      val name = if (nameLen >= 2)
        new String(dir, o, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
      else ""
      val objType = u8(dir, o + 66)
      val start = i32(dir, o + 116)
      val size = i32(dir, o + 120).toLong & 0xFFFFFFFFL
      (name, objType, start, size)
    }
    val root = entries.find(_._2 == 5).getOrElse(
      throw new IllegalArgumentException("compound document has no root entry"))
    val target = entries.find(e => e._2 == 2 && names(e._1)).getOrElse(
      throw new IllegalArgumentException(
        s"no ${names.mkString("/")} stream; entries: ${entries.map(_._1).mkString(", ")}"))

    if (target._4 >= miniCutoff) readChain(target._3, target._4)
    else {
      // mini stream: 64-byte sectors inside the ROOT entry's regular chain,
      // linked through the miniFAT
      val container = readChain(root._3, root._4)
      val miniFatRaw = readChain(firstMiniFat, numMiniFat.toLong * sectorSize)
      val miniFat = new Array[Int](miniFatRaw.length / 4)
      var j = 0
      while (j < miniFat.length) { miniFat(j) = i32(miniFatRaw, 4 * j); j += 1 }
      val sids = chain(target._3, miniFat)
      val out = new Array[Byte](sids.length * miniSize)
      sids.zipWithIndex.foreach { case (sid, k) =>
        val off = sid * miniSize
        val n = math.min(miniSize, container.length - off)
        if (n > 0) System.arraycopy(container, off, out, k * miniSize, n)
      }
      if (target._4 < out.length) java.util.Arrays.copyOf(out, target._4.toInt)
      else out
    }
  }

  // -------------------------------------------------------- BIFF records

  private val BOF = 0x0809
  private val EOF = 0x000A
  private val SST = 0x00FC
  private val CONTINUE = 0x003C
  private val BOUNDSHEET = 0x0085
  private val LABELSST = 0x00FD
  private val NUMBER = 0x0203
  private val RK = 0x027E
  private val MULRK = 0x00BD
  private val LABEL = 0x0204
  private val BOOLERR = 0x0205
  private val FORMULA = 0x0006
  private val STRING = 0x0207

  /** (record id, payload offset, payload length, next record offset). */
  private def recordAt(b: Array[Byte], o: Int): (Int, Int, Int, Int) = {
    val id = u16(b, o)
    val len = u16(b, o + 2)
    (id, o + 4, len, o + 4 + len)
  }

  /** Sheet list from the globals substream: (substream offset, name). */
  private def globalSheets(wb: Array[Byte]): Vector[(Int, String)] = {
    val out = Vector.newBuilder[(Int, String)]
    var o = 0
    var depth = 0
    var done = false
    while (!done && o + 4 <= wb.length) {
      val (id, po, len, next) = recordAt(wb, o)
      id match {
        case BOF => depth += 1
        case EOF => depth -= 1; if (depth <= 0) done = true
        case BOUNDSHEET if depth == 1 =>
          val pos = i32(wb, po)
          // sheet name is a ShortXLUnicodeString: u8 cch, u8 flags, chars
          val cch = u8(wb, po + 6)
          val hi = (u8(wb, po + 7) & 0x01) != 0
          val name = if (hi)
            new String(wb, po + 8, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, po + 8, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          out += ((pos, name))
        case _ => ()
      }
      o = next
    }
    out.result()
  }

  /** A cursor over the SST record's payload plus its CONTINUE records, that
    * knows where the segment boundaries are: a string's character run that
    * crosses into a CONTINUE restarts with a fresh encoding-flags byte
    * (the continued part may switch between compressed and UTF-16), while
    * rich-run/ext bytes continue raw. This split-restart is the one
    * genuinely tricky corner of BIFF8.
    */
  private final class SstCursor(segments: Vector[(Int, Int)], wb: Array[Byte]) {
    private var seg = 0
    private var pos = 0 // within current segment
    private def segLen = segments(seg)._2
    private def ensure(): Unit = {
      while (seg < segments.length - 1 && pos >= segLen) {
        pos -= segLen; seg += 1
      }
    }
    def atSegmentStart: Boolean = { ensure(); pos == 0 && seg > 0 }
    def hasMore: Boolean = { ensure(); seg < segments.length && pos < segLen }
    def byte(): Int = { ensure(); val v = u8(wb, segments(seg)._1 + pos); pos += 1; v }
    def short(): Int = byte() | (byte() << 8)
    def int(): Int = short() | (short() << 16)
    def skip(n: Int): Unit = { var i = 0; while (i < n) { byte(); i += 1 } }

    /** Read `cch` characters under `flags`, re-reading the encoding flag at
      * every segment boundary crossed mid-run.
      */
    def chars(cch: Int, flags0: Int): String = {
      val sb = new java.lang.StringBuilder(cch)
      var hi = (flags0 & 0x01) != 0
      var remaining = cch
      while (remaining > 0) {
        ensure()
        if (atSegmentStart) hi = (byte() & 0x01) != 0 // continued run: fresh grbit
        if (hi) sb.append((byte() | (byte() << 8)).toChar)
        else sb.append(byte().toChar)
        remaining -= 1
      }
      sb.toString
    }
  }

  /** Shared strings: total/unique counts, then unique
    * XLUnicodeRichExtendedStrings (flags for 16-bit chars, rich-text runs,
    * far-east ext blocks — runs and ext are skipped, all text runs kept).
    */
  private def parseSst(wb: Array[Byte]): Vector[String] = {
    // collect the SST record segment plus all immediately following CONTINUEs
    var o = 0
    var sstAt = -1
    var depth = 0
    var done = false
    while (!done && sstAt < 0 && o + 4 <= wb.length) {
      val (id, _, _, next) = recordAt(wb, o)
      id match {
        case BOF => depth += 1
        case EOF => depth -= 1; if (depth <= 0) done = true
        case SST => sstAt = o
        case _ => ()
      }
      o = next
    }
    if (sstAt < 0) return Vector.empty
    val segs = Vector.newBuilder[(Int, Int)]
    var (id, po, len, next) = recordAt(wb, sstAt)
    segs += ((po, len))
    var cont = next
    while (cont + 4 <= wb.length && u16(wb, cont) == CONTINUE) {
      val (_, cpo, clen, cnext) = recordAt(wb, cont)
      segs += ((cpo, clen))
      cont = cnext
    }
    val cur = new SstCursor(segs.result(), wb)
    cur.int() // total refs
    val unique = cur.int()
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < unique && cur.hasMore) {
      val cch = cur.short()
      val flags = cur.byte()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) cur.short() else 0
      val cbExt = if (ext) cur.int() else 0
      out += cur.chars(cch, flags)
      cur.skip(cRun * 4)
      cur.skip(cbExt)
      i += 1
    }
    out.result()
  }

  /** Render a BIFF numeric cell the way the .xlsx reader sees `<v>` text:
    * integral doubles without the trailing ".0".
    */
  private def num(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def rkValue(rk: Int): Double = {
    val div100 = (rk & 0x01) != 0
    val v = if ((rk & 0x02) != 0) (rk >> 2).toDouble
    else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  private def readDouble(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xFFL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** One worksheet substream (from its BOUNDSHEET offset to its EOF) into
    * rows of string cells, sparse rows/columns preserved as in the xlsx
    * parser (cells land at their recorded column; absent rows are absent).
    */
  private def parseSheetSubstream(wb: Array[Byte], start: Int,
                                  sst: Vector[String]): Vector[Array[String]] = {
    val cells = scala.collection.mutable.TreeMap.empty[Int, java.util.ArrayList[String]]
    def rowBuf(r: Int): java.util.ArrayList[String] =
      cells.getOrElseUpdate(r, new java.util.ArrayList[String]())
    def set(r: Int, c: Int, v: String): Unit = {
      val buf = rowBuf(r)
      while (buf.size < c) buf.add(null)
      if (buf.size == c) buf.add(v) else buf.set(c, v)
    }
    var o = start
    var depth = 0
    var done = false
    var pendingFormulaCell: (Int, Int) = null // FORMULA with a string result
    while (!done && o + 4 <= wb.length) {
      val (id, po, len, next) = recordAt(wb, o)
      id match {
        case BOF => depth += 1
        case EOF => depth -= 1; if (depth <= 0) done = true
        case LABELSST =>
          val idx = i32(wb, po + 6)
          set(u16(wb, po), u16(wb, po + 2),
            if (idx >= 0 && idx < sst.length) sst(idx) else null)
        case NUMBER =>
          set(u16(wb, po), u16(wb, po + 2), num(readDouble(wb, po + 6)))
        case RK =>
          set(u16(wb, po), u16(wb, po + 2), num(rkValue(i32(wb, po + 6))))
        case MULRK =>
          val row = u16(wb, po)
          val colFirst = u16(wb, po + 2)
          val n = (len - 6) / 6
          var k = 0
          while (k < n) {
            set(row, colFirst + k, num(rkValue(i32(wb, po + 4 + 6 * k + 2))))
            k += 1
          }
        case LABEL =>
          val cch = u16(wb, po + 6)
          val hi = (u8(wb, po + 8) & 0x01) != 0
          val s = if (hi)
            new String(wb, po + 9, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, po + 9, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          set(u16(wb, po), u16(wb, po + 2), s)
        case BOOLERR =>
          val isErr = u8(wb, po + 7) != 0
          set(u16(wb, po), u16(wb, po + 2),
            if (isErr) null else if (u8(wb, po + 6) != 0) "true" else "false")
        case FORMULA =>
          val row = u16(wb, po)
          val c = u16(wb, po + 2)
          if (u16(wb, po + 12) == 0xFFFF) u8(wb, po + 6) match {
            case 0 => pendingFormulaCell = (row, c) // string; STRING follows
            case 1 => set(row, c, if (u8(wb, po + 8) != 0) "true" else "false")
            case _ => set(row, c, null) // error / empty
          } else set(row, c, num(readDouble(wb, po + 6)))
        case STRING if pendingFormulaCell != null =>
          val cch = u16(wb, po)
          val hi = (u8(wb, po + 2) & 0x01) != 0
          val s = if (hi)
            new String(wb, po + 3, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, po + 3, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          set(pendingFormulaCell._1, pendingFormulaCell._2, s)
          pendingFormulaCell = null
        case _ => ()
      }
      o = next
    }
    cells.values.map(b => b.toArray(new Array[String](b.size))).toVector
  }
}
