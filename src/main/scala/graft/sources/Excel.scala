package graft.sources

import java.io.{ByteArrayInputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

/** Excel (.xlsx) source/sink implemented with the JDK only — closes the one
  * reference surface the repo previously stubbed
  * (/root/reference/src/main/scala/com/wegtam/tensei/agent/helpers/
  * ExcelToCSVConverter.scala:50, which converts the workbook row-by-row to
  * CSV and re-parses). XLSX is ZIP + OOXML SpreadsheetML (ECMA-376), so
  * `java.util.zip` + StAX cover the whole format: worksheet XML, shared and
  * inline strings, boolean/numeric/error cells, sparse rows with `r`
  * references.
  *
  * Scale shape: one .xlsx is not splittable (ZIP + the format's hard
  * 1,048,576-row cap), so a single workbook parses in one task — exactly the
  * reference's single-stream conversion. A DIRECTORY of workbooks reads via
  * Spark's binaryFile source with one task per file, which is the real
  * cluster path for Excel-shaped data (many small exports), and the parsed
  * rows land in an ordinary DataFrame where every downstream op is
  * distributed. The writer streams `toLocalIterator` into one workbook
  * (bounded by the format's row cap) like every Excel producer must.
  */
object Excel {

  // ------------------------------------------------------------------ read

  /** Read one .xlsx file or a directory/glob of them. With `header`, column
    * names come from the first row of the first file (all files must share
    * the layout); all columns are StringType, like csv without inferSchema.
    */
  def read(spark: SparkSession, path: String, header: Boolean = true,
           sheet: Option[String] = None): DataFrame =
    readWorkbooks(spark, path, "*.xlsx", parseWorkbook, header, sheet)

  /** The one workbook read path, shared with [[Xls]]: the binaryFile source
    * lists the files `glob` matches under `path`, one task per workbook,
    * and `parse` turns each workbook's bytes into rows of cell strings.
    * Header and column rules as in [[read]].
    */
  private[sources] def readWorkbooks(
      spark: SparkSession, path: String, glob: String,
      parse: (Array[Byte], Option[String]) => Vector[Array[String]],
      header: Boolean, sheet: Option[String]): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select("path", "content")
    val firstFile = bin.sort(col("path")).select("content").head
    val firstRows = parse(firstFile.getAs[Array[Byte]](0), sheet)
    require(firstRows.nonEmpty, s"empty workbook under $path")
    val width = firstRows.map(_.length).max
    val names: Seq[String] =
      if (header)
        firstRows.head.padTo(width, null).zipWithIndex.map {
          case (c, i) => if (c == null || c.isEmpty) s"_c$i" else c
        }
      else (0 until width).map(i => s"_c$i")
    val n = names.length
    val rows = bin.as[(String, Array[Byte])].flatMap { case (_, bytes) =>
      val parsed = parse(bytes, sheet)
      val data = if (header) parsed.drop(1) else parsed
      // pad/truncate to the header width so element access is always in
      // bounds (ANSI mode errors on out-of-range array indexes)
      data.map(r => (r.padTo(n, null).take(n)): Seq[String])
    }
    rows.select((0 until n).map(i => col("value").getItem(i).as(names(i))): _*)
  }

  /** Parse one workbook's sheet (by name, else the first in workbook order)
    * into rows of cell strings; absent cells are null. Pure JDK, driver- and
    * executor-safe.
    */
  def parseWorkbook(bytes: Array[Byte],
                    sheet: Option[String] = None): Vector[Array[String]] = {
    val entries = readZip(bytes)
    def entry(name: String): Option[Array[Byte]] = entries.get(name)
    val workbook = entry("xl/workbook.xml").getOrElse(
      throw new IllegalArgumentException("not an xlsx: missing xl/workbook.xml"))
    val sheets = parseSheetList(workbook) // (name, relId) in workbook order
    val relTargets = entry("xl/_rels/workbook.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val chosen = sheet match {
      case Some(s) => sheets.find(_._1 == s).getOrElse(
        throw new IllegalArgumentException(
          s"sheet '$s' not found; have ${sheets.map(_._1).mkString(", ")}"))
      case None => sheets.headOption.getOrElse(
        throw new IllegalArgumentException("workbook has no sheets"))
    }
    val target = relTargets.get(chosen._2)
      .map(t => if (t.startsWith("/")) t.drop(1) else "xl/" + t)
      .getOrElse("xl/worksheets/sheet1.xml")
    val sheetXml = entry(target).getOrElse(
      throw new IllegalArgumentException(s"missing worksheet part $target"))
    val shared = entry("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    parseSheet(sheetXml, shared)
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e: ZipEntry = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out += (e.getName -> zis.readAllBytes())
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.result()
  }

  /** StAX reader with external entities off (untrusted workbook safety). */
  private def xmlReader(bytes: Array[Byte]): javax.xml.stream.XMLStreamReader = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** (sheet name, relationship id) pairs from workbook.xml, in file order. */
  private def parseSheetList(workbook: Array[Byte]): Vector[(String, String)] = {
    val r = xmlReader(workbook)
    val out = Vector.newBuilder[(String, String)]
    try while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet") {
        var name: String = null; var rid: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          val ln = r.getAttributeLocalName(i)
          if (ln == "name") name = r.getAttributeValue(i)
          else if (ln == "id") rid = r.getAttributeValue(i) // r:id
          i += 1
        }
        if (name != null) out += (name -> (if (rid == null) "" else rid))
      }
    } finally r.close()
    out.result()
  }

  /** relationship id -> target (relative to xl/) from workbook.xml.rels. */
  private def parseRels(rels: Array[Byte]): Map[String, String] = {
    val r = xmlReader(rels)
    val out = Map.newBuilder[String, String]
    try while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
        var id: String = null; var target: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          val ln = r.getAttributeLocalName(i)
          if (ln == "Id") id = r.getAttributeValue(i)
          else if (ln == "Target") target = r.getAttributeValue(i)
          i += 1
        }
        if (id != null && target != null) out += (id -> target)
      }
    } finally r.close()
    out.result()
  }

  /** Shared-string table: each <si> is the concatenation of its <t> runs. */
  private def parseSharedStrings(ss: Array[Byte]): Vector[String] = {
    val r = xmlReader(ss)
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inSi = false; var inT = false; var inRph = false
    try while (r.hasNext) r.next() match {
      case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "si" => inSi = true; cur.clear()
          // phonetic guide runs (<rPh>, furigana in Japanese workbooks)
          // carry their own <t> children that are NOT part of the value
          case "rPh" => inRph = true
          case "t" if inSi && !inRph => inT = true
          case _ => ()
        }
      case javax.xml.stream.XMLStreamConstants.CHARACTERS |
           javax.xml.stream.XMLStreamConstants.CDATA if inT =>
        cur.append(r.getText)
      case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "t" => inT = false
          case "rPh" => inRph = false
          case "si" => inSi = false; out += cur.toString
          case _ => ()
        }
      case _ => ()
    } finally r.close()
    out.result()
  }

  /** Worksheet rows. Cell types per ECMA-376 §18.3.1.4: t="s" shared string,
    * t="b" boolean, t="inlineStr" inline, t="e" error (→ null), t="str" or
    * absent → the cached/numeric <v> text verbatim.
    */
  private def parseSheet(sheetXml: Array[Byte],
                         shared: Vector[String]): Vector[Array[String]] = {
    val r = xmlReader(sheetXml)
    val rows = Vector.newBuilder[Array[String]]
    var row: java.util.ArrayList[String] = null
    var cellCol = -1        // 0-based column of the current <c>
    var cellType = ""
    var text = new StringBuilder
    var capture = false      // inside <v> or an <is>'s <t>
    var inIs = false
    var isBuf = new StringBuilder // concatenation of an <is>'s <t> runs
    var isHasText = false
    def setCell(v: String): Unit = {
      while (row.size < cellCol) row.add(null)
      if (row.size == cellCol) row.add(v) else row.set(cellCol, v)
    }
    try while (r.hasNext) r.next() match {
      case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "row" => row = new java.util.ArrayList[String]()
          case "c" if row != null =>
            cellType = ""; cellCol = row.size // default: next slot
            var i = 0
            while (i < r.getAttributeCount) {
              val ln = r.getAttributeLocalName(i)
              if (ln == "r") {
                val c = colIndex(r.getAttributeValue(i))
                if (c >= 0) cellCol = c
              } else if (ln == "t") cellType = r.getAttributeValue(i)
              i += 1
            }
          case "is" => inIs = true; isBuf = new StringBuilder; isHasText = false
          case "v" if cellCol >= 0 => capture = true; text = new StringBuilder
          case "t" if inIs => capture = true; text = new StringBuilder
          case _ => ()
        }
      case javax.xml.stream.XMLStreamConstants.CHARACTERS |
           javax.xml.stream.XMLStreamConstants.CDATA if capture =>
        text.append(r.getText)
      case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "row" if row != null =>
            rows += row.toArray(new Array[String](row.size)); row = null
          case "c" => cellCol = -1
          case "is" => // one cell per <is>, all <t> runs concatenated
            inIs = false
            if (isHasText && cellCol >= 0) setCell(isBuf.toString)
          case "v" if capture =>
            capture = false
            val raw = text.toString
            val v = cellType match {
              case "s" =>
                val i = raw.trim.toInt
                if (i >= 0 && i < shared.length) shared(i) else null
              case "b" => if (raw.trim == "1") "true" else "false"
              case "e" => null
              case _ => raw
            }
            if (cellCol >= 0) setCell(v)
          case "t" if capture && inIs =>
            // a rich-text <is> holds one <t> per run: accumulate, set at </is>
            capture = false
            isBuf.append(text); isHasText = true
          case _ => ()
        }
      case _ => ()
    } finally r.close()
    rows.result()
  }

  /** "BC12" → 0-based column 54; -1 when the ref has no letters. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0; var acc = 0; var any = false
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); any = true; i += 1
    }
    if (any) acc - 1 else -1
  }

  /** 0-based column → letters ("A", "Z", "AA", ...). */
  private[graft] def colLetters(idx: Int): String = {
    var n = idx + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  // ----------------------------------------------------------------- write

  /** Write `df` as one .xlsx workbook with a header row. Numeric and boolean
    * columns become native cells; everything else (dates and timestamps
    * included — deterministic ISO strings beat Excel's styled serial
    * numbers) becomes an inline string; nulls are absent cells. Streams via
    * `toLocalIterator` — one pass, no full collect — but necessarily a
    * single file: the format caps a sheet at 1,048,576 rows, so "big" Excel
    * data is a directory of workbooks (see `read` and [[writeSharded]]).
    */
  def write(df: DataFrame, file: String, sheetName: String = "Sheet1"): Unit = {
    val p = java.nio.file.Paths.get(file)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val os = java.nio.file.Files.newOutputStream(p)
    val it = df.toLocalIterator()
    try writeWorkbook(df.schema,
      new Iterator[Row] { def hasNext = it.hasNext; def next() = it.next() },
      os, sheetName)
    finally os.close()
  }

  /** Distributed Excel sink: one workbook per partition, written
    * executor-side in parallel — the write analog of `read`'s
    * directory-of-workbooks path, and the only way Excel output scales
    * (each file stays under the format's row cap; repartition upstream to
    * size the shards). Files land as `part-NNNNN.xlsx` under `dir` via the
    * Hadoop FileSystem for the path's scheme.
    */
  def writeSharded(df: DataFrame, dir: String, sheetName: String = "Sheet1"): Unit = {
    val schema = df.schema
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(dir))
    // Ship the SESSION'S Hadoop conf to the executors (S3A credentials,
    // fs.defaultFS, endpoint overrides); a bare `new Configuration()` there
    // would silently resolve a differently-configured filesystem.
    val confBc = df.sparkSession.sparkContext.broadcast(
      new SerializableConfiguration(df.sparkSession.sessionState.newHadoopConf()))
    df.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      SourceFiles.writeTaskFile(
        new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.xlsx"), confBc.value.value) {
        os => writeWorkbook(schema, it, os, sheetName)
      }
    }
  }

  /** Stream one workbook (header + rows) onto `os`. Serializable-safe: used
    * both driver-side (write) and executor-side (writeSharded).
    */
  private def writeWorkbook(schema: org.apache.spark.sql.types.StructType,
                            rows: Iterator[Row], os: OutputStream,
                            sheetName: String): Unit = {
    val rowCap = 1048576
    val zos = new ZipOutputStream(os)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """</Types>""")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="${escAttr(sheetName)}" sheetId="1" r:id="rId1"/></sheets>""" +
        """</workbook>""")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """</Relationships>""")

      zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      val w: OutputStream = zos
      def emit(s: String): Unit = w.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      emit("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      emit("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      var rowNum = 1
      def emitRow(cells: Seq[(Int, String)]): Unit = { // (colIdx, cellXml)
        emit(s"""<row r="$rowNum">""")
        cells.foreach { case (_, xml) => emit(xml) }
        emit("</row>")
        rowNum += 1
      }
      def ref(i: Int) = s"${colLetters(i)}$rowNum"
      emitRow(schema.fieldNames.toIndexedSeq.zipWithIndex.map { case (name, i) =>
        i -> s"""<c r="${ref(i)}" t="inlineStr"><is><t xml:space="preserve">${escText(name)}</t></is></c>"""
      })
      while (rows.hasNext) {
        require(rowNum <= rowCap,
          s"xlsx sheet cap ($rowCap rows) exceeded; write a directory of workbooks instead")
        val row: Row = rows.next()
        val cells = (0 until schema.length).flatMap { i =>
          if (row.isNullAt(i)) None
          else Some(i -> cellXml(ref(i), row.get(i)))
        }
        emitRow(cells)
      }
      emit("</sheetData></worksheet>")
      zos.closeEntry()
    } finally zos.close()
  }

  private def cellXml(ref: String, v: Any): String = v match {
    case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case d: java.math.BigDecimal => s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
    case d: scala.math.BigDecimal => s"""<c r="$ref"><v>${d.bigDecimal.toPlainString}</v></c>"""
    case other =>
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${escText(other.toString)}</t></is></c>"""
  }

  /** XML 1.0 text escape. CR must go out as `&#13;` (a literal CR is
    * line-end-normalized to LF by every conformant parser, so "\r" would
    * round-trip as "\n"); tab and LF are representable raw; every other
    * C0 control character is unrepresentable in XML 1.0 EVEN AS a char
    * reference, so we fail fast instead of emitting a workbook this very
    * reader (or Excel) would reject.
    */
  private[graft] def escText(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '\r' => sb.append("&#13;")
        case c if c < 0x20 && c != '\t' && c != '\n' =>
          throw new IllegalArgumentException(
            f"cell text contains control character U+${c.toInt}%04X, " +
              "which XML 1.0 (and therefore xlsx) cannot represent")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def escAttr(s: String): String =
    escText(s).replace("\"", "&quot;")
}
