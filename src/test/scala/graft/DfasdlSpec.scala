package graft

import graft.pipeline.Pipeline
import graft.sources.Dfasdl
import graft.functions.Transformers
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The cookbook front-end: a migrating reference user feeds their DFASDL +
  * cookbook documents in and gets the same pipelines they would hand-write.
  * Each fixture cookbook's compiled output is compared against a hand-built
  * Pipeline twin — equality of results, not just of shapes.
  */
class DfasdlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(name: String): String =
    scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/dfasdl/$name"), "UTF-8").mkString

  private def tmpCsv(name: String, content: String): String = {
    val f = Files.createTempFile(name, ".csv")
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("parseSchema maps DFASDL element types per SURVEY §3") {
    val doc = Dfasdl.parseSchema(fixture("cookbook-sales.xml")
      .split("<source>")(1).split("</source>")(0))
    assert(doc.schema == StructType(Seq(
      StructField("quantity", LongType),
      StructField("amount", DoubleType),
      StructField("soldat", TimestampType),
      StructField("channel", StringType))))
    assert(doc.preamble.isEmpty)
  }

  test("parseSchema: preamble header + elem descent (people fixture)") {
    val cb = Dfasdl.parseCookbook(fixture("cookbook-people.xml"))
    assert(cb.source.preamble.map(_.id) == Seq("header"))
    assert(cb.source.schema.fieldNames.toSeq ==
      Seq("firstname", "lastname", "email", "birthday"))
    assert(cb.source.schema("birthday").dataType == DateType)
  }

  test("validate flags duplicate ids and missing formattime format") {
    val bad =
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL">
        |<seq id="s"><elem id="e">
        |  <str id="a"/><str id="a"/><formattime id="t"/>
        |</elem></seq></dfasdl>""".stripMargin
    val errs = Dfasdl.validate(bad)
    assert(errs.exists(_.contains("duplicate element id: a")), errs)
    assert(errs.exists(_.contains("formattime t has no format")), errs)
    assert(Dfasdl.validate(fixture("cookbook-people.xml")
      .split("<source>")(1).split("</source>")(0)).isEmpty)
  }

  test("readDelimited honors header, stop-sign, formatnum and formattime") {
    val doc = Dfasdl.parseSchema(fixture("cookbook-sales.xml")
      .split("<source>")(1).split("</source>")(0))
    val path = tmpCsv("sales",
      "3;1.500.000,83;15/01/2024 09:30;Web\n12;99,50;16/01/2024 10:00;Store\n")
    val rows = Dfasdl.readDelimited(spark, path, doc)
      .orderBy("quantity").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getLong(0) == 3L)
    assert(math.abs(r0.getDouble(1) - 1500000.83) < 1e-9, r0.getDouble(1))
    assert(r0.getTimestamp(2).toString.startsWith("2024-01-15 09:30"), r0)
    assert(r0.getString(3) == "Web")
    assert(rows(1).getDouble(1) == 99.50)
  }

  test("people cookbook compiles to the hand-built pipeline twin") {
    val cb = Dfasdl.parseCookbook(fixture("cookbook-people.xml"))
    val path = tmpCsv("people",
      "firstname,lastname,email,birthday\n" +
        "Ada,Lovelace,ada@example.com,1815-12-10\n" +
        "Alan,Turing,alan@other.net,1912-06-23\n")
    val src = Dfasdl.readDelimited(spark, path, cb.source)
    val got = Dfasdl.applyCookbook(src, cb)

    // the twin a user would write directly against Pipeline
    val twin = src.select(Pipeline.Recipe(Seq(
      Pipeline.oneToOne("vorname", "firstname", upper),
      Pipeline.oneToOne("nachname", "lastname", upper),
      Pipeline.oneToOne("email", "email",
        c => Transformers.replaceAllOf(c, Seq("@example\\.com"), "@example.org")),
      Pipeline.oneToOne("birthday", "birthday"),
      Pipeline.allToAll("fullname", Seq("firstname", "lastname"),
        cols => Transformers.concatAll(" ", "", "", cols: _*))
    )).columns: _*)

    assert(got.columns.toSeq ==
      Seq("vorname", "nachname", "email", "birthday", "fullname"))
    assert(got.collect().toSeq == twin.collect().toSeq)
    val byName = got.orderBy("vorname").collect()
    assert(byName(0) == Row("ADA", "LOVELACE", "ada@example.org",
      java.sql.Date.valueOf("1815-12-10"), "Ada Lovelace"))
  }

  test("sales cookbook compiles to the hand-built pipeline twin") {
    val cb = Dfasdl.parseCookbook(fixture("cookbook-sales.xml"))
    val path = tmpCsv("sales2",
      "3;100,00;15/01/2024 09:30;Web\n12;99,50;16/01/2024 10:00;STORE\n")
    val src = Dfasdl.readDelimited(spark, path, cb.source)
    val got = Dfasdl.applyCookbook(src, cb)

    val twin = src.select(Pipeline.Recipe(Seq(
      Pipeline.oneToOne("quantity_banded", "quantity",
        c => Transformers.ifThenElseNumeric(c, "x>10", "x=10", "x")),
      Pipeline.oneToOne("channel", "channel", lower),
      Pipeline.generated("source_system", Transformers.overwrite("legacy-pos"))
    )).columns: _*)

    assert(got.collect().toSeq == twin.collect().toSeq)
    val rows = got.orderBy("quantity_banded").collect()
    assert(rows(0) == Row(3L, "web", "legacy-pos"))
    assert(rows(1) == Row(10L, "store", "legacy-pos")) // 12 banded to 10
  }

  test("whole compiled cookbook is one projection over the scan (plan shape)") {
    val cb = Dfasdl.parseCookbook(fixture("cookbook-people.xml"))
    val path = tmpCsv("people2", "firstname,lastname,email,birthday\nA,B,c@d.e,2000-01-01\n")
    val plan = Dfasdl.applyCookbook(Dfasdl.readDelimited(spark, path, cb.source), cb)
      .queryExecution.executedPlan.toString
    // no exchange anywhere: the cookbook fused into the scan's projection
    assert(!plan.contains("Exchange"), plan)
  }

  test("cookbook applies unchanged to a delimited drop-directory stream") {
    val cb = Dfasdl.parseCookbook(fixture("cookbook-people.xml"))
    val dir = Files.createTempDirectory("dfasdl_stream").toString
    Files.write(Paths.get(dir, "batch1.csv"),
      ("firstname,lastname,email,birthday\n" +
        "Ada,Lovelace,ada@example.com,1815-12-10\n" +
        "Alan,Turing,alan@other.net,1912-06-23\n").getBytes("UTF-8"))
    val streamed = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.applyCookbook(
        Dfasdl.readDelimitedStream(spark, dir, cb.source), cb),
      "dfasdl_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().toSet
    val batch = Dfasdl.applyCookbook(
      Dfasdl.readDelimited(spark, dir, cb.source), cb).collect().toSet
    assert(streamed == batch && streamed.size == 2)
  }

  test("a cookbook compiles over a token-stream source (r9)") {
    // the r9 reader slots under the cookbook front-end unchanged: a vCard-
    // shaped source document + a one-to-one recipe with a transformer
    val cbXml =
      """<cookbook id="VCARD-CB">
        |  <source>
        |    <dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="VS"
        |            default-encoding="utf-8" semantic="niem">
        |      <seq id="s"><elem id="r">
        |        <str class="label" stop-sign=":"/>
        |        <str id="full_name"/>
        |        <str class="label" stop-sign=":"/>
        |        <str id="mail"/>
        |      </elem></seq>
        |    </dfasdl>
        |  </source>
        |  <recipe id="COPY" mode="one-to-one">
        |    <mapping>
        |      <sources>full_name</sources>
        |      <targets>name_uc</targets>
        |      <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
        |        <option name="perform" value="upper"/>
        |      </transformation>
        |    </mapping>
        |    <mapping><sources>mail</sources><targets>mail</targets></mapping>
        |  </recipe>
        |</cookbook>""".stripMargin
    val cb = Dfasdl.parseCookbook(cbXml)
    val dir = Files.createTempDirectory("vcard_cb").toString
    Files.write(Paths.get(dir, "a.txt"),
      "FN:Ada Lovelace\nEMAIL:ada@example.com\nFN:Alan Turing\nEMAIL:alan@other.net\n"
        .getBytes("UTF-8"))
    import spark.implicits._
    val got = Dfasdl.applyCookbook(Dfasdl.readDelimited(spark, dir, cb.source), cb)
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("ADA LOVELACE", "ada@example.com"),
      ("ALAN TURING", "alan@other.net")), got.toString)
  }

  test("fixed-width DFASDL (length attributes) reads through the fixed-width source") {
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="FW">
        |  <seq id="rows"><elem id="row">
        |    <num id="id" length="6"/>
        |    <str id="name" length="10"/>
        |    <formatnum id="amount" length="9"/>
        |    <date id="day" length="10"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    val f = Files.createTempFile("fw", ".txt")
    def line(vs: (String, Int)*): String = vs.map { case (v, w) => v.padTo(w, ' ') }.mkString
    Files.write(f, (
      line("1" -> 6, "alpha" -> 10, "10.25" -> 9, "2024-01-01" -> 10) + "\n" +
      line("2" -> 6, "beta" -> 10, "-99.5" -> 9, "2024-01-02" -> 10) + "\n" +
      // r9: a malformed numeric/date slice nulls (PERMISSIVE-style); an
      // unguarded ANSI cast used to kill the whole job
      line("3" -> 6, "gamma" -> 10, "oops" -> 9, "not-a-date" -> 10) + "\n")
      .getBytes("UTF-8"))
    val rows = Dfasdl.readFixedWidth(spark, f.toString, doc)
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3) &&
      rows(2).getString(1) == "gamma")
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha")
    assert(rows(0).getDouble(2) == 10.25)
    assert(rows(0).getDate(3) == java.sql.Date.valueOf("2024-01-01"))
    assert(rows(1).getDouble(2) == -99.5)
    // a field without length fails fast with the field named
    val noLen = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL">
        |  <seq id="s"><elem id="e"><str id="a" length="3"/><str id="b"/></elem></seq>
        |</dfasdl>""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      Dfasdl.readFixedWidth(spark, f.toString, noLen)
    }
    assert(err.getMessage.contains("b has none"))
  }

  test("emit produces a DFASDL document that parses back to the same schema") {
    val s = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType), StructField("born", DateType),
      StructField("seen", TimestampType), StructField("blob", BinaryType)))
    val doc = Dfasdl.parseSchema(Dfasdl.emit(s, id = "RT", header = true))
    assert(doc.id == "RT")
    assert(doc.preamble.map(_.id) == Seq("header"))
    assert(doc.schema == s)
    // non-mappable types are rejected, not silently stringified
    intercept[IllegalArgumentException] {
      Dfasdl.emit(StructType(Seq(StructField("a", ArrayType(LongType)))))
    }
    // integer widths widen to num/long (DFASDL has one integer kind)
    val widened = Dfasdl.parseSchema(Dfasdl.emit(
      StructType(Seq(StructField("n", IntegerType)))))
    assert(widened.schema("n").dataType == LongType)
  }

  // mirrors the reference fixture shape at
  // src/test/resources/.../parsers/FileParsers/CSV/choice-02.xml: three
  // choices of num-vs-str branches over a ";"-delimited record
  private val choiceDoc =
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" default-encoding="utf-8">
      |  <seq id="test">
      |    <elem id="account_list">
      |      <choice id="field1">
      |        <celem id="f1-c1"><num stop-sign=";" id="num-field1"/></celem>
      |        <celem id="f1-c2"><str stop-sign=";" id="str-field1"/></celem>
      |      </choice>
      |      <choice id="field2">
      |        <celem id="f2-c1"><num stop-sign=";" id="num-field2"/></celem>
      |        <celem id="f2-c2"><str stop-sign=";" id="str-field2"/></celem>
      |      </choice>
      |      <choice id="field3">
      |        <celem id="f3-c1"><num id="num-field3"/></celem>
      |        <celem id="f3-c2"><str id="str-field3"/></celem>
      |      </choice>
      |    </elem>
      |  </seq>
      |</dfasdl>""".stripMargin

  test("choice: parseSchema models branches as one slot with nullable branch leaves") {
    val d = Dfasdl.parseSchema(choiceDoc)
    assert(d.slots.size == 3)
    assert(d.slots.forall(_.isInstanceOf[Dfasdl.ChoiceSlot]))
    assert(d.fields.map(_.id) == Seq("num-field1", "str-field1",
      "num-field2", "str-field2", "num-field3", "str-field3"))
    assert(d.schema("num-field1").dataType == LongType)
    assert(d.schema("str-field3").dataType == StringType)
  }

  test("choice: readDelimited dispatches each record to its first parsing branch") {
    // the reference's choice-02 expected data: record 1 picks num/str/str,
    // record 2 picks num/str/num (field3 "42" parses as num, "test01" not)
    val path = tmpCsv("choice", "01;booyah;test01\n02;aliG;42\n")
    val d = Dfasdl.parseSchema(choiceDoc)
    val rows = Dfasdl.readDelimited(spark, path, d)
      .orderBy("num-field1").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[Long]("num-field1") == 1L && r1.isNullAt(r1.fieldIndex("str-field1")))
    assert(r1.getAs[String]("str-field2") == "booyah" && r1.isNullAt(r1.fieldIndex("num-field2")))
    assert(r1.getAs[String]("str-field3") == "test01" && r1.isNullAt(r1.fieldIndex("num-field3")))
    val r2 = rows(1)
    assert(r2.getAs[Long]("num-field1") == 2L)
    assert(r2.getAs[String]("str-field2") == "aliG")
    assert(r2.getAs[Long]("num-field3") == 42L && r2.isNullAt(r2.fieldIndex("str-field3")))
  }

  test("choice: writeDelimited renders the populated branch and round-trips") {
    val path = tmpCsv("choice_rt", "01;booyah;test01\n02;aliG;42\n")
    val d = Dfasdl.parseSchema(choiceDoc)
    val df = Dfasdl.readDelimited(spark, path, d)
    val out = Files.createTempDirectory("choice_out").toString + "/data"
    Dfasdl.writeDelimited(df, d, out)
    val back = Dfasdl.readDelimited(spark, out, d)
    assert(back.orderBy("num-field1").collect().toSeq ==
      df.orderBy("num-field1").collect().toSeq)
  }

  test("choice: a multi-leaf branch among other slots reads record-scope (r12)") {
    // Pre-r12 this shape was the LAST typed reject of the reference's
    // BaseParser choice machinery ("holds 2 leaves"): a record mixing
    // plain leaves with a choice whose branch pairs a start-sign label
    // with a value (BaseParser.scala:244 offset-reset retry). The r12
    // reader frames records by a branch-combination alternation and
    // dispatches each record to the first combination that fully parses —
    // type failures fall through to the next branch, like the reference's
    // BROKEN-leaf rewind.
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="rec_id" stop-sign=";"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str class="label" start-sign="K" stop-sign=":"/>
        |      <str id="k_value" stop-sign=";"/>
        |    </celem>
        |    <celem id="numeric"><num id="n_value" stop-sign=";"/></celem>
        |    <celem id="fallback"><str id="s_value" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("choicestream").toString
    Files.write(Paths.get(dir, "a.txt"),
      "1;K:alpha;tail one\n2;42;tail two\n3;notnum;tail three\n"
        .getBytes("UTF-8"))
    val df = Dfasdl.readDelimited(spark, dir, d)
    assert(df.columns.toSeq ==
      Seq("rec_id", "k_value", "n_value", "s_value", "tail"))
    assert(df.schema("n_value").dataType == LongType, df.schema.treeString)
    val rows = df.orderBy("rec_id").collect()
    assert(rows.length == 3, rows.mkString("; "))
    def cells(r: Row) = (1 to 4).map(i =>
      if (r.isNullAt(i)) null else r.get(i))
    // record 1: the labeled branch (start-sign K) wins; others null
    assert(rows(0).getLong(0) == 1L &&
      cells(rows(0)) == Seq("alpha", null, null, "tail one"),
      rows(0).toString)
    // record 2: labeled fails on shape, numeric parses "42" as num
    assert(rows(1).getLong(0) == 2L &&
      cells(rows(1)) == Seq(null, 42L, null, "tail two"), rows(1).toString)
    // record 3: numeric SHAPE-matches but the typed parse fails — the
    // reference's BROKEN retry, not a silent null in the num branch
    assert(rows(2).getLong(0) == 3L &&
      cells(rows(2)) == Seq(null, null, "notnum", "tail three"),
      rows(2).toString)
    // streaming twin: identical rows out of the same directory
    val streamed = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.readDelimitedStream(spark, dir, d), "choicestream_r12",
      org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
    assert(streamed == df.collect().toSet, streamed.toString)
    // the combination cap is a typed error, not a hang: a 2-branch plus
    // six 3-branch choices expand to 2·3^6 = 1458 combinations
    val wide = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str id="lead" stop-sign=";"/>
        |  <choice id="c1"><celem id="two">
        |    <str class="label" stop-sign=":"/><str id="v1" stop-sign=";"/>
        |  </celem><celem id="one"><str id="w1" stop-sign=";"/></celem></choice>
        |""".stripMargin +
        (2 to 7).map(i =>
          s"""  <choice id="c$i"><celem id="a$i"><num id="n$i" stop-sign=";"/></celem>
             |  <celem id="b$i"><str id="s$i" stop-sign=";"/></celem>
             |  <celem id="d$i"><date id="t$i" stop-sign=";"/></celem></choice>
             |""".stripMargin).mkString +
        "</elem></seq></dfasdl>")
    val e = intercept[IllegalArgumentException](
      Dfasdl.readDelimited(spark, dir, wide))
    assert(e.getMessage.contains("branch combinations"), e.getMessage)
  }

  test("choice: two choices cross-product in backtracking order (r12)") {
    // two independent choices in one record = 4 branch combinations; a
    // sequential parser commits to the earliest branches and rewinds the
    // LAST choice first, so combination order must vary the second choice
    // fastest. The mid plain field sits in every combination and must
    // surface from whichever one wins.
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <choice id="c1">
        |    <celem id="labeled">
        |      <str class="label" start-sign="L" stop-sign=":"/>
        |      <str id="lv" stop-sign=";"/>
        |    </celem>
        |    <celem id="numeric"><num id="n1" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="mid" stop-sign=";"/>
        |  <choice id="c2">
        |    <celem id="num2"><num id="n2"/></celem>
        |    <celem id="str2"><str id="s2"/></celem>
        |  </choice>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("choicestream2").toString
    Files.write(Paths.get(dir, "a.txt"),
      "L:alpha;m1;7\nL:beta;m2;seven\n11;m3;8\n12;m4;eight\n"
        .getBytes("UTF-8"))
    val got = Dfasdl.readDelimited(spark, dir, d)
      .orderBy("mid").collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toList).toList
    // columns: lv, n1, mid, n2, s2
    assert(got == List(
      List("alpha", null, "m1", 7L, null),
      List("beta", null, "m2", null, "seven"),
      List(null, 11L, "m3", 8L, null),
      List(null, 12L, "m4", null, "eight")), got.toString)
  }

  test("choice: record-scope reads survive CRLF records and regex-class stop-signs (r12)") {
    // stop-signs are regex FRAGMENTS (the reference interpolates them into
    // its patterns verbatim), so a character-class sign like [;|] must
    // split on either byte; and the sign-less final leaf's newline default
    // must consume \r\n pairs without leaking the \r into the value
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="okey" stop-sign="[;|]"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str class="label" start-sign="K" stop-sign=":"/>
        |      <str id="kv_val" stop-sign="[;|]"/>
        |    </celem>
        |    <celem id="plain"><num id="nv" stop-sign="[;|]"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("choicestream_crlf").toString
    Files.write(Paths.get(dir, "a.txt"),
      "1;K:alpha|t1\r\n2|7;t2\r\n3;K:beta;t3\r\n".getBytes("UTF-8"))
    val got = Dfasdl.readDelimited(spark, dir, d)
      .orderBy("okey").collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toList).toList
    assert(got == List(
      List(1L, "alpha", null, "t1"),
      List(2L, null, 7L, "t2"),
      List(3L, "beta", null, "t3")), got.toString)
    // no \r leaked into any tail value (the CRLF default consumed it)
    assert(got.forall(r => !r(3).asInstanceOf[String].contains("\r")))
  }

  test("choice: a record type-failing every combination is dropped, not an all-null row (r12)") {
    // review-caught: a record that shape-frames but fails every branch's
    // typed parse previously coalesced to null in EVERY column — plain
    // fields that parsed fine included — a phantom row inflating counts.
    // The reference parser would mark it BROKEN; the bulk convention
    // (readTokenStream's record skip) is to surface well-formed records
    // only, so the dispatch now drops it.
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="okey" stop-sign=";"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str class="label" start-sign="K" stop-sign=":"/>
        |      <str id="kv_val" stop-sign=";"/>
        |    </celem>
        |    <celem id="plain"><num id="nv" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("choicestream_drop").toString
    Files.write(Paths.get(dir, "a.txt"),
      "1;42;t1\n2;xx;t2\n3;K:v;t3\n".getBytes("UTF-8"))
    val rows = Dfasdl.readDelimited(spark, dir, d).orderBy("okey").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      rows.mkString("; ")) // record 2: no branch parses "xx" — dropped
    assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(3)))
  }

  test("choice: record-scope write fails loudly on a no-branch record (r12)") {
    // review-caught: an all-branches-null record rendered the choice slot
    // EMPTY (no token, no stop-sign) — a malformed record the read side
    // silently drops; the writer now raises instead
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="okey" stop-sign=";"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str id="k_label" start-sign="K" stop-sign=":"/>
        |      <str id="k_value" stop-sign=";"/>
        |    </celem>
        |    <celem id="plain"><num id="nv" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    import spark.implicits._
    val bad = Seq(
        (1L, Option.empty[String], Option.empty[String], Some(7L), "t"),
        (2L, Option.empty[String], Option.empty[String], Option.empty[Long], "t"))
      .toDF("okey", "k_label", "k_value", "nv", "tail")
    val out = Files.createTempDirectory("choicestream_badout").toString + "/d"
    val e = intercept[Throwable](Dfasdl.writeDelimited(bad, d, out))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("populates no branch")),
      messages(e).mkString(" | "))
  }

  test("choice: record-scope write renders the populated branch and round-trips (r12)") {
    // the label leaf is NAMED here (unlike the read test's anonymous one)
    // so its bytes survive the write and the start-sign re-anchors on the
    // second read — the writer scaladoc's write∘read inversion condition
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="rec_id" stop-sign=";"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str id="k_label" start-sign="K" stop-sign=":"/>
        |      <str id="k_value" stop-sign=";"/>
        |    </celem>
        |    <celem id="numeric"><num id="n_value" stop-sign=";"/></celem>
        |    <celem id="fallback"><str id="s_value" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("choicestream_rt").toString
    Files.write(Paths.get(dir, "a.txt"),
      "1;K:alpha;tail one\n2;42;tail two\n3;zz top;tail three\n"
        .getBytes("UTF-8"))
    val df = Dfasdl.readDelimited(spark, dir, d)
    val out = Files.createTempDirectory("choicestream_out").toString + "/data"
    Dfasdl.writeDelimited(df, d, out)
    val back = Dfasdl.readDelimited(spark, out, d)
    assert(back.count() == 3)
    assert(back.collect().toSet == df.collect().toSet,
      back.collect().mkString("; "))
  }

  test("choice: XML reads dispatch by element presence (branch leaves are optional)") {
    // self-describing formats need no token dispatch: each record carries
    // the matched branch's ELEMENT and omits the others — the reference's
    // XmlFileParser resolves the choice the same way (vCard choice-01)
    val dir = Files.createTempDirectory("dfasdl_choice_xml")
    Files.write(Paths.get(dir.toString, "recs.xml"),
      """<recs>
        |  <rec><k>1</k><num-v>42</num-v></rec>
        |  <rec><k>2</k><str-v>hello</str-v></rec>
        |</recs>""".stripMargin.getBytes("UTF-8"))
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="recs">
        |  <elem id="rec">
        |    <num id="k"/>
        |    <choice id="v">
        |      <celem id="vn"><num id="num-v"/></celem>
        |      <celem id="vs"><str id="str-v"/></celem>
        |    </choice>
        |  </elem>
        |</seq></dfasdl>""".stripMargin)
    val rows = Dfasdl.readXml(spark, dir.toString, doc).orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("num-v") == 42L && rows(0).isNullAt(rows(0).fieldIndex("str-v")))
    assert(rows(1).getAs[String]("str-v") == "hello" && rows(1).isNullAt(rows(1).fieldIndex("num-v")))
  }

  test("choice: multi-leaf line records dispatch by start-sign (email-header shape)") {
    // the reference's Email/email-01.xml: each RECORD is one "Label: value"
    // line; every branch pairs a start-sign-anchored label leaf (stop-sign
    // ":") with a trimmed value leaf, plus a generic catch-all branch last.
    // Branches try in order; the first whose pattern matches the line wins.
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="headers">
        |  <choice id="header">
        |    <celem id="from">
        |      <str id="fromLabel" start-sign="From" stop-sign=":"/>
        |      <str id="fromValue" trim="both"/>
        |    </celem>
        |    <celem id="subject">
        |      <str id="subjectLabel" start-sign="Subject" stop-sign=":"/>
        |      <str id="subjectValue" trim="both"/>
        |    </celem>
        |    <celem id="generic">
        |      <str id="genericLabel" stop-sign=":"/>
        |      <str id="genericValue" trim="both"/>
        |    </celem>
        |  </choice>
        |</seq></dfasdl>""".stripMargin)
    assert(d.fields.map(_.id) == Seq("fromLabel", "fromValue", "subjectLabel",
      "subjectValue", "genericLabel", "genericValue"))
    val path = tmpCsv("email",
      "From: alice@example.com\nSubject: greetings\nX-Custom: zzz\n")
    val df = Dfasdl.readDelimited(spark, path, d)
    val rows = df.collect()
    assert(rows.length == 3)
    val byLabel = rows.map { r =>
      val vals = d.fields.map(f => Option(r.getAs[String](f.id)))
      vals.flatten.mkString("|")
    }.toSet
    assert(byLabel == Set("From|alice@example.com", "Subject|greetings",
      "X-Custom|zzz"))
    // write side: the populated branch renders value + literal stop-sign
    val out = Files.createTempDirectory("emailout").toString
    Dfasdl.writeDelimited(df, d, out)
    val back = Dfasdl.readDelimited(spark, out, d)
    assert(back.orderBy("genericLabel", "fromLabel", "subjectLabel").collect()
      .toSeq.map(_.toString).sorted ==
      df.orderBy("genericLabel", "fromLabel", "subjectLabel").collect()
      .toSeq.map(_.toString).sorted)
    val badBranch =
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s">
        |  <choice id="c"><str id="n"/></choice>
        |</seq></dfasdl>""".stripMargin
    val e2 = intercept[IllegalArgumentException](Dfasdl.parseSchema(badBranch))
    assert(e2.getMessage.contains("celem"))
  }

  test("cookbook target defaults (defaultnum/defaultstr) fill empty mapped data") {
    // reference: MappingOneToOneWorker substitutes the TARGET element's
    // defaultnum/defaultstr when the mapped source value is None or empty
    // (ProcessorHelpers.getDefaultValue); ~400 corpus attributes use this
    val cb = Dfasdl.parseCookbook(
      """<cookbook id="defaults">
        |  <source><dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="src">
        |    <seq id="rows"><elem id="row">
        |      <str id="name"/><str id="qty"/><str id="status"/>
        |    </elem></seq>
        |  </dfasdl></source>
        |  <target><dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="tgt">
        |    <seq id="trows"><elem id="trow">
        |      <str id="t_name"/>
        |      <num id="t_qty" defaultnum="0"/>
        |      <str id="t_status" defaultstr="open"/>
        |    </elem></seq>
        |  </dfasdl></target>
        |  <recipe id="r" mode="one-to-one">
        |    <mapping><sources>name</sources><targets>t_name</targets></mapping>
        |    <mapping><sources>qty</sources><targets>t_qty</targets>
        |      <transformation class="com.wegtam.tensei.agent.transformers.CastStringToLong"/>
        |    </mapping>
        |    <mapping><sources>status</sources><targets>t_status</targets></mapping>
        |  </recipe>
        |</cookbook>""".stripMargin)
    val path = tmpCsv("defaults", "bob,7,done\nann,,\n")
    val df = Dfasdl.applyCookbook(
      Dfasdl.readDelimited(spark, path, cb.source), cb)
    val rows = df.orderBy("t_name").collect()
    assert(rows(0).getString(0) == "ann" && rows(0).getLong(1) == 0L &&
      rows(0).getString(2) == "open") // empty source -> target defaults
    assert(rows(1).getString(0) == "bob" && rows(1).getLong(1) == 7L &&
      rows(1).getString(2) == "done") // populated source passes through
  }

  test("formatstr extracts its format group; unmatched tokens are null") {
    // reference semantics (FileParserFunctions.scala:286-301): apply the
    // format regex, yield group(1) of the first match; a non-match, or a
    // pattern without a capture group, yields no data
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str id="name"/>
        |  <formatstr id="phone" format="(\d{3}-\d{4})"/>
        |  <formatstr id="nogroup" format="\w+"/>
        |</elem></seq></dfasdl>""".stripMargin)
    assert(d.fields.map(_.kind) == Seq("str", "formatstr", "formatstr"))
    assert(d.schema("phone").dataType == StringType)
    val path = tmpCsv("fmtstr",
      "bob,tel 555-1234 x9,abc\nalice,no phone here,def\n")
    val rows = Dfasdl.readDelimited(spark, path, d).orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "alice" && rows(0).isNullAt(1))
    assert(rows(1).getString(1) == "555-1234") // extracted group, not the token
    assert(rows.forall(_.isNullAt(2))) // match without a group yields no data
    val errs = Dfasdl.validate(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s">
        |<elem id="r"><formatstr id="f"/></elem></seq></dfasdl>""".stripMargin)
    assert(errs.exists(_.contains("formatstr f has no format")), errs)
  }

  test("top-level fixseq bounds the batch read and rejects the stream") {
    // the reference maps a fixseq's count straight to LIMIT
    // (DatabaseParser.scala:407); file parsers stop after count iterations
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><fixseq id="rows" count="2">
        |  <elem id="r"><str id="a"/><num id="n"/></elem>
        |</fixseq></dfasdl>""".stripMargin)
    assert(d.rowLimit.contains(2L))
    assert(d.fields.map(_.id) == Seq("a", "n"))
    val path = tmpCsv("fixseqtop", "w,1\nx,2\ny,3\nz,4\n")
    assert(Dfasdl.readDelimited(spark, path, d).count() == 2)
    val e = intercept[IllegalArgumentException](
      Dfasdl.readDelimitedStream(spark, "/tmp", d))
    assert(e.getMessage.contains("unbounded stream"))
  }

  test("nested fixseq count=k expands to per-instance columns") {
    // the reference's own fixture shape (BaseParserTest-08.xml: fixseq
    // count=3 of one str leaf per elem wrapper = three instances per row)
    // explicit stop-signs like the real BaseParserTest-08.xml — since r9 a
    // SIGN-LESS instance-expanded doc dispatches to the token-stream
    // reader (one leaf per line, the reference parser's newline default),
    // so the delimited form must say its separator
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="rows">
        |  <elem id="row">
        |    <str id="name" stop-sign=","/>
        |    <fixseq id="columns" count="3">
        |      <elem id="column"><str id="v" stop-sign=","/></elem>
        |    </fixseq>
        |  </elem>
        |</seq></dfasdl>""".stripMargin)
    assert(d.fields.map(_.id) == Seq("name", "v", "v_2", "v_3"))
    val path = tmpCsv("fixseqnested", "bob,p,q,r\nann,s,t,u\n")
    val rows = Dfasdl.readDelimited(spark, path, d).orderBy("name").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))).toSeq == Seq(("ann", "s", "t", "u"), ("bob", "p", "q", "r")))
    // count=1 / absent degenerates to a plain wrapper
    val d1 = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="rows">
        |  <elem id="row"><fixseq id="one"><str id="x"/></fixseq></elem>
        |</seq></dfasdl>""".stripMargin)
    assert(d1.fields.map(_.id) == Seq("x"))
  }

  test("anonymous (id-less) leaves are skip positions: consumed, never surfaced") {
    // the reference's vCard schemas interleave id-less label tokens between
    // value leaves (FileParsers/vCard/complex-01.xml:
    // <str class="label" stop-sign=":"/> before every value)
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label"/>
        |  <str id="version"/>
        |  <str class="label"/>
        |  <num id="count"/>
        |</elem></seq></dfasdl>""".stripMargin)
    assert(d.fields.map(_.id) == Seq("version", "count"))
    assert(d.slots.size == 4) // the skip positions still consume tokens
    val path = tmpCsv("anon", "VERSION,3.0,COUNT,7\nVERSION,2.1,COUNT,9\n")
    val rows = Dfasdl.readDelimited(spark, path, d).orderBy("count").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("3.0", 7L), ("2.1", 9L)))
    // the discarded label values exist only in the source bytes — writes
    // of such documents reject rather than fabricate tokens
    val e = intercept[IllegalArgumentException](
      Dfasdl.writeDelimited(Dfasdl.readDelimited(spark, path, d), d, "/tmp/x"))
    assert(e.getMessage.contains("anonymous"))
  }

  test("line-choice hardening: typed fallthrough, sign capture groups, header skip") {
    // three regressions from the r8 review: (1) a line whose SHAPE matches
    // a branch but whose value fails the leaf's typed parse must fall
    // through to the next branch (ANSI cast would otherwise kill the job);
    // (2) a start-sign carrying its own capture group must not shift which
    // group the value leaf reads; (3) a declared preamble means the first
    // line of the file is a header, not a record
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL">
        |<str id="header"/>
        |<seq id="lines">
        |  <choice id="line">
        |    <celem id="order">
        |      <str id="order_label" start-sign="(O|o)rder" stop-sign=":"/>
        |      <num id="order_value" trim="both"/>
        |    </celem>
        |    <celem id="generic">
        |      <str id="gen_label" stop-sign=":"/>
        |      <str id="gen_value" trim="both"/>
        |    </celem>
        |  </choice>
        |</seq></dfasdl>""".stripMargin)
    val path = tmpCsv("linehard",
      "THE HEADER LINE\nOrder: 42\norder: nope\nMisc: x\n")
    val rows = Dfasdl.readDelimited(spark, path, d).collect()
    assert(rows.length == 3) // header line consumed, not dispatched
    val asTuples = rows.map(r => (Option(r.getAs[String]("order_label")),
      Option(r.getAs[Any]("order_value")),
      Option(r.getAs[String]("gen_label")),
      Option(r.getAs[String]("gen_value")))).toSet
    assert(asTuples == Set(
      (Some("Order"), Some(42L), None, None), // capture-group sign, right value
      (None, None, Some("order"), Some("nope")), // typed fallthrough to generic
      (None, None, Some("Misc"), Some("x"))))
  }

  test("anonymous leaves in choice branches and fixseq instances: typed guards") {
    // a skip leaf inside a branch never surfaces, and two parses of the
    // same document agree on synthetic ids (deterministic renumbering)
    val xml =
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str/>
        |  <str id="v"/>
        |</elem></seq></dfasdl>""".stripMargin
    val d1 = Dfasdl.parseSchema(xml)
    val d2 = Dfasdl.parseSchema(xml)
    assert(d1.slots.map(_.id) == d2.slots.map(_.id)) // deterministic
    assert(d1.fields.map(_.id) == Seq("v"))
    // nested-fixseq repeat instances are positional; keyed readers reject
    val rep = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <fixseq id="cols" count="2"><str id="v"/></fixseq>
        |</elem></seq></dfasdl>""".stripMargin)
    val e = intercept[IllegalArgumentException](
      Dfasdl.readJson(spark, "/dev/null", rep))
    assert(e.getMessage.contains("repeat instances"), e.getMessage)
  }

  test("mixed per-field stop-signs dispatch to the token-stream reader (r9)") {
    // the reference's vCard complex-01.xml alternates ':'-stopped labels
    // with line-stopped values — a token-stream layout the byte-walking
    // parser honors one token at a time; the r9 reader re-expresses it as
    // a whole-record regex over per-file text (pre-r9 this was a typed
    // reject; the vCard fixture test covers the real corpus files)
    import spark.implicits._
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label" stop-sign=":"/>
        |  <str id="version"/>
        |  <str class="label" stop-sign=":"/>
        |  <str id="name"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("tokstream").toString
    Files.write(Paths.get(dir, "a.txt"),
      "VERSION:3.0\nN:Doe;John\nVERSION:4.0\nN:Roe;Jane\n".getBytes("UTF-8"))
    val got = Dfasdl.readDelimited(spark, dir, d)
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("3.0", "Doe;John"), ("4.0", "Roe;Jane")), got.toString)
    // typed leaves coerce from the extracted string token (num → LongType)
    // and malformed tokens null instead of crashing under ANSI
    val dt = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label" stop-sign=":"/>
        |  <num id="qty"/>
        |  <str class="label" stop-sign=":"/>
        |  <str id="who"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir2 = Files.createTempDirectory("tokstream_num").toString
    Files.write(Paths.get(dir2, "a.txt"),
      "QTY:41\nWHO:ada\nQTY:not-a-number\nWHO:alan\n".getBytes("UTF-8"))
    val df2 = Dfasdl.readDelimited(spark, dir2, dt)
    assert(df2.schema("qty").dataType ==
      org.apache.spark.sql.types.LongType, df2.schema.treeString)
    val rows2 = df2.as[(Option[Long], String)].collect().sortBy(_._2).toSeq
    assert(rows2 == Seq((Some(41L), "ada"), (None, "alan")), rows2.toString)
  }

  test("line-anchored stream docs frame by byte-range splits, output unchanged (r14)") {
    // the SOURCESCALE_r13-measured ceiling: wholetext framing made a
    // single giant token/choice-stream file ONE task. Line-anchored docs
    // (every mid-record stop-sign intra-line, record ends at line end)
    // now frame via the splittable line reader. Pins: (1) split == one-
    // split output on the SAME file — the boundary-resync risk; (2) the
    // scan genuinely splits; (3) malformed lines DROP (wholetext never
    // framed them; line framing surfaces them, the null-guard must not
    // emit phantom all-null rows); (4) multi-line-record docs still read
    // whole (fallback, one partition even under tiny split bytes).
    import spark.implicits._
    val tokDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label" stop-sign=":"/>
        |  <num id="okey" stop-sign=";"/>
        |  <str id="prio"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val chDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <num id="okey" stop-sign=";"/>
        |  <choice id="kv">
        |    <celem id="labeled">
        |      <str class="label" start-sign="K" stop-sign=":"/>
        |      <str id="prio" stop-sign=";"/>
        |    </celem>
        |    <celem id="plain"><num id="ck" stop-sign=";"/></celem>
        |  </choice>
        |  <str id="status"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val n = 4000
    val tokDir = Files.createTempDirectory("split_tok").toString
    Files.write(Paths.get(tokDir, "one.txt"),
      ((1 to n).map(i => s"KEY:$i;P$i") ++ Seq("garbage-no-colon-semi", ""))
        .mkString("\n").getBytes("UTF-8"))
    val chDir = Files.createTempDirectory("split_ch").toString
    Files.write(Paths.get(chDir, "one.txt"),
      (1 to n).map(i =>
        if (i % 2 == 0) s"$i;K:P$i;OK" else s"$i;${i * 7L};OK")
        .mkString("\n").getBytes("UTF-8"))
    def withSplitBytes[A](bytes: String)(body: => A): A = {
      val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      val prevCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", bytes)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      try body finally {
        prev.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
          spark.conf.set("spark.sql.files.maxPartitionBytes", _))
        prevCost.fold(spark.conf.unset("spark.sql.files.openCostInBytes"))(
          spark.conf.set("spark.sql.files.openCostInBytes", _))
      }
    }
    // (1)+(2): many byte-range splits vs one split, identical rows
    val (tokSplit, tokParts) = withSplitBytes("4096") {
      val df = Dfasdl.readDelimited(spark, tokDir, tokDoc)
      (df.as[(Long, String)].collect().sortBy(_._1).toSeq,
        df.rdd.getNumPartitions)
    }
    assert(tokParts > 4, s"single file must fan out across splits: $tokParts")
    val tokWhole = withSplitBytes((64L << 20).toString) {
      Dfasdl.readDelimited(spark, tokDir, tokDoc)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    }
    assert(tokSplit == tokWhole && tokSplit.size == n,
      s"split framing must match sequential: ${tokSplit.size} vs ${tokWhole.size}")
    assert(tokSplit.take(2) == Seq((1L, "P1"), (2L, "P2")))
    // (3): the garbage line dropped — no phantom null row
    assert(!tokSplit.exists(_._2 == null))
    val (chSplit, chParts) = withSplitBytes("4096") {
      val df = Dfasdl.readDelimited(spark, chDir, chDoc)
      (df.as[(Long, Option[String], Option[Long], String)].collect()
        .sortBy(_._1).toSeq, df.rdd.getNumPartitions)
    }
    assert(chParts > 4, s"choice-stream single file must split: $chParts")
    val chWhole = withSplitBytes((64L << 20).toString) {
      Dfasdl.readDelimited(spark, chDir, chDoc)
        .as[(Long, Option[String], Option[Long], String)].collect()
        .sortBy(_._1).toSeq
    }
    assert(chSplit == chWhole && chSplit.size == n)
    assert(chSplit.take(2) == Seq(
      (1L, None, Some(7L), "OK"), (2L, Some("P2"), None, "OK")))
    // (4): a record spanning TWO lines (sign-less mid-leaf -> newline
    // default) is NOT line-anchored — since r14 it takes the fixed-arity
    // BLOCK framing (lineBlockRecords), which sizes its own splits (the
    // maxPartitionBytes knob does not apply); rows and values must be
    // exactly the sequential read's
    val vcardDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label" stop-sign=":"/>
        |  <str id="version"/>
        |  <str class="label" stop-sign=":"/>
        |  <str id="name"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val vDir = Files.createTempDirectory("split_vcard").toString
    Files.write(Paths.get(vDir, "one.txt"),
      (1 to 200).map(i => s"VERSION:$i.0\nN:Person$i").mkString("\n")
        .getBytes("UTF-8"))
    val vRows = withSplitBytes("512") {
      Dfasdl.readDelimited(spark, vDir, vcardDoc)
        .as[(String, String)].collect().toSet
    }
    assert(vRows == (1 to 200).map(i => (s"$i.0", s"Person$i")).toSet)
  }

  test("corpus sweep: every real reference DFASDL document parses or rejects cleanly") {
    // Runs only where the reference checkout is present (test-time read;
    // nothing is copied into this repo). parseSchema must either produce a
    // schema or reject with a clean, typed error — never crash — and the
    // large majority of the ~350 real documents must parse.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("/root/reference/src")
    assume(java.nio.file.Files.isDirectory(root), "reference checkout not present")
    val walk = java.nio.file.Files.walk(root)
    val xmlFiles = try walk.iterator().asScala
        .filter(_.toString.endsWith(".xml")).toList
      finally walk.close()
    val dfasdls = xmlFiles.flatMap { p =>
      val txt = try new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        catch { case _: Exception => "" }
      if (txt.contains("www.dfasdl.org")) Some((p.getFileName.toString, txt)) else None
    }
    assert(dfasdls.size >= 300, s"expected the reference corpus, found ${dfasdls.size}")
    var ok = 0
    var choiceDocs = 0
    var choiceParsed = 0
    var fsDocs = 0
    var fsSurfaced = 0
    val rejected = scala.collection.mutable.ListBuffer.empty[String]
    dfasdls.foreach { case (name, xml) =>
      val hasChoice = xml.contains("<choice")
      if (hasChoice) choiceDocs += 1
      try {
        val d = Dfasdl.parseSchema(xml)
        assert(d.fields.nonEmpty)
        ok += 1
        if (xml.contains("<formatstr")) {
          // r8: formatstr is a leaf kind — it must surface as a field, not
          // silently vanish as a descended-through wrapper (a formatstr in
          // a LATER sequence than the record container legitimately stays
          // out of the record, hence the ratio below, not a hard assert)
          fsDocs += 1
          if ((d.fields ++ d.preamble).exists(_.kind == "formatstr")) fsSurfaced += 1
        }
        if (hasChoice) {
          choiceParsed += 1
          // the choice surfaced as a dispatching slot, not a flattened
          // leaf run (the pre-r8 mis-parse shape)
          assert(d.slots.exists(_.isInstanceOf[Dfasdl.ChoiceSlot]),
            s"$name contains <choice> but no ChoiceSlot was modeled")
        }
      } catch {
        case e @ (_: IllegalArgumentException | _: org.xml.sax.SAXException) =>
          rejected += s"$name: ${e.getMessage}" // clean, typed rejection
        case e: Throwable =>
          fail(s"parseSchema crashed on $name with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(ok >= (dfasdls.size * 0.8).toInt,
      s"only $ok/${dfasdls.size} parsed; rejections:\n${rejected.take(15).mkString("\n")}")
    // r9: the residual rejections are not schemas at all — they are the
    // reference's expected-data / expected-structure ASSERTION TREES
    // (DataTreeDocument dumps whose leaves carry values, e.g.
    // `<str class="id:email">john@…</str>`), its grab-bag middleware
    // definition fixtures (anonymous leaves with text content), or its
    // deliberately-malformed -wrong fixture. Pin that every rejected file
    // is one of those classes, i.e. every actual record SCHEMA in the
    // corpus parses.
    val dataTreeLeaf =
      "(?s).*<(?:str|num|formatstr|formatnum|date|datetime|time)[^>/]*>\\s*[^<\\s].*".r
    val nonSchema = dfasdls.filter { case (name, xml) =>
      name.contains("expected") || name.contains("wrong") ||
        dataTreeLeaf.matches(xml)
    }.map(_._1).toSet
    val schemaRejects = rejected.map(_.takeWhile(_ != ':')).filterNot(nonSchema)
    assert(schemaRejects.isEmpty,
      s"real schema documents rejected: ${schemaRejects.mkString(", ")}")
    // r8: choice-bearing schemas are a supported surface now — most of the
    // real corpus's choice documents must parse (a handful still reject for
    // unrelated reasons, e.g. multi-leaf branches)
    assert(choiceDocs > 0, "reference corpus lost its choice fixtures?")
    assert(choiceParsed >= (choiceDocs * 0.7).toInt,
      s"only $choiceParsed/$choiceDocs choice documents parsed")
    assert(fsDocs > 0, "reference corpus lost its formatstr fixtures?")
    assert(fsSurfaced >= (fsDocs * 0.7).toInt,
      s"formatstr fields surfaced in only $fsSurfaced/$fsDocs formatstr docs")
    info(s"sweep: $ok/${dfasdls.size} parsed (every non-parse is a " +
      "data/assertion tree or -wrong fixture, pinned above); choice docs " +
      s"$choiceParsed/$choiceDocs; formatstr docs $fsSurfaced/$fsDocs " +
      "surface formatstr fields")
  }

  private val orderXmlDoc =
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="ORDERSXML">
      |  <seq id="orders">
      |    <elem id="row" xml-element-name="order">
      |      <num id="id" xml-element-name="order-id"/>
      |      <str id="status" xml-attribute-name="status" xml-attribute-parent="order"/>
      |      <formatnum id="total" xml-element-name="amount" decimal-separator="."/>
      |      <str id="currency" xml-attribute-name="ccy" xml-attribute-parent="amount"/>
      |      <date id="day" xml-element-name="ordered-on"/>
      |    </elem>
      |  </seq>
      |</dfasdl>""".stripMargin

  private def orderXmlFile(): String = {
    val dir = Files.createTempDirectory("dfasdl_xml")
    Files.write(Paths.get(dir.toString, "orders.xml"),
      """<orders>
        |  <order status="OPEN"><order-id>1</order-id>
        |    <amount ccy="EUR">10.50</amount><ordered-on>2024-01-05</ordered-on></order>
        |  <order status="SHIPPED"><order-id>2</order-id>
        |    <amount ccy="USD">-3.25</amount><ordered-on>2024-02-06</ordered-on></order>
        |</orders>""".stripMargin.getBytes("UTF-8"))
    dir.toString
  }

  test("readXml maps elements, row attributes and nested-element attributes") {
    val doc = Dfasdl.parseSchema(orderXmlDoc)
    assert(doc.rowName.contains("order")) // wrapper's xml-element-name
    val rows = Dfasdl.readXml(spark, orderXmlFile(), doc).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0) == Row(1L, "OPEN", 10.50, "EUR", java.sql.Date.valueOf("2024-01-05")))
    assert(rows(1) == Row(2L, "SHIPPED", -3.25, "USD", java.sql.Date.valueOf("2024-02-06")))
  }

  test("cookbook whose source DFASDL describes an XML document runs end-to-end") {
    val cb = Dfasdl.parseCookbook(
      s"""<cookbook id="XML-MIGRATION">
         |  <source>${orderXmlDoc.replaceFirst("^<\\?xml[^>]*\\?>\\s*", "")}</source>
         |  <recipe id="R" mode="one-to-one">
         |    <mapping><sources>id total</sources><targets>order_id total</targets></mapping>
         |    <mapping><sources>status</sources><targets>status</targets>
         |      <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
         |        <option name="perform" value="lower"/>
         |      </transformation>
         |    </mapping>
         |  </recipe>
         |</cookbook>""".stripMargin)
    val got = Dfasdl.applyCookbook(
      Dfasdl.readXml(spark, orderXmlFile(), cb.source), cb).orderBy("order_id").collect()
    assert(got.toSeq == Seq(Row(1L, 10.50, "open"), Row(2L, -3.25, "shipped")))
  }

  test("readJson maps json-attribute-name keys over JSON Lines and array documents") {
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="J">
        |  <seq id="s"><elem id="e">
        |    <num id="id" json-attribute-name="k"/>
        |    <str id="name"/>
        |    <formatnum id="amt" json-attribute-name="amount" decimal-separator="."/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    val lines = Files.createTempDirectory("dfasdl_jsonl")
    Files.write(Paths.get(lines.toString, "a.json"),
      """{"k":1,"name":"ada","amount":10.5}
        |{"k":2,"name":"alan","amount":-3.25}""".stripMargin.getBytes("UTF-8"))
    val got = Dfasdl.readJson(spark, lines.toString, doc).orderBy("id").collect()
    assert(got.toSeq == Seq(Row(1L, "ada", 10.5), Row(2L, "alan", -3.25)))
    // the reference's whole-document shape: one top-level array
    val arr = Files.createTempDirectory("dfasdl_jarr")
    Files.write(Paths.get(arr.toString, "a.json"),
      """[{"k":1,"name":"ada","amount":10.5},
        | {"k":2,"name":"alan","amount":-3.25}]""".stripMargin.getBytes("UTF-8"))
    val got2 = Dfasdl.readJson(spark, arr.toString, doc, multiline = true)
      .orderBy("id").collect()
    assert(got2.toSeq == got.toSeq)
  }

  test("vCard token-stream documents read end-to-end (reference fixtures)") {
    import spark.implicits._
    val base = Paths.get("/root/reference/src/test/resources/com/wegtam/" +
      "tensei/agent/parsers/FileParsers/vCard")
    assume(Files.isDirectory(base), "reference checkout not present")
    def doc(n: String) = Dfasdl.parseSchema(
      new String(Files.readAllBytes(base.resolve(n)), "UTF-8"))
    val vcf = base.resolve("complex-01.vcf").toString
    // complex-01: 3 vcards of 16 label:value lines each — per-leaf
    // stop-signs (":" labels, newline-default values), anonymous labels
    val df1 = Dfasdl.readDelimited(spark, vcf, doc("complex-01.xml"))
    assert(df1.count() == 3, df1.columns.mkString(","))
    assert(df1.columns.contains("full_name") && df1.columns.contains("email"))
    assert(df1.select("full_name").as[String].collect().sorted.toSeq ==
      Seq("Alex Gump", "Forrest Gump", "Jane Gump"))
    // a comma-bearing value reads whole (newline default, NOT the csv ","):
    val lw = df1.select("label_work").as[String].collect()
    assert(lw.forall(_.contains("Baytown, LA 30314")), lw.mkString("|"))
    // complex-02 bounds the sequence with max=2: first two vcards only
    val df2 = Dfasdl.readDelimited(spark, vcf, doc("complex-02.xml"))
    assert(df2.count() == 2)
    assert(df2.select("full_name").as[String].collect().toSet ==
      Set("Forrest Gump", "Alex Gump"))
    // simple-01: a single-record document — the whole file is one record
    val dfS = Dfasdl.readDelimited(spark,
      base.resolve("simple-01.vcf").toString, doc("simple-01.xml"))
    assert(dfS.count() == 1)
    assert(dfS.select("version").as[String].collect().toSeq == Seq("3.0"))
    // complex-06/07 split the same 16-pair record across SIBLING max=1
    // seqs (06) nested under a container elem (07); the parser flattens
    // the sections into the one 32-leaf record and the token-stream
    // reader reads all three vcards like complex-01
    for (nm <- Seq("complex-06.xml", "complex-07.xml")) {
      val dfN = Dfasdl.readDelimited(spark, vcf, doc(nm))
      assert(dfN.count() == 3, nm)
      assert(dfN.select("full_name").as[String].collect().sorted.toSeq ==
        Seq("Alex Gump", "Forrest Gump", "Jane Gump"), nm)
    }
    // complex-03/04/05 express the vcard as STACKED sequences — 03: a
    // fixseq of 16 one-formatstr-per-line rows (all sign-less, dispatched
    // to the token-stream reader by the nested-fixseq-instance
    // discriminator); 04/05: fixseq-expanded label:value pairs (mixed
    // signs). All three read the same three vcards.
    locally {
      val df3 = Dfasdl.readDelimited(spark, vcf, doc("complex-03.xml"))
      assert(df3.count() == 3, "complex-03")
      // formatstr ".*?:(.*)" strips each line's label; row 1's 4th line
      // is the FN value
      assert(df3.select("value_4").as[String].collect().sorted.toSeq ==
        Seq("Alex Gump", "Forrest Gump", "Jane Gump"), "complex-03 value_4")
    }
    // r10 write/read symmetry: an all-sign-less fixseq-instance doc (the
    // complex-03 SHAPE, minus its lossy formatstr extraction) must WRITE
    // one leaf per line (the token-stream framing its reader expects),
    // not default-comma CSV — comma-bearing values round-trip intact
    locally {
      val d = Dfasdl.parseSchema(
        """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="FSRT">
          |  <seq id="s"><elem id="e">
          |    <fixseq id="f" count="3"><elem id="fe"><str id="v"/></elem></fixseq>
          |  </elem></seq>
          |</dfasdl>""".stripMargin)
      val src = Seq(("Gump, Forrest", "line two", "Baytown, LA"),
        ("second rec", "x", "y")).toDF("v", "v_2", "v_3")
      val o = Files.createTempDirectory("fsrt").toString + "/out"
      Dfasdl.writeDelimited(src, d, o)
      val rt = Dfasdl.readDelimited(spark, o, d)
      assert(rt.select("v", "v_2", "v_3").collect().toSet ==
        src.collect().toSet, "all-sign-less fixseq write∘read")
    }
    // r10: a digit token beyond Long range passes the numeric branch
    // regex but must NULL (PERMISSIVE), not kill the job under ANSI
    locally {
      val d = Dfasdl.parseSchema(
        """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="OVF">
          |  <seq id="s"><elem id="e">
          |    <str id="label" stop-sign=":"/>
          |    <num id="v"/>
          |  </elem></seq>
          |</dfasdl>""".stripMargin)
      val dir = Files.createTempDirectory("ovf")
      Files.write(dir.resolve("a.txt"),
        "N:12345678901234567890123\nN:42\n".getBytes("UTF-8"))
      val got = Dfasdl.readDelimited(spark, dir.toString, d)
        .select("v").as[Option[Long]].collect().toSet
      assert(got == Set(None, Some(42L)), got.toString)
    }
    for (nm <- Seq("complex-04.xml", "complex-05.xml")) {
      val dfN = Dfasdl.readDelimited(spark, vcf, doc(nm))
      assert(dfN.count() == 3, nm)
      assert(dfN.select("column2-data_4").as[String].collect().sorted.toSeq ==
        Seq("Alex Gump", "Forrest Gump", "Jane Gump"), s"$nm column2-data_4")
      assert(dfN.select("column-data_4").as[String].collect().toSet ==
        Set("FN"), s"$nm label column")
    }
    // write side: the same doc renders the record back onto its 16
    // label:value lines (missing stop-sign = line separator, the reference
    // writer default) and readDelimited is the exact inverse
    val outT = Files.createTempDirectory("vcard_rt").toString + "/out"
    Dfasdl.writeDelimited(dfS, doc("simple-01.xml"), outT)
    val rt = Dfasdl.readDelimited(spark, outT, doc("simple-01.xml"))
    assert(rt.collect().toSeq == dfS.collect().toSeq)
    // choice-01: the multi-leaf CHOICE form of the same stream (nested
    // seq→elem→seq→elem→choice; one line per row, start-sign-anchored
    // label + value per branch) — the line-choice reader dispatches it
    val dfC = Dfasdl.readDelimited(spark,
      base.resolve("choice-01.vcf").toString, doc("choice-01.xml"))
    assert(dfC.count() == 16) // 16 lines, one row each
    assert(dfC.where(col("full_name") === "Forrest Gump").count() == 1)
    assert(dfC.where(col("start_tag").isNotNull).count() == 1)
    assert(dfC.where(col("revision").isNotNull).count() == 1)
  }

  test("writeDelimited round-trips through readDelimited, incl. format rendering") {
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="OUT">
        |  <str id="header"/>
        |  <seq id="s"><elem id="e">
        |    <num id="id" stop-sign=";"/>
        |    <date id="day" format="dd.MM.yyyy" stop-sign=";"/>
        |    <formatnum id="amt" decimal-separator="," stop-sign=";"/>
        |    <str id="note" stop-sign=";"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-05"), 10.5, "first"),
      (2L, java.sql.Date.valueOf("2024-02-06"), -3.25, "second"))
      .toDF("id", "day", "amt", "note")
    val out = Files.createTempDirectory("dfasdl_wr").toString + "/data"
    Dfasdl.writeDelimited(df, doc, out)
    // rendering honored the format attributes on the way out
    val raw = Files.list(Paths.get(out)).iterator()
    val text = new StringBuilder
    while (raw.hasNext) { val p = raw.next()
      if (p.toString.endsWith(".csv") || p.toString.contains("part-"))
        text ++= new String(Files.readAllBytes(p), "UTF-8") }
    assert(text.toString.contains("05.01.2024") && text.toString.contains("10,5"),
      text.toString)
    val back = Dfasdl.readDelimited(spark, out, doc).orderBy("id").collect()
    assert(back.toSeq == df.orderBy("id").collect().toSeq)
    // a missing column fails fast with the field named
    val err = intercept[IllegalArgumentException] {
      Dfasdl.writeDelimited(df.drop("note"), doc, out)
    }
    assert(err.getMessage.contains("note"))
  }

  test("readXmlStream / readJsonStream match their batch twins on a drop directory") {
    val doc = Dfasdl.parseSchema(orderXmlDoc)
    val xmlDir = orderXmlFile()
    val streamedXml = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.readXmlStream(spark, xmlDir, doc), "dfasdl_xml_stream",
      org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
    assert(streamedXml == Dfasdl.readXml(spark, xmlDir, doc).collect().toSet
      && streamedXml.size == 2)
    val jdoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="JS">
        |  <seq id="s"><elem id="e">
        |    <num id="id" json-attribute-name="k"/><str id="name"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    val jdir = Files.createTempDirectory("dfasdl_jstream")
    Files.write(Paths.get(jdir.toString, "a.json"),
      "{\"k\":1,\"name\":\"ada\"}\n{\"k\":2,\"name\":\"alan\"}".getBytes("UTF-8"))
    val streamedJson = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.readJsonStream(spark, jdir.toString, jdoc), "dfasdl_json_stream",
      org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
    assert(streamedJson ==
      Dfasdl.readJson(spark, jdir.toString, jdoc).collect().toSet
      && streamedJson.size == 2)
  }

  test("single-field sign-less records read whole lines, not comma tokens (r9)") {
    // the reference reads a lone str to DEFAULT_STOP_SIGN (newline); the
    // csv route would split at "," and silently truncate comma-bearing
    // lines to their first token
    import spark.implicits._
    val d = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str id="line"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val dir = Files.createTempDirectory("singlefield").toString
    Files.write(Paths.get(dir, "a.txt"),
      "100 Waters Edge, Baytown, LA\nplain line\n".getBytes("UTF-8"))
    val got = Dfasdl.readDelimited(spark, dir, d)
      .as[String].collect().sorted.toSeq
    assert(got == Seq("100 Waters Edge, Baytown, LA", "plain line"), got.toString)
  }

  test("readDelimitedStream streams choice and token-stream docs like batch (r9)") {
    val base = Paths.get("/root/reference/src/test/resources/com/wegtam/" +
      "tensei/agent/parsers/FileParsers/vCard")
    assume(Files.isDirectory(base), "reference checkout not present")
    def doc(n: String) = Dfasdl.parseSchema(
      new String(Files.readAllBytes(base.resolve(n)), "UTF-8"))
    // token-stream doc (complex-01; records explode out of arriving files)
    val tsDir = Files.createTempDirectory("vcard_stream").toString
    Files.copy(base.resolve("complex-01.vcf"),
      Paths.get(tsDir, "complex-01.vcf"))
    val d = doc("complex-01.xml")
    val streamed = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.readDelimitedStream(spark, tsDir, d), "vcard_ts_stream",
      org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
    val batch = Dfasdl.readDelimited(spark, tsDir, d).collect().toSet
    assert(streamed == batch && streamed.size == 3)
    // line-choice doc (choice-01; per-line branch dispatch)
    val lcDir = Files.createTempDirectory("vcard_lc_stream").toString
    Files.copy(base.resolve("choice-01.vcf"), Paths.get(lcDir, "c.vcf"))
    val cd = doc("choice-01.xml")
    val streamedC = graft.streaming.Streams.runToMemory(spark,
      Dfasdl.readDelimitedStream(spark, lcDir, cd), "vcard_lc_stream",
      org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
    assert(streamedC == Dfasdl.readDelimited(spark, lcDir, cd).collect().toSet
      && streamedC.size == 16)
  }

  test("readDelimitedStream equals readDelimited on token-stream, line-choice and single-field docs") {
    // self-written fixtures, one arriving file per shape: the batch read
    // frames by line ordinals or lines, the stream frames the file whole,
    // and both must surface the same rows
    def streamEqualsBatch(name: String, d: Dfasdl.Doc, text: String): Set[Row] = {
      val dir = Files.createTempDirectory(name).toString
      Files.write(Paths.get(dir, "a.txt"), text.getBytes("UTF-8"))
      val streamed = graft.streaming.Streams.runToMemory(spark,
        Dfasdl.readDelimitedStream(spark, dir, d), name,
        org.apache.spark.sql.streaming.OutputMode.Append()).collect().toSet
      val batch = Dfasdl.readDelimited(spark, dir, d).collect().toSet
      assert(streamed == batch, s"$name: stream $streamed vs batch $batch")
      streamed
    }
    // token-stream: label:value over two lines per record (block framing)
    val tokenDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str class="label" stop-sign=":"/>
        |  <num id="okey"/>
        |  <str class="label" stop-sign=":"/>
        |  <str id="prio"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val tokens = streamEqualsBatch("token_stream_eq", tokenDoc,
      "OKEY:1\nPRIO:1-URGENT\nOKEY:2\nPRIO:2-HIGH\nOKEY:3\nPRIO:5-LOW\n")
    assert(tokens == Set(Row(1L, "1-URGENT"), Row(2L, "2-HIGH"),
      Row(3L, "5-LOW")), tokens.toString)
    // line-choice: one choice per line, start-sign-anchored label branches
    // ahead of a generic label:value catch-all
    val choiceDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s">
        |  <choice id="line">
        |    <celem id="fn">
        |      <str class="label" start-sign="FN" stop-sign=":"/><str id="fn_value"/>
        |    </celem>
        |    <celem id="email">
        |      <str class="label" start-sign="EMAIL" stop-sign=":"/><str id="email_value"/>
        |    </celem>
        |    <celem id="other">
        |      <str id="other_label" stop-sign=":"/><str id="other_value"/>
        |    </celem>
        |  </choice>
        |</seq></dfasdl>""".stripMargin)
    val lines = streamEqualsBatch("line_choice_eq", choiceDoc,
      "FN:Ada Lovelace\nEMAIL:ada@example.com\nTEL:555-0100\nFN:Alan Turing\n")
    assert(lines == Set(Row("Ada Lovelace", null, null, null),
      Row(null, "ada@example.com", null, null), Row(null, null, "TEL", "555-0100"),
      Row("Alan Turing", null, null, null)), lines.toString)
    // single-field sign-less: whole lines, no comma split
    val sfDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |  <str id="line"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val single = streamEqualsBatch("singlefield_stream", sfDoc, "x, y, z\nplain\n")
    assert(single == Set(Row("x, y, z"), Row("plain")), single.toString)
  }

  test("writeFixedWidth round-trips through readFixedWidth and rejects overflow") {
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="FWOUT">
        |  <seq id="s"><elem id="e">
        |    <num id="id" length="6"/>
        |    <str id="name" length="10"/>
        |    <formatnum id="amount" length="9"/>
        |    <date id="day" length="10"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    import spark.implicits._
    val df = Seq(
      (1L, "alpha", 10.25, java.sql.Date.valueOf("2024-01-01")),
      (2L, "beta", -99.5, java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "name", "amount", "day")
    val out = Files.createTempDirectory("dfasdl_fw").toString + "/data"
    Dfasdl.writeFixedWidth(df, doc, out)
    val back = Dfasdl.readFixedWidth(spark, out, doc).orderBy("id").collect()
    assert(back.toSeq == df.orderBy("id").collect().toSeq)
    // a too-wide value fails the job instead of shifting every later column
    val wide = Seq((3L, "name-way-too-long", 0.0,
      java.sql.Date.valueOf("2024-01-03"))).toDF("id", "name", "amount", "day")
    val err = intercept[Exception] {
      Dfasdl.writeFixedWidth(wide, doc, out)
    }
    assert(err.getMessage.contains("too wide") ||
      Option(err.getCause).exists(_.getMessage.contains("too wide")), err.getMessage)
  }

  test("writeFixedWidth renders a choice as ONE slot and round-trips") {
    // regression (r8 review): the write side emitted one padded column per
    // branch LEAF while readFixedWidth reads one width per choice SLOT —
    // round-trips of choice schemas shifted every field after the choice
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="FWCH">
        |  <seq id="s"><elem id="e">
        |    <num id="id" length="4"/>
        |    <choice id="v">
        |      <celem id="a"><num id="v_num" length="8"/></celem>
        |      <celem id="b"><str id="v_str" length="8"/></celem>
        |    </choice>
        |    <str id="tail" length="5"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    val path = tmpCsv("fwch_src", "1,77,end1\n2,hello,end2\n")
    val srcDoc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="e">
        |  <num id="id"/>
        |  <choice id="v">
        |    <celem id="a"><num id="v_num"/></celem>
        |    <celem id="b"><str id="v_str"/></celem>
        |  </choice>
        |  <str id="tail"/>
        |</elem></seq></dfasdl>""".stripMargin)
    val df = Dfasdl.readDelimited(spark, path, srcDoc)
    val out = Files.createTempDirectory("dfasdl_fwch").toString + "/data"
    Dfasdl.writeFixedWidth(df, doc, out)
    val back = Dfasdl.readFixedWidth(spark, out, doc).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getLong(0) == 1L && back(0).getAs[Long]("v_num") == 77L &&
      back(0).isNullAt(back(0).fieldIndex("v_str")) &&
      back(0).getAs[String]("tail") == "end1") // tail NOT shifted
    assert(back(1).getLong(0) == 2L && back(1).getAs[String]("v_str") == "hello" &&
      back(1).getAs[String]("tail") == "end2")
  }

  test("writeDelimited with heterogeneous stop-signs writes value+sign text lines") {
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="HET">
        |  <seq id="s"><elem id="e">
        |    <str id="a" stop-sign="|"/>
        |    <str id="b" stop-sign=";"/>
        |    <str id="c"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    import spark.implicits._
    val out = Files.createTempDirectory("dfasdl_het").toString + "/data"
    Dfasdl.writeDelimited(
      Seq(("x", "y", "z"), ("u", null, "w")).toDF("a", "b", "c"), doc, out)
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq
    assert(lines == Seq("u|;w", "x|y;z"), lines) // null rendered empty
  }

  test("cookbook mapping order: target-document order wins; shuffled mappings are equivalent") {
    // SortTransformationMappings semantics: the reference sorts mappings by
    // position in the TARGET dfasdl before processing (write layout); the
    // compiled projection honors that by ordering output columns the same
    // way, and is otherwise mapping-order-independent (sources only ever
    // read the source tree)
    import spark.implicits._
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "p", "q")
    def cb(mappingXml: String) = Dfasdl.parseCookbook(
      s"""<cookbook id="ORDER">
         |  <source><dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
         |    <num id="k" stop-sign=","/><str id="p" stop-sign=","/><str id="q"/>
         |  </elem></seq></dfasdl></source>
         |  <target><dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="t"><elem id="r">
         |    <num id="key" stop-sign=","/><str id="first" stop-sign=","/><str id="second"/>
         |  </elem></seq></dfasdl></target>
         |  <recipe id="R" mode="one-to-one"><mapping>
         |    $mappingXml
         |  </mapping></recipe>
         |</cookbook>""".stripMargin)
    // mappings listed BACKWARD relative to the target document
    val shuffled = cb("<sources>q p k</sources><targets>second first key</targets>")
    val ordered = cb("<sources>k p q</sources><targets>key first second</targets>")
    val a = Dfasdl.applyCookbook(df, shuffled)
    val b = Dfasdl.applyCookbook(df, ordered)
    // both orderings emit target-document column order and identical rows
    assert(a.columns.toSeq == Seq("key", "first", "second"))
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.orderBy("key").collect().toSeq == b.orderBy("key").collect().toSeq)
  }

  test("cookbook mapping consuming another mapping's target rejects with guidance") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "p")
    val cb = Dfasdl.parseCookbook(
      """<cookbook id="CHAIN">
        |  <source><dfasdl xmlns="http://www.dfasdl.org/DFASDL"><seq id="s"><elem id="r">
        |    <num id="k" stop-sign=","/><str id="p"/>
        |  </elem></seq></dfasdl></source>
        |  <recipe id="R" mode="one-to-one">
        |    <mapping><sources>p</sources><targets>renamed</targets></mapping>
        |    <mapping><sources>renamed</sources><targets>derived</targets></mapping>
        |  </recipe>
        |</cookbook>""".stripMargin)
    val e = intercept[IllegalArgumentException](Dfasdl.applyCookbook(df, cb))
    assert(e.getMessage.contains("target of another mapping"))
    assert(e.getMessage.contains("chain cookbooks"))
  }

  test("multi-line token-stream records frame by byte-range splits (r14)") {
    import spark.implicits._
    // 2-line records (KEY:<id> / PRI:<p>) — a sign-less MID leaf, so NOT
    // line-anchored: pre-r14 this shape read wholetext, one task per file
    val doc = Dfasdl.parseSchema(
      """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="BLK">
        |  <seq id="s"><elem id="r">
        |    <str class="label" stop-sign=":"/>
        |    <num id="okey"/>
        |    <str class="label" stop-sign=":"/>
        |    <str id="prio"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)
    val n = 120000
    def rec(i: Int) = s"KEY:$i\nPRI:p${i % 97}"
    val body = (0 until n).map(rec).mkString("\n") + "\n"
    // one ~1.5MB file: big enough that the split sizer cuts MULTIPLE byte
    // ranges, so the prefix-sum line numbering is actually exercised
    val one = Files.createTempDirectory("dfasdl_blk1")
    Files.write(Paths.get(one.toString, "one.txt"), body.getBytes("UTF-8"))
    val got = Dfasdl.readDelimited(spark, one.toString, doc)
    val agg = got.agg(count(lit(1)), sum(col("okey"))).collect()(0)
    assert(agg.getLong(0) == n.toLong, s"rows: ${agg.getLong(0)}")
    assert(agg.getLong(1) == (0L until n.toLong).sum, "okey checksum")
    // every record reassembled in phase: prio derives from okey
    assert(got.filter(col("prio") =!= concat(lit("p"), col("okey") % 97))
      .count() == 0L, "a record was assembled from the wrong line pair")
    // the Verify shape — coalesce(1) computes EVERY split inside one task,
    // where TaskContext partition ids collapse; splits must self-identify
    // by (file, byte start) or phase breaks (caught by the sf1 gate)
    val coalesced = Dfasdl.readDelimited(spark, one.toString, doc).coalesce(1)
    assert(coalesced.filter(col("okey").isNull ||
      col("prio") =!= concat(lit("p"), col("okey") % 97)).count() == 0L,
      "coalesced read mis-phased a record")
    assert(coalesced.count() == n.toLong)
    // multi-file twin reads the SAME row set (framing changes, rows don't)
    val many = Files.createTempDirectory("dfasdl_blkN")
    (0 until 4).foreach { f =>
      val part = (f until n by 4).map(rec).mkString("\n") + "\n"
      Files.write(Paths.get(many.toString, s"p$f.txt"), part.getBytes("UTF-8"))
    }
    val gotMany = Dfasdl.readDelimited(spark, many.toString, doc)
      .as[(Long, String)].collect().toSet
    assert(gotMany == got.as[(Long, String)].collect().toSet)
    // CRLF input parses to the same values (the line reader strips \r
    // exactly where the wholetext terminators would have consumed it)
    val crlf = Files.createTempDirectory("dfasdl_blkC")
    Files.write(Paths.get(crlf.toString, "c.txt"),
      "KEY:1\r\nPRI:a\r\nKEY:2\r\nPRI:b\r\n".getBytes("UTF-8"))
    assert(Dfasdl.readDelimited(spark, crlf.toString, doc)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // a ragged tail (dangling KEY line without its PRI line) DROPS, the
    // same skip wholetext extraction makes for a truncated final record
    val rag = Files.createTempDirectory("dfasdl_blkR")
    Files.write(Paths.get(rag.toString, "r.txt"),
      "KEY:1\nPRI:a\nKEY:99\n".getBytes("UTF-8"))
    assert(Dfasdl.readDelimited(spark, rag.toString, doc)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("unsupported transformer names fail fast with guidance") {
    val e = intercept[UnsupportedOperationException] {
      Dfasdl.compileRecipe(Dfasdl.Recipe("r", "one-to-one", Seq(
        Dfasdl.Mapping(Seq("a"), Seq("b"), Seq(
          Dfasdl.Transformation(
            "com.wegtam.tensei.agent.transformers.DrupalVanCodeTransformer",
            Map.empty)))))).columns // chains build lazily - force them
    }
    assert(e.getMessage.contains("VanCode"))
  }
}
