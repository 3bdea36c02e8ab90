package graft.sources

import graft.functions.Transformers
import graft.pipeline.Pipeline
import graft.sinks.Sinks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element => XmlElement, Node}

/** DFASDL cookbook front-end — the reference's entire configuration surface
  * is a DFASDL schema document plus a recipe cookbook
  * (helpers/SchemaExtractor.scala, helpers/DFASDLValidator.scala,
  * processor/RecipesWorker.scala, processor/RecipeWorker.scala). A user
  * migrating off the reference holds those documents, not Scala, so this
  * object ingests the read-only subset directly:
  *
  *  - a DFASDL schema document → a Spark [[StructType]] (the SURVEY §3 type
  *    mapping: str→string, num→long, formatnum→double, date→date,
  *    formattime/datetime→timestamp, time→string, bin→binary), plus a
  *    delimited-file reader that honors `stop-sign` separators, a leading
  *    header element, and per-field `format` patterns;
  *  - a cookbook document (recipes of one-to-one / all-to-all mappings with
  *    transformer chains, referencing the reference's public transformer
  *    class names — e.g. `com.wegtam.tensei.agent.transformers.LowerOrUpper`
  *    with `perform=upper`) → a runnable [[Pipeline.Recipe]], so the whole
  *    cookbook compiles to ONE whole-stage-codegen'd projection exactly like
  *    a hand-built pipeline.
  *
  * Parsing is driver-side DOM over a config-sized document (a schema is
  * KBs); nothing here touches the data path, so the compiled plan is
  * indistinguishable from one written directly against [[Pipeline]].
  */
object Dfasdl {

  /** One record position of a DFASDL schema: a plain leaf [[Field]] or a
    * [[ChoiceSlot]] of alternative leaves competing for the same position.
    */
  sealed trait Slot { def id: String }

  /** One leaf element of a DFASDL record: its id, DFASDL element kind and
    * raw attributes.
    */
  final case class Field(id: String, kind: String, attrs: Map[String, String])
      extends Slot {
    def attr(name: String): Option[String] = attrs.get(name)

    /** An id-less leaf — the reference's consumed-and-discarded positions
      * (its vCard schemas interleave `<str class="label" stop-sign=":"/>`
      * label tokens between the value leaves; the parser reads them but no
      * mapping can address them). Such slots consume a raw token in the
      * readers and never surface as output columns.
      */
    def anonymous: Boolean = attrs.contains(AnonMarker)

    /** SURVEY §3 type mapping. */
    def sparkType: DataType = kind match {
      case "num"                      => LongType
      case "formatnum"                => DoubleType
      case "date"                     => DateType
      case "datetime" | "formattime"  => TimestampType
      case "bin" | "bin64" | "binHex" => BinaryType
      case _                          => StringType // str, format, time, ...
    }
  }

  /** A `<choice>` element: alternative branches (each a `celem` wrapping one
    * leaf) competing for ONE record position. The reference's BaseParser
    * runs a per-record state machine over the branches
    * (parsers/BaseParser.scala:244 handleChoice — a BROKEN branch resets the
    * offset and the next branch retries; the first branch that parses is
    * MATCHED, see BaseParserChoiceState.scala / adt/BaseParserChoiceStatus
    * .scala): try branches IN ORDER, first successful parse wins. In a
    * columnar engine the same semantics are a per-row `when` dispatch: the
    * choice consumes one raw token, every branch leaf becomes a nullable
    * output column, and the token lands in the FIRST branch whose typed
    * parse succeeds (the reference's expected-data fixtures — e.g.
    * parsers/FileParsers/CSV/choice-02-expected-data.xml — show exactly
    * this per-record either/or population).
    *
    * A branch may hold SEVERAL leaves (the reference's email-header schemas
    * pair a `start-sign`-matched label leaf with a value leaf); such
    * branches parse into the schema model, but only SINGLE-leaf branches
    * are readable by the fixed-arity delimited/fixed-width readers (a
    * multi-leaf branch makes the record's token count branch-dependent —
    * the reference's offset-reset retry can express that over a byte
    * stream; a columnar record reader rejects it with a typed error).
    */
  final case class Branch(id: String, leaves: Seq[Field])
  final case class ChoiceSlot(id: String, branches: Seq[Branch]) extends Slot {
    def leaves: Seq[Field] = branches.flatMap(_.leaves)
    /** The one leaf per branch, when every branch is single-leaf — the
      * fixed-arity record shape the delimited readers dispatch over.
      */
    def singleLeafBranches: Seq[Field] = branches.map { b =>
      require(b.leaves.size == 1,
        s"choice $id branch ${b.id} holds ${b.leaves.size} leaves; the " +
          "delimited/fixed-width readers need exactly one leaf per branch " +
          "(token-stream choice schemas are not a fixed-arity record)")
      b.leaves.head
    }
  }

  /** A parsed DFASDL document: record slots (children of the first
    * `seq`/`elem` — plain leaves or choices) and any preamble elements
    * before the sequence (the reference models a CSV header line as a
    * leading `<str id="header"/>` — see e.g. the structure of the
    * reference's simple CSV schemas).
    * `rowName` is the XML element name of the per-record wrapper (the first
    * `elem` under the `seq`, or the `seq` itself when leaves sit directly
    * under it) — the `rowTag` for DFASDL-described XML data ([[readXml]]).
    */
  final case class Doc(id: String, preamble: Seq[Field], slots: Seq[Slot],
                       rowName: Option[String] = None,
                       rowLimit: Option[Long] = None) {
    /** Output-schema leaves: plain fields plus every choice branch (the
      * losing branches of a record are null — the reference materializes
      * only the matched branch per record, which columnar output renders
      * as either/or nullability).
      */
    def fields: Seq[Field] = slots.flatMap {
      case f: Field      => if (f.anonymous) Nil else Seq(f)
      case c: ChoiceSlot => c.leaves.filterNot(_.anonymous)
    }
    def schema: StructType =
      StructType(fields.map(f => StructField(f.id, f.sparkType)))
  }

  private val leafKinds = Set("str", "num", "formatnum", "formatstr", "date",
    "datetime", "formattime", "time", "format", "bin", "bin64", "binHex")

  /** Does a regex carry at least one capture group? Driver-side exact count
    * (escaped `\(` doesn't fool it) — [[convert]]'s formatstr path extracts
    * group(1) only when one exists, exactly like the reference's
    * readNextStringElement (FileParserFunctions.scala:286-301: group(1) when
    * groupCount > 0, otherwise None with a warning).
    */
  private def hasCaptureGroup(pattern: String): Boolean =
    try java.util.regex.Pattern.compile(pattern).matcher("").groupCount() > 0
    catch { case _: java.util.regex.PatternSyntaxException => false }

  private def childElems(n: Node): Seq[XmlElement] = {
    val kids = n.getChildNodes
    (0 until kids.getLength).map(kids.item).collect { case e: XmlElement => e }
  }

  private def attrsOf(e: XmlElement): Map[String, String] = {
    val m = e.getAttributes
    (0 until m.getLength).map(m.item).map(a => a.getNodeName -> a.getNodeValue).toMap
  }

  private def nameOf(e: XmlElement): String =
    Option(e.getLocalName).getOrElse(e.getTagName)

  private def parseXml(xml: String): XmlElement = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true) // DFASDL documents carry the dfasdl.org xmlns
    // config documents, not data: no DTD/external-entity resolution
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
      .getDocumentElement
  }

  /** Internal attrs marker for anonymous (id-less) skip leaves — never read
    * from a document.
    */
  private val AnonMarker = "graft:anonymous"

  /** Internal attrs marker on the 2..k copies of a nested-fixseq expansion
    * — such fields are addressed by POSITION, which the keyed XML/JSON
    * readers cannot resolve (see [[requireNoRepeatInstances]]).
    */
  private val FixseqInstanceMarker = "graft:fixseq-instance"

  private def fieldOf(e: XmlElement): Field =
    Option(e.getAttribute("id")).filter(_.nonEmpty) match {
      case Some(id) => Field(id, nameOf(e), attrsOf(e))
      case None =>
        // an id-less leaf is a skip position (see [[Field.anonymous]]);
        // [[parseSchema]] renumbers the placeholder deterministically by
        // record position so two parses of one document agree on ids
        Field("_skip_", nameOf(e), attrsOf(e) + (AnonMarker -> "true"))
    }

  /** Deterministic ids for anonymous leaves: `_skip_1`..`_skip_n` in record
    * order (a process-global counter would make two parses of the SAME
    * document disagree on ids and break write-side column matching).
    */
  private def renumberAnon(slots: Seq[Slot]): Seq[Slot] = {
    var i = 0
    def renameF(f: Field): Field =
      if (!f.anonymous) f
      else { i += 1; f.copy(id = s"_skip_$i") }
    slots.map {
      case f: Field => renameF(f)
      case c: ChoiceSlot =>
        c.copy(branches = c.branches.map(b => b.copy(leaves = b.leaves.map(renameF))))
    }
  }

  /** Parse a DFASDL schema document. The record layout is the set of leaf
    * elements under the first `seq`; anything before it is preamble
    * (header). Nested `elem` wrappers are descended through — the reference
    * wraps each row in `<elem id="row">`.
    */
  def parseSchema(xml: String): Doc = {
    val root = parseXml(xml)
    require(nameOf(root) == "dfasdl",
      s"not a DFASDL document: root <${root.getTagName}>")
    val top = childElems(root)
    // the record container is the first seq — or fixseq, the reference's
    // bounded sequence (its DatabaseParser maps a fixseq's count straight to
    // a LIMIT clause, DatabaseParser.scala:407; the file parsers stop after
    // count iterations) — surfaced as [[Doc.rowLimit]]
    val (pre, rest) = top.span(e => nameOf(e) != "seq" && nameOf(e) != "fixseq")
    // preamble = elements BEFORE the record sequence (header line); a
    // document without a sequence has no preamble
    val preamble =
      if (rest.nonEmpty) pre.filter(e => leafKinds(nameOf(e))).map(fieldOf)
      else Nil
    val slots = rest.headOption match {
      case Some(seq) => slotsUnder(seq)
      case None =>
        // no sequence: a single-record document — either flat leaves at the
        // top, or the reference's JSON-shaped elem-rooted nesting (descend;
        // inner repeated groups flatten into the slot list)
        val flat = top.filter(e => leafKinds(nameOf(e))).map(fieldOf)
        if (flat.nonEmpty) (flat: Seq[Slot]) else top.flatMap(slotsUnder)
    }
    require(slots.nonEmpty, "DFASDL document defines no record fields")
    require(slots.exists {
      case f: Field => !f.anonymous
      case _        => true
    }, "DFASDL document defines only anonymous (id-less) skip elements; " +
      "no record field is addressable")
    // the per-record wrapper's XML name: the first elem under the seq (the
    // reference's <elem id="row"> — XmlFileParser resolves names through
    // xml-element-name with the id as fallback, see getXmlElementName at
    // parsers/XmlFileParser.scala:403), else the seq itself. A choice is a
    // record POSITION, not a wrapper, so it never supplies the row tag.
    val rowName = rest.headOption.map { seq =>
      childElems(seq).find(e =>
          !leafKinds(nameOf(e)) && nameOf(e) != "choice") match {
        case Some(wrapper) => xmlNameOfElem(wrapper)
        case None          => xmlNameOfElem(seq)
      }
    }
    val rowLimit = rest.headOption.collect {
      case seq if nameOf(seq) == "fixseq" =>
        Option(seq.getAttribute("count")).filter(_.nonEmpty).map(_.toLong)
      // a plain seq's `max` bounds iteration the same way (the reference
      // file parsers stop after max repetitions — the vCard complex-02
      // fixture reads only the first `max` vcards of the stream)
      case seq if nameOf(seq) == "seq" =>
        Option(seq.getAttribute("max")).filter(_.nonEmpty).map(_.toLong)
    }.flatten
    rowLimit.foreach(n => require(n >= 0 && n <= Int.MaxValue,
      s"fixseq count $n is outside the supported record bound [0, 2^31)"))
    val renumbered = renumberAnon((preamble: Seq[Slot]) ++ slots)
    val (pre2, slots2) = renumbered.splitAt(preamble.size)
    Doc(Option(root.getAttribute("id")).filter(_.nonEmpty).getOrElse("dfasdl"),
      pre2.collect { case f: Field => f }, slots2, rowName, rowLimit)
  }

  /** Apply a top-level fixseq's record bound to a batch read (LIMIT count —
    * the reference's own SQL mapping for fixseq). No-op for plain seq docs.
    *
    * ORDER CAVEAT: the reference's fixseq parser consumes the FIRST `count`
    * records in stream order of its single source file
    * (parsers/FileParser.scala sequential reads); Spark's `limit` takes
    * `count` rows in partition-index order, which matches byte order for a
    * single file read as one partition (every DFASDL cookbook source in
    * the corpus — fixseq files are small by construction, far under
    * `spark.sql.files.maxPartitionBytes`) but is plan-dependent for
    * multi-file globs or a file large enough to split. Multi-file fixseq
    * has no reference analog (the agent parses one file per source), so
    * the divergence is unreachable for ported cookbooks; callers gluing
    * globs onto a fixseq doc get *some* `count` rows, documented here.
    */
  private def bounded(df: DataFrame, doc: Doc): DataFrame =
    doc.rowLimit.fold(df)(n => df.limit(n.toInt))

  /** A fixseq-bounded document cannot drive an unbounded stream — reject
    * rather than silently dropping the declared LIMIT.
    */
  private def requireUnbounded(doc: Doc, op: String): Unit =
    require(doc.rowLimit.isEmpty, s"$op: a fixseq-bounded document (LIMIT " +
      s"${doc.rowLimit.getOrElse(0L)}) cannot drive an unbounded stream; " +
      "use the batch reader for the bounded read")

  /** Nested-fixseq repeat instances (the `_2`..`_k` expansion columns) are
    * addressed by record POSITION; a keyed XML/JSON read would look up a
    * key/element that never exists in the data (the data repeats ONE
    * key) and return null for every record — reject instead.
    */
  private def requireNoRepeatInstances(doc: Doc, op: String): Unit = {
    val inst = doc.fields.filter(_.attrs.contains(FixseqInstanceMarker))
    require(inst.isEmpty,
      s"$op: fields ${inst.map(_.id).mkString(", ")} are nested-fixseq " +
        "repeat instances addressed by position; the keyed readers cannot " +
        "resolve them — read positional layouts via readDelimited/" +
        "readFixedWidth")
  }

  private def xmlNameOfElem(e: XmlElement): String =
    Option(e.getAttribute("xml-element-name")).filter(_.nonEmpty)
      .orElse(Option(e.getAttribute("id")).filter(_.nonEmpty))
      .getOrElse(nameOf(e))

  private def slotsUnder(e: XmlElement): Seq[Slot] =
    childElems(e).flatMap { c =>
      nameOf(c) match {
        case k if leafKinds(k) => Seq(fieldOf(c))
        case "choice"          => Seq(choiceOf(c))
        case "fixseq"          => fixseqSlots(c)
        case _                 => slotsUnder(c) // elem / celem / seq wrappers
      }
    }

  /** A NESTED `<fixseq count="k">` repeats its inner group exactly k times
    * per record (the reference's BaseParser iterates the branch k times —
    * e.g. `<fixseq id="columns" count="3"><elem id="column"><str
    * id="column-data"/></elem></fixseq>` parses three column-data instances
    * per row, indexed by sequence position in the data tree). A columnar
    * record has one column per instance: the first repeat keeps the bare
    * ids (so cookbook mappings addressing the id resolve to instance 0,
    * the reference's default sequence index) and repeats 2..k suffix
    * `_2`..`_k`. count absent or 1 degenerates to a plain wrapper.
    */
  private def fixseqSlots(e: XmlElement): Seq[Slot] = {
    val inner = slotsUnder(e)
    val n = Option(e.getAttribute("count")).filter(_.nonEmpty).map(_.toInt)
      .getOrElse(1)
    require(n >= 1, s"fixseq ${Option(e.getAttribute("id")).getOrElse("?")} " +
      s"declares count=$n; a fixed sequence repeats at least once")
    def suffix(s: Slot, sfx: String): Slot = s match {
      case f: Field => f.copy(id = f.id + sfx,
        attrs = f.attrs + (FixseqInstanceMarker -> "true"))
      case c: ChoiceSlot => c.copy(id = c.id + sfx,
        branches = c.branches.map(b => b.copy(id = b.id + sfx,
          leaves = b.leaves.map(l => l.copy(id = l.id + sfx,
            attrs = l.attrs + (FixseqInstanceMarker -> "true"))))))
    }
    if (n == 1) inner
    else inner ++ (2 to n).flatMap(i => inner.map(s => suffix(s, s"_$i")))
  }

  /** Parse a `<choice>`: each child `celem` is one alternative branch of
    * one or more leaves.
    */
  private def choiceOf(e: XmlElement): ChoiceSlot = {
    val id = Option(e.getAttribute("id")).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("DFASDL <choice> has no id"))
    val branches = childElems(e).map { b =>
      require(nameOf(b) == "celem",
        s"choice $id holds <${nameOf(b)}>; every branch must be a <celem>")
      val leaves = slotsUnder(b).collect { case f: Field => f }
      require(leaves.nonEmpty,
        s"choice $id branch ${Option(b.getAttribute("id")).getOrElse("?")} holds no leaves")
      Branch(Option(b.getAttribute("id")).filter(_.nonEmpty).getOrElse(id), leaves)
    }
    require(branches.nonEmpty, s"choice $id defines no branches")
    ChoiceSlot(id, branches)
  }

  /** DFASDLValidator analog: structural checks that fail fast driver-side
    * instead of mid-job — duplicate ids, unknown element kinds, empty
    * records, and formattime fields missing their `format`.
    */
  def validate(xml: String): Seq[String] = {
    val errs = scala.collection.mutable.ListBuffer.empty[String]
    val doc = try parseSchema(xml) catch {
      case e: Exception => return Seq(e.getMessage)
    }
    val slotIds = doc.slots.flatMap {
      // id-less celems DEFAULT their branch id to the choice id
      // (choiceOf) — only user-declared distinct branch ids count
      case c: ChoiceSlot => c.id +: c.branches.map(_.id).filter(_ != c.id)
      case _             => Nil
    }
    val allIds = (doc.preamble ++ doc.fields).map(_.id) ++ slotIds
    allIds.groupBy(identity).filter(_._2.size > 1).keys.foreach(id =>
      errs += s"duplicate element id: $id")
    doc.fields.filter(f => f.kind == "formattime" && f.attr("format").isEmpty)
      .foreach(f => errs += s"formattime ${f.id} has no format attribute")
    // the reference parser throws on a formatstr without format
    // (FileParser.scala:166 "without format attribute!")
    doc.fields.filter(f => f.kind == "formatstr" && f.attr("format").isEmpty)
      .foreach(f => errs += s"formatstr ${f.id} has no format attribute")
    errs.toList
  }

  /** Read a delimited text file as described by a DFASDL schema: the field
    * separator is the record's `stop-sign` (default `,`), a preamble element
    * means the file starts with a header line, and `format`-patterned
    * date/time/number fields parse through their pattern. This is the
    * FileParser → DataTreeDocument path collapsed into one distributed scan:
    * the format conversions are plain Catalyst expressions layered over the
    * csv read, so pruning and pushdown still apply.
    */
  def readDelimited(spark: SparkSession, path: String, doc: Doc): DataFrame = {
    if (isLineChoiceDoc(doc)) return readChoiceLines(spark, path, doc)
    if (isTokenStreamDoc(doc)) return readTokenStream(spark, path, doc)
    if (isChoiceStreamDoc(doc)) return readChoiceStream(spark, path, doc)
    // a single-field record with no (or a line-break) stop-sign is one
    // whole line per record — the reference reads to DEFAULT_STOP_SIGN
    // (parsers/BaseParser.scala:50, a newline regex). Routing it through
    // the csv source would instead split at the default "," and silently
    // truncate any comma-bearing line to its first token (r9).
    doc.slots match {
      case Seq(f: Field)
          if f.attr("stop-sign").forall(s => s == "\\r\\n?|\\n" || s == "\n") =>
        return bounded(rawLines(spark, path, doc)
          .select(convert(f, col("value")).as(f.id)), doc)
      case _ => ()
    }
    requireUniformSep(doc)
    val raw = spark.read
      .option("header", doc.preamble.nonEmpty.toString)
      .option("sep", sepOf(doc))
      .schema(rawSchema(doc))
      .csv(path)
    bounded(raw.select(slotCols(doc): _*), doc)
  }

  // ------------------------------- line-shaped multi-leaf choice documents

  /** Is this document the reference's token-stream choice shape — ONE choice
    * as the whole record, with at least one multi-leaf branch? Its
    * email-header / vCard schemas pair a `start-sign`-anchored label leaf
    * (stop-sign `:`) with a value leaf per branch; each RECORD is one line
    * and the branch's own stop-signs split it from within.
    */
  private def isLineChoiceDoc(doc: Doc): Boolean = doc.slots match {
    case Seq(c: ChoiceSlot) => c.branches.exists(_.leaves.size > 1)
    case _                  => false
  }

  /** Per-branch extraction regex over one raw record line: every leaf but
    * the last captures up to its `stop-sign` (a regex fragment, exactly how
    * the reference embeds it — FileParserFunctions.buildRegularExpression
    * interpolates the stop sign into the pattern), anchored by the leaf's
    * `start-sign` when declared; the last leaf captures the rest. Returns
    * the pattern plus each leaf's CAPTURE-GROUP index — computed by
    * counting the groups each fragment actually contributes, so a
    * start-sign/stop-sign fragment carrying its own capture groups (a
    * plain regex alternation like `(F|f)rom`) cannot shift which group a
    * later leaf reads.
    */
  private def groupsIn(frag: String): Int =
    try java.util.regex.Pattern.compile(frag).matcher("").groupCount()
    catch { case _: java.util.regex.PatternSyntaxException => 1 }

  private def branchLinePlan(b: Branch): (String, Seq[Int]) = {
    def startOf(f: Field) = f.attr("start-sign").map(p => s"(?:$p)").getOrElse("")
    val frags = b.leaves.init.map { f =>
      s"(${startOf(f)}.*?)(?:${f.attr("stop-sign").getOrElse(",")})"
    } :+ s"(${startOf(b.leaves.last)}.*)"
    val idxs = frags.map(groupsIn).scanLeft(0)(_ + _).init.map(_ + 1)
    ("(?s)^" + frags.mkString + "$", idxs)
  }

  // ------------------------------------------ token-stream documents (r9)

  /** Is this a TOKEN-STREAM document — plain leaves whose stop-signs
    * differ, so a record is a run of individually-terminated tokens rather
    * than one separator-split line? The reference's vCard schemas are the
    * canonical case: `<str class="label" stop-sign=":"/>` label tokens
    * alternate with value leaves that carry NO stop-sign and therefore
    * terminate at the parser default `\r\n?|\n`
    * (parsers/BaseParser.scala:50 DEFAULT_STOP_SIGN) — a 16-line
    * label:value stream per record. Uniform-separator docs (every non-final
    * stop-sign equal) stay on the csv path; mixed signs dispatch here
    * (previously a typed reject).
    */
  private def isTokenStreamDoc(doc: Doc): Boolean = {
    val fields = doc.slots.collect { case f: Field => f }
    fields.size == doc.slots.size && fields.size > 1 && (
      fields.init.map(_.attr("stop-sign")).distinct.size > 1 ||
        // all-sign-less records stay CSV (see the resolution note below)
        // EXCEPT when the leaves are nested-fixseq instance expansions:
        // a stacked-sequence stream shape (the reference's vCard
        // complex-03 — fixseq of one formatstr per LINE) that no emitted
        // or hand-sketched columnar CSV schema ever produces, so the
        // ambiguity doesn't arise and the reference's newline default is
        // the only sensible framing
        (fields.forall(_.attr("stop-sign").isEmpty) &&
          fields.exists(_.attrs.contains(FixseqInstanceMarker))))
  }
  // DELIBERATE AMBIGUITY RESOLUTION: a multi-leaf record whose leaves ALL
  // lack stop-signs stays on the CSV path (default separator ","), even
  // though the reference parser would read each sign-less leaf to its
  // newline default (one leaf per line — its vCard complex-03/04/05
  // stacked-fixseq fixtures). The reference's own CSVSchemaExtractor
  // always writes explicit stop-signs (as does [[emit]] since r9), so a
  // fully sign-less doc is almost always a hand-sketched columnar schema
  // meaning CSV; flipping the default would silently re-frame every such
  // document. Authors who mean the one-leaf-per-line stream write a
  // stop-sign on ANY leaf (mixed signs dispatch to the token-stream
  // reader above).

  /** The whole-record extraction regex for a token-stream doc: one
    * fragment per leaf capturing up to its stop-sign (a regex fragment,
    * interpolated exactly as the reference's
    * FileParserFunctions.buildRegularExpression does), defaulting to the
    * parser's newline default for sign-less leaves. Returns the pattern
    * (unwrapped) and each leaf's capture-group index within it.
    */
  /** One leaf's shape fragment — a lazy capture to its stop-sign (or the
    * newline default). The leaf's TYPE is invisible here: dispatch
    * between same-shape branches is the typed predicates' job.
    */
  private def leafFrag(f: Field): String = {
    val start = f.attr("start-sign").map(p => s"(?:$p)").getOrElse("")
    s"($start.*?)" +
      f.attr("stop-sign").map(s => s"(?:$s)").getOrElse("(?:\\r\\n?|\\n|$)")
  }

  private def tokenStreamPlan(fields: Seq[Field]): (String, Seq[Int]) = {
    val frags = fields.map(leafFrag)
    val idxs = frags.map(groupsIn).scanLeft(0)(_ + _).init.map(_ + 1)
    (frags.mkString, idxs)
  }

  /** Read a token-stream document ([[isTokenStreamDoc]]) — the reference's
    * sequential FileParser consuming one stop-sign-terminated token per
    * element, re-expressed as two regex passes over per-file text: records
    * are the successive matches of the whole-record pattern
    * (`regexp_extract_all` + explode), then each leaf extracts by capture
    * group. Both passes are codegen'd Catalyst expressions.
    *
    * Parallelism note (r14): framing is a LADDER. LINE-ANCHORED docs
    * ([[lineAnchoredRun]] — every mid-record stop-sign provably
    * intra-line, record ends at its line end) frame by Spark's splittable
    * line reader. FIXED-ARITY multi-line docs (the vCard label:value
    * stacks — [[lineBlockArity]] = n) frame by byte-range splits with
    * prefix-sum line ordinals ([[lineBlockRecords]]), falling back to
    * `wholetext` when the input already has a file per task slot or a
    * file's line count is not a multiple of n (raggedness somewhere —
    * ordinal framing would phase-shift every later record). Only
    * genuinely ambiguous shapes (fixseq-BOUNDED docs whose first-`max`
    * semantics need file order) always keep `wholetext` — one task per
    * file, the reference's one-stream-per-source model.
    *
    * Records that fail the record pattern (truncated tail, stray blank
    * line) are skipped — the reference parser would mark the element BROKEN
    * and stop; a bulk engine surfaces every well-formed record instead.
    */
  /** The record pattern (for record extraction) + groups pattern (for the
    * per-record single-match re-parse) + per-leaf projection over the
    * `__g` groups array, shared by the batch and streaming readers. The
    * leaves read from ONE [[graft.functions.RegexpGroupsExpr]] match per
    * record — `regexp_extract` per leaf would re-run the whole G-fragment
    * pattern G times per record.
    */
  private def tokenStreamRecCols(doc: Doc): (String, String, Seq[Column]) = {
    // both consumers read whole files (no header skip), and a header line
    // could PARTIALLY match the record pattern and shift every record
    // boundary — no token-stream corpus doc declares a preamble, so
    // reject rather than risk silent mis-framing if one ever does
    require(doc.preamble.isEmpty,
      "token-stream documents with a preamble/header are not supported " +
        "(the record pattern scans whole files); strip the header upstream")
    val fields = doc.slots.collect { case f: Field => f }
    val (pat, idxs) = tokenStreamPlan(fields)
    // outer wrap so regexp_extract_all can return the WHOLE record as
    // group 1 during record extraction
    val recPattern = s"($pat)"
    val cols = fields.zip(idxs).collect {
      case (f, g) if !f.anonymous =>
        val v = applyTrim(f, element_at(col("__g"), g))
        // coerce (string input → typed), guarded by the same typed-parse
        // predicate the choice dispatch uses: a malformed numeric/date
        // token nulls like the csv source's PERMISSIVE mode instead of
        // killing the job under ANSI (convert alone would also have left
        // sign-less num/date leaves as raw STRINGS — it expects
        // csv-pre-typed input)
        when(branchMatches(f, v), coerce(f, v)).as(f.id)
    }
    (recPattern, "^" + pat + "$", cols)
  }

  /** Can this start/stop-sign regex fragment EVER match text containing a
    * line terminator? Conservative static answer: reject any fragment
    * carrying a raw line-break character, a character class (`[` — could
    * include one), `$` (re-frames at line boundaries), or an escape that
    * matches or could encode a line break (`\n \r \R \v \s \W \D`, the
    * `\p/\x/\u/\0` encoders, backreferences). Everything else — literals,
    * `.` (no DOTALL anywhere in these readers), safe escapes like
    * `\t \d \w \S`, groups/alternation/quantifiers of safe atoms — cannot
    * consume a line break. False negatives only cost the wholetext
    * fallback, never correctness.
    */
  private def lineSafe(frag: String): Boolean =
    !frag.exists(c => c == '\n' || c == '\r' || c == '\u0085' ||
      c == '\u2028' || c == '\u2029') &&
      // escape ALLOWLIST (r15 \u2014 a denylist kept leaking: \H slipped the
      // r14 class, and any NEGATED class like \H/\W/\D matches a line
      // terminator by construction): the only alphanumeric escapes
      // accepted are ones provably unable to consume a line break \u2014
      // \t \d \w (positive single-line classes), \S (matches any
      // NON-whitespace, never \n), \b \B (zero-width), \Q \E (quoting;
      // a quoted literal terminator is already caught by the raw-char
      // scan above). Everything else alphanumeric is rejected: the
      // terminator escapes (\n \r \R \v), negated classes (\s covers
      // terminators; \W \D \H \V \u2014 \V itself is safe but stays out on
      // the negated-class principle), every encoder that could spell a
      // terminator (\p \P \x \u \c \N, octal \0, backrefs \1-\9 \k),
      // and the anchors/rarities (\A \z \Z \G \a \e \f \h) which are
      // merely harmless \u2014 a false negative only costs the wholetext
      // fallback. Group guard: `(?` introduces inline flags ((?s)
      // re-scopes every later `.` to cross newlines) or lookarounds \u2014
      // reject all but the plain non-capturing `(?:`.
      !java.util.regex.Pattern.compile("""\[|\$|\\[a-zA-Z0-9&&[^tdwSbBQE]]|\(\?[^:]""")
        .matcher(frag).find()

  /** How many physical LINES does one record of this ordered leaf run
    * consume — statically, independent of data? Defined when the final
    * leaf is sign-less (the record ends at its line end, so the next
    * record starts on a fresh line) and every explicit start/stop-sign is
    * [[lineSafe]] (no sign ever consumes a line break). Then each
    * sign-less leaf reads to the parser's newline default — ending
    * exactly one line — while signed leaves stay within the current line
    * (`.` never crosses a terminator and a lineSafe sign cannot match
    * one), so the record arity is the COUNT of sign-less leaves. Returns
    * None when the last leaf carries a sign (the record would end
    * mid-line — byte-range framing would lose the phase) or a sign could
    * span lines.
    */
  private def lineBlockArity(leaves: Seq[Field]): Option[Int] =
    if (leaves.nonEmpty && leaves.last.attr("stop-sign").isEmpty &&
        leaves.init.forall(_.attr("stop-sign").forall(lineSafe)) &&
        leaves.forall(_.attr("start-sign").forall(lineSafe)))
      Some(leaves.count(_.attr("stop-sign").isEmpty))
    else None

  /** Is this ordered leaf run LINE-ANCHORED — exactly one record per
    * physical line ([[lineBlockArity]] = 1)? Line-anchored runs frame by
    * Spark's SPLITTABLE line reader — byte-range splits resync at the
    * next line break exactly like Avro's sync markers — instead of one
    * wholetext task per file (the SOURCESCALE_r13-measured 8.4×
    * single-file ceiling).
    */
  private def lineAnchoredRun(leaves: Seq[Field]): Boolean =
    lineBlockArity(leaves).contains(1)

  /** Raw record strings (`__rec`) for a stream-shaped doc: LINE-framed
    * when `lineAnchored` (per-SPLIT parallel — a single multi-GB file
    * fans out across byte ranges), else the whole-record pattern over
    * per-file text (`wholetext` — the reference's one-stream-per-source
    * model, one task per file; multi-line records without a distinctive
    * record anchor are genuinely ambiguous at arbitrary byte offsets, so
    * they keep sequential framing). Zero-length records drop in both
    * modes: a doc whose every fragment is optional (all-sign-less
    * formatstr rows) lets the record pattern make ONE zero-width match at
    * end-of-input — a spurious empty record; no real record is
    * zero-length (even all-blank lines carry their separators).
    */
  private def recordStrings(spark: SparkSession, path: String,
                            recPattern: String,
                            arity: Option[Int]): DataFrame =
    recordStringsFramed(spark, path, recPattern, arity)._1

  /** [[recordStrings]] plus whether FIXED-ARITY BLOCK framing was chosen —
    * the one framing mode whose record boundaries come from line ORDINALS
    * rather than content, so a record its consumer cannot re-parse is
    * evidence of mis-framing (see readTokenStream's phase guard), not of
    * a malformed input region.
    */
  private def recordStringsFramed(spark: SparkSession, path: String,
                                  recPattern: String,
                                  arity: Option[Int]): (DataFrame, Boolean) = {
    def wholetext = spark.read.option("wholetext", "true").text(path)
      .select(explode(
        regexp_extract_all(col("value"), lit(recPattern), lit(1)))
        .as("__rec"))
    val (recs, block) = arity match {
      case Some(1) => (spark.read.text(path).select(col("value").as("__rec")), false)
      case Some(n) => lineBlockRecords(spark, path, n)
        .map((_, true)).getOrElse((wholetext, false))
      case None    => (wholetext, false)
    }
    (recs.filter(length(col("__rec")) > 0), block)
  }

  /** Record strings for a FIXED-ARITY multi-line record run
    * ([[lineBlockArity]] = n > 1, e.g. the vCard label:value stacks):
    * record k is lines [k·n, (k+1)·n) of its file, so framing needs each
    * line's ORDINAL — which Spark's text source drops. The Hadoop line
    * reader keeps byte-range splits, and an ordinal needs its
    * predecessors counted, so this reader runs the DenseId prefix-sum
    * discipline:
    *
    *   pass 1 counts lines per split (a pure IO scan, nothing shuffles,
    *   one (file, splitStart, count) row per split to the driver) and
    *   broadcasts each split's first-line ordinal = the prefix-sum of
    *   its same-file predecessors (splits ordered by byte start);
    *   pass 2 assembles every record that lies WHOLLY inside its split
    *   locally — zero shuffle, the overwhelming majority of a large file;
    *   pass 3 re-reads only to emit the <2n EDGE lines per split (the
    *   head lines finishing the previous split's record, the tail lines
    *   opening the next one) and reassembles those few records with one
    *   tiny (file, recordIdx)-keyed exchange.
    *
    * The corpus text itself NEVER shuffles — three sequential IO scans
    * buy byte-range parallelism over a single multi-GB file (the
    * SOURCESCALE_r13 8.4× one-task ceiling, closed for line-anchored
    * records in r14 — this is the multi-line generalization). All passes
    * read the SAME RDD instance, so the split layout is computed once
    * and identical by construction. Reassembled records join their lines
    * with \n and flow through the SAME `^pattern$` re-parse as wholetext
    * framing — the framing changes, the parse does not (CRLF inputs: the
    * line reader strips \r exactly where the wholetext fragments'
    * `(?:\r\n?|\n|$)` terminators consume it, so values agree; a ragged
    * EOF tail surfaces as a short record string that the anchored
    * re-parse judges exactly like wholetext extraction would).
    *
    * Returns None when the input already has at least one FILE per task
    * slot — there wholetext framing is equally parallel and needs one
    * scan instead of three (measured: 64 files of sf1 token records scan
    * 3.1M rows/s wholetext vs 1.1M through the always-block path).
    */
  private def lineBlockRecords(spark: SparkSession, path: String,
                               n: Int): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    val hConf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(hConf)
    val statuses = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    // count only files the reader will actually split: FileInputFormat's
    // hidden-file filter skips _SUCCESS/.crc companions, and counting
    // them here would over-count past the parallelism bar and skip block
    // framing on exactly the near-single-file inputs it exists for
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    val fileCount = statuses.map { s =>
      if (s.isDirectory)
        fs.listStatus(s.getPath).count(c => c.isFile && visible(c.getPath.getName)).toLong
      else if (visible(s.getPath.getName)) 1L
      else 0L
    }.sum
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    if (fileCount >= par) return None
    // size splits for the session's parallelism — the local-FS default
    // block size would otherwise hand a mid-size file to very few tasks
    val totalBytes = statuses.map(s =>
      if (s.isDirectory) fs.getContentSummary(s.getPath).getLength
      else s.getLen).sum
    val target = math.max(1L << 20,
      math.min(128L << 20, totalBytes / par + 1))
    hConf.setLong("mapreduce.input.fileinputformat.split.maxsize", target)
    val lines = spark.sparkContext.newAPIHadoopFile(path,
        classOf[TextInputFormat], classOf[LongWritable], classOf[Text], hConf)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
    // pass 1: ((file, splitStart), lineCount) — one row per split. Splits
    // self-identify by (file, byte start), NEVER by TaskContext partition
    // id: a downstream coalesce() computes many parent partitions inside
    // ONE task (Verify's coalesce(1) write does exactly this), where the
    // task's partition id is the same for every split it drains — keying
    // the prefix sums by it mis-phased ~15% of records until the sf1 gate
    // caught it.
    val meta = lines.mapPartitionsWithInputSplit { (split, it) =>
      val s = split.asInstanceOf[FileSplit]
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(((s.getPath.toString, s.getStart), c))
    }.collect()
    // PHASE GUARD: ordinal framing assumes every file is a clean stack of
    // n-line records. A single stray line mid-file would shift the phase
    // of EVERY later record — and a shifted label:value pair still
    // full-matches the anchored pattern, so the corruption would be
    // silent (null keys, values from the next record). A file whose line
    // count is not a multiple of n proves raggedness somewhere (a clean
    // ragged EOF tail included) — fall back to the sequential wholetext
    // framing, which resyncs after one bad record instead. Counts are
    // already on the driver from pass 1, so the check is free.
    val fileTotals = meta.groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    if (fileTotals.exists { case (_, total) => total % n != 0 }) return None
    // per file: splits in byte order, each paired with the line count of
    // its same-file predecessors (exclusive prefix sum)
    val firstOrdinal: Map[(String, Long), Long] =
      meta.groupBy(_._1._1).iterator.flatMap { case (_, splits) =>
        val ordered = splits.sortBy(_._1._2)
        ordered.map(_._1).zip(ordered.scanLeft(0L)(_ + _._2).init)
      }.toMap
    val counts: Map[(String, Long), Long] = meta.toMap
    val bc = spark.sparkContext.broadcast((firstOrdinal, counts))
    // a split's WHOLLY-LOCAL ordinal range: [s0, e1] covers the records
    // whose n lines all sit inside this split. A val, not a def: a
    // method-local def referenced inside a task closure lifts onto the
    // enclosing module and drags it into serialization (the r9 Sinks
    // lesson); this lambda captures only (bc, n)
    val localRange: ((String, Long)) => (Long, Long, Long) = { key =>
      val (firsts, cnts) = bc.value
      val first = firsts(key)
      val last = first + cnts(key) - 1
      val s0 = ((first + n - 1) / n) * n
      val e1 = ((last + 1) / n) * n - 1
      (first, s0, e1)
    }
    val splitKey: org.apache.hadoop.mapreduce.InputSplit => (String, Long) = {
      split =>
        val s = split.asInstanceOf[FileSplit]
        (s.getPath.toString, s.getStart)
    }
    // pass 2: in-split records assemble locally — no shuffle
    val local = lines.mapPartitionsWithInputSplit { (split, it) =>
      val (first, s0, e1) = localRange(splitKey(split))
      var no = first
      val buf = new Array[String](n)
      var filled = 0
      new Iterator[String] {
        private var rec: String = _
        private def advance(): Unit = {
          while (rec == null && it.hasNext) {
            val line = it.next()._2.toString
            if (no >= s0 && no <= e1) {
              buf(filled) = line
              filled += 1
              if (filled == n) { rec = buf.mkString("\n"); filled = 0 }
            }
            no += 1
          }
        }
        override def hasNext: Boolean = { advance(); rec != null }
        override def next(): String = {
          advance(); val r = rec; rec = null; r
        }
      }
    }
    // pass 3: only the split-EDGE lines (<2n per split) shuffle, keyed by
    // their (file, record) so straddling records reassemble
    val edges = lines.mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit].getPath.toString
      val (first, s0, e1) = localRange(splitKey(split))
      var no = first - 1
      it.flatMap { case (_, t) =>
        no += 1
        if (no < s0 || no > e1)
          Iterator.single((file, no / n, no % n, t.toString))
        else Iterator.empty
      }
    }
    import spark.implicits._
    val edgeRecs = edges.toDF("__file", "__ri", "__slot", "__line")
      .groupBy(col("__file"), col("__ri"))
      .agg(array_join(transform(array_sort(collect_list(
          struct(col("__slot").as("s"), col("__line").as("l")))),
        x => x.getField("l")), "\n").as("__rec"))
      .select("__rec")
    Some(local.toDF("__rec").unionByName(edgeRecs))
  }

  private def readTokenStream(spark: SparkSession, path: String,
                              doc: Doc): DataFrame = {
    val (recPattern, groupsPattern, cols) = tokenStreamRecCols(doc)
    val fields = doc.slots.collect { case f: Field => f }
    // TWO select stages so the groups re-parse runs once per record —
    // inlining it per leaf would let CollapseProject duplicate the match
    // per output column (the same staging trick the choice reader uses)
    // a fixseq-BOUNDED doc takes the first `max` records in FILE order —
    // sequential semantics only wholetext framing preserves (split/line
    // framing surfaces records in partition order, and Spark packs file
    // splits by size, not position); a bounded read is small by definition
    val arity = if (doc.rowLimit.isDefined) None else lineBlockArity(fields)
    val (framed, blockFramed) =
      recordStringsFramed(spark, path, recPattern, arity)
    val recs = framed
      .select(col("__rec"), graft.functions.RegexFns
        .regexpGroups(col("__rec"), groupsPattern).as("__g"))
    // line framing surfaces EVERY line, including one the record pattern
    // rejects (wholetext framing would simply not have extracted it) — a
    // null match must DROP the line, not emit a phantom all-null row.
    // Same explode-over-conditional-array shape as [[dispatchRows]] (a
    // .filter would be pushed below the staging projection by alias
    // substitution, re-running the groups match per reference).
    //
    // BLOCK framing is different (r15 phase guard): its record boundaries
    // come from line ORDINALS, so a record the anchored pattern rejects is
    // evidence the ordinal phase is wrong — compensating stray lines (one
    // missing + one extra) keep every file's total divisible by n past the
    // static guard in lineBlockRecords while phase-shifting every record
    // between them. Where the shifted text still matches the pattern the
    // corruption stays inherently undetectable, but any record that FAILS
    // the re-parse under block framing now fails the read loudly instead
    // of silently dropping. assert_true rides inside the consumed array
    // expression so column pruning cannot elide the check.
    val arr = when(col("__g").isNotNull, array(struct(cols: _*)))
    val guarded =
      if (blockFramed)
        when(assert_true(col("__g").isNotNull,
          concat(lit("DFASDL block framing: record failed the anchored " +
            "re-parse — a stray line has phase-shifted this fixed-arity " +
            "file (repair the file or force wholetext framing): "),
            substring(col("__rec"), 1, 160))).isNull, arr)
      else arr
    val rows = recs
      .select(explode(guarded).as("__row"))
      .select("__row.*")
    bounded(rows, doc)
  }

  /** Read a line-per-record multi-leaf-choice document ([[isLineChoiceDoc]]):
    * each line tries the branches in order and the first whose pattern
    * matches wins (the reference's BaseParser choice state machine over the
    * byte stream, with the line as the record scope — the parent seq's
    * record stop-sign is the line break). Branch leaves surface as nullable
    * columns; `trim` attributes apply; anonymous label leaves are consumed
    * and dropped. One distributed text scan, all dispatch codegen'd.
    */
  /** The per-line branch-dispatch projection of a line-choice doc, shared
    * by the batch and streaming readers (identical semantics over either
    * source).
    */
  private def choiceLineCols(doc: Doc): Seq[Column] = {
    val ch = doc.slots.head.asInstanceOf[ChoiceSlot]
    val line = col("value")
    val plans = ch.branches.map(branchLinePlan)
    // a branch matches when its line pattern matches AND every leaf's
    // extracted token passes its typed-parse predicate — the reference's
    // BROKEN-branch retry covers type failures, not just shape failures
    // (and under ANSI mode an unguarded cast of a shape-matched but
    // type-invalid token would kill the job instead of falling through)
    val preds = ch.branches.zip(plans).map { case (b, (p, idxs)) =>
      b.leaves.zip(idxs).map { case (f, g) =>
        branchMatches(f, applyTrim(f, regexp_extract(line, p, g)))
      }.foldLeft(line.rlike(p))(_ && _)
    }
    val first = firstMatchOnly(preds)
    ch.branches.zip(plans).zipWithIndex.flatMap {
      case ((b, (p, idxs)), i) =>
        b.leaves.zip(idxs).collect {
          case (f, g) if !f.anonymous =>
            val v = applyTrim(f, regexp_extract(line, p, g))
            when(first(i), coerce(f, v)).as(f.id)
        }
    }
  }

  /** First-match-wins dispatch: entry i holds "predicate i AND no earlier
    * predicate" — the in-order branch retry every choice reader shares
    * ([[choiceCols]], [[choiceLineCols]], [[choiceStreamCols]]).
    */
  private def firstMatchOnly(preds: Seq[Column]): Seq[Column] =
    preds.zipWithIndex.map { case (p, i) =>
      preds.take(i).foldLeft(p)((acc, earlier) => acc && !earlier)
    }

  /** Raw record lines as ONE string column `value`, with a per-file header
    * skip when the doc declares a preamble: route through the csv source
    * purely for its header option — text() has none. Three options keep
    * the borrowed parser's hands off the data lines: a THREE-control-byte
    * separator (a lone \u0001 in a data line would silently truncate it at
    * the split; the triple cannot occur in any text corpus), quoting off,
    * and escape "" (maps to \u0000 in CSVOptions — the default backslash
    * escape would otherwise swallow literal backslashes).
    */
  private def rawLines(spark: SparkSession, path: String, doc: Doc): DataFrame =
    if (doc.preamble.isEmpty) spark.read.text(path)
    else spark.read.option("header", "true")
      .option("sep", "\u0001\u0002\u0001")
      .option("quote", "").option("escape", "")
      .schema(StructType(Seq(StructField("value", StringType)))).csv(path)

  private def readChoiceLines(spark: SparkSession, path: String,
                              doc: Doc): DataFrame =
    bounded(rawLines(spark, path, doc).select(choiceLineCols(doc): _*), doc)

  // --------------------- record-scope multi-leaf choice documents (r12)

  /** Is this a CHOICE-STREAM document — a record mixing other slots with a
    * choice that has at least one MULTI-leaf branch? The reference's
    * BaseParser expresses this with its offset-reset branch retry
    * (parsers/BaseParser.scala:244 handleChoice + BaseParserChoiceState
    * .scala — a BROKEN leaf anywhere in the branch rewinds the stream to
    * the choice start and the next branch re-parses), so a record's token
    * count is branch-dependent and the fixed-arity delimited readers
    * cannot represent it (previously a typed reject). Single-slot docs of
    * this shape stay on the line-choice path ([[isLineChoiceDoc]]).
    */
  private def isChoiceStreamDoc(doc: Doc): Boolean =
    doc.slots.size > 1 && doc.slots.exists {
      case c: ChoiceSlot => c.branches.exists(_.leaves.size > 1)
      case _             => false
    }

  /** Every way the record can parse: the cross product of branch picks
    * over the record's slots, each combination flattened to the ordered
    * leaf run the parser would consume. Ordered in BACKTRACKING order —
    * the LAST choice varies fastest, exactly the retry order of a
    * sequential parser that commits to the earliest branches first and
    * rewinds the most recent choice on failure.
    */
  private def choiceStreamCombos(doc: Doc): Seq[Seq[Field]] =
    doc.slots.foldLeft(Seq(Seq.empty[Field])) { (acc, slot) =>
      val opts: Seq[Seq[Field]] = slot match {
        case f: Field      => Seq(Seq(f))
        case c: ChoiceSlot => c.branches.map(_.leaves)
      }
      for (prefix <- acc; o <- opts) yield prefix ++ o
    }

  /** Shared batch/stream plan for a choice-stream doc: the record
    * extraction pattern (an alternation over every branch combination, so
    * `regexp_extract_all` frames records no matter which branches each
    * record takes), one STAGED [[graft.functions.RegexpGroupsExpr]] match
    * per combination (`groupCols` — the same one-match-per-record staging
    * trick as [[tokenStreamRecCols]]: per-leaf `regexp_extract` would
    * re-run each combination's full pattern per output column), the
    * dispatch `keep` predicate, and the output projection — combination i
    * wins when its anchored pattern full-matches AND every leaf passes its
    * typed-parse predicate and no earlier combination won (the reference's
    * first-branch-that-parses rule, type failures included, lifted from
    * the line scope of [[choiceLineCols]] to the whole record). Losing
    * branches' leaves are null, the either/or nullability the reference's
    * expected-data fixtures show per record. A record that shape-frames
    * but type-fails EVERY combination is dropped by `keep` — the
    * reference parser would mark it BROKEN and stop; a bulk engine
    * surfaces every well-formed record instead (same convention as
    * [[readTokenStream]]'s record skip), rather than emitting a phantom
    * all-null row.
    *
    * FRAMING CAVEAT (shape-first dispatch): record BOUNDARIES commit at
    * the `regexp_extract_all` framing pass — the first alternation branch
    * whose SHAPE matches fixes the record's span BEFORE the typed-parse
    * predicates run. The reference's offset-reset retry
    * (BaseParser.scala:244) is type-aware: a branch that shape-matches
    * but type-fails resets the cursor and re-frames with the next
    * alternative, which can pick a DIFFERENT span. Here a record whose
    * type-correct combination spans differently than an earlier
    * shape-matching one is dropped by `keep` (never mis-parsed), and the
    * framing of SUBSEQUENT records can shift off the reference's. Every
    * supported schema's competing branches frame the same span (the
    * corpus sweep's passing shapes), so the divergence is latent; if a
    * schema needs span-divergent alternatives, order the alternation
    * longest/strictest-first so the type-correct combination frames
    * first.
    */
  private def choiceStreamCols(doc: Doc)
      : (String, Seq[Seq[Column]], Column, Seq[Column]) = {
    require(doc.preamble.isEmpty,
      "choice-stream documents with a preamble/header are not supported " +
        "(the record pattern scans whole files); strip the header upstream")
    val combos = choiceStreamCombos(doc)
    // the combination space still bounds the dispatch: every combination
    // has a representable index and (for shape-diverse schemas) its own
    // alternation branch. No schema the reference ships comes near 64.
    require(combos.size <= 64,
      s"choice document expands to ${combos.size} branch combinations " +
        "(> 64); split the record or reduce the choice fan-out")

    // ---- r15 DECOMPOSED dispatch. The r12 formulation enumerated every
    // combination: one staged regex match + one typed predicate per
    // combination, O(combos × leaves) work per record — the 64-way
    // Scale source stressor priced it at 462k rows/s. Two structural facts
    // collapse that:
    //   (1) leaf fragments are type-blind (`(start.*?)stop`), so
    //       combinations sharing the per-slot SHAPE tuple share one
    //       full-record pattern — one regex match per DISTINCT pattern
    //       ("shape class"), not per combination;
    //   (2) within a shape class, each slot's typed check reads only its
    //       own tokens, so the first fully-type-matching combination is
    //       the PER-SLOT first-passing branch, independently per slot —
    //       the 2^k type cross-product never enumerates.
    // Cross-class priority is exact: each class computes its candidate's
    // ORIGINAL combination index (mixed-radix over the per-slot picks)
    // and the winner is the least index — bit-for-bit the r12 "first
    // combination that shape-matches and type-parses" rule, including
    // interleaved same-shape branches and type-failure retry ACROSS
    // shape classes. Work per record: |distinct patterns| regex matches
    // + |distinct checks| + |classes × slots| tiny coalesces.
    val slotOpts: Seq[Seq[Seq[Field]]] = doc.slots.map {
      case f: Field      => Seq(Seq(f))
      case c: ChoiceSlot => c.branches.map(_.leaves)
    }
    // stride_s = Π sizes after s (choiceStreamCombos: LAST slot fastest)
    val strides: Seq[Int] =
      slotOpts.scanRight(1)((opts, acc) => opts.size * acc).tail
    // shape classes in first-occurrence (= least-combo-index) order
    val picks: Seq[Seq[Int]] =
      slotOpts.foldLeft(Seq(Seq.empty[Int])) { (acc, opts) =>
        for (p <- acc; b <- opts.indices) yield p :+ b
      }
    def shapeTuple(pick: Seq[Int]): Seq[Seq[String]] =
      pick.zip(slotOpts).map { case (b, opts) => opts(b).map(leafFrag) }
    val classes: Seq[Seq[Seq[String]]] = picks.map(shapeTuple).distinct

    // one staged group-match column per DISTINCT flat pattern
    val classFlat: Seq[String] = classes.map(_.flatten.mkString)
    val distinctPatterns = classFlat.distinct
    val patIdx: Map[String, Int] = distinctPatterns.zipWithIndex.toMap
    val groupCols = distinctPatterns.zipWithIndex.map { case (p, j) =>
      graft.functions.RegexFns
        .regexpGroups(col("__rec"), "^" + p + "$").as(s"__g$j")
    }

    // typed checks stage once per distinct (pattern, group, check shape);
    // constant-true kinds (str and the other branchMatches catch-alls)
    // contribute nothing
    def trivialCheck(f: Field): Boolean = f.kind match {
      case "num" | "formatnum" | "date" | "datetime" | "formattime" => false
      case "formatstr" => f.attr("format").isEmpty
      case _ => true
    }
    val checkDefs =
      scala.collection.mutable.LinkedHashMap[(Int, Int, String), (String, Column)]()
    def checkOf(pi: Int, g: Int, f: Field): Option[Column] =
      if (trivialCheck(f)) None
      else {
        val shape = Seq(f.kind, f.attr("format").getOrElse(""),
          f.attr("trim").getOrElse("")).mkString("|")
        val (name, _) = checkDefs.getOrElseUpdate((pi, g, shape),
          (s"__c${checkDefs.size}",
            branchMatches(f, applyTrim(f, element_at(col(s"__g$pi"), g)))))
        Some(col(name))
      }

    // per class: group layout, per-slot candidate dispatch, combo index
    final case class SlotCand(pos: Int, leaves: Seq[Field], groupIdxs: Seq[Int])
    final case class ClassPlan(pi: Int, cands: Seq[Seq[SlotCand]],
                               pickName: Seq[Option[String]], base: Int)
    var pickSeq = List.newBuilder[Column]
    val classPlans: Seq[ClassPlan] = classes.zipWithIndex.map { case (ct, p) =>
      val pi = patIdx(classFlat(p))
      // group base per slot, then per leaf within the slot's fragments
      val slotBases = ct.map(_.map(groupsIn).sum).scanLeft(0)(_ + _).init
      val cands: Seq[Seq[SlotCand]] = slotOpts.zipWithIndex.map { case (opts, s) =>
        val gs = ct(s).map(groupsIn).scanLeft(slotBases(s))(_ + _).init.map(_ + 1)
        opts.zipWithIndex.collect {
          case (leaves, pos) if leaves.map(leafFrag) == ct(s) =>
            SlotCand(pos, leaves, gs)
        }
      }
      val pickName: Seq[Option[String]] = cands.zipWithIndex.map { case (cs, s) =>
        val conjs = cs.map(c => c.leaves.zip(c.groupIdxs)
          .flatMap { case (f, g) => checkOf(pi, g, f) })
        if (cs.size == 1 && conjs.head.isEmpty) None // constant pick
        else {
          val name = s"__p${p}_$s"
          val pick = coalesce(cs.zip(conjs).map { case (c, conj) =>
            when(conj.foldLeft(lit(true))(_ && _), lit(c.pos))
          }: _*)
          pickSeq += pick.as(name)
          Some(name)
        }
      }
      val base = cands.zip(pickName).zipWithIndex.collect {
        case ((cs, None), s) => cs.head.pos * strides(s)
      }.sum
      ClassPlan(pi, cands, pickName, base)
    }
    val pickCols = pickSeq.result()

    // class candidate = its winner's ORIGINAL combination index
    val ccCols = classPlans.zipWithIndex.map { case (cp, p) =>
      val guard = cp.pickName.flatten
        .foldLeft(col(s"__g${cp.pi}").isNotNull)((acc, n) => acc && col(n).isNotNull)
      val idxExpr = cp.pickName.zipWithIndex.collect {
        case (Some(n), s) => col(n) * strides(s)
      }.foldLeft(lit(cp.base): Column)(_ + _)
      when(guard, idxExpr).as(s"__cc$p")
    }
    val ccRefs = classPlans.indices.map(p => col(s"__cc$p"))
    val winner =
      (if (ccRefs.size == 1) ccRefs.head else least(ccRefs: _*)).as("__winner")

    val cols = doc.fields.map { f =>
      val pieces = classPlans.zipWithIndex.flatMap { case (cp, p) =>
        cp.cands.zipWithIndex.flatMap { case (cs, s) =>
          cs.flatMap { c =>
            c.leaves.zip(c.groupIdxs).collectFirst {
              case (lf, g) if lf.id == f.id =>
                val classWon = col("__winner") === col(s"__cc$p")
                val cond = cp.pickName(s) match {
                  case Some(n) => classWon && col(n) === c.pos
                  case None    => classWon
                }
                when(cond, coerce(f, applyTrim(f, element_at(col(s"__g${cp.pi}"), g))))
            }
          }
        }
      }
      coalesce(pieces: _*).as(f.id)
    }
    val recPattern =
      "(" + distinctPatterns.map(p => s"(?:$p)").mkString("|") + ")"
    val stages: Seq[Seq[Column]] =
      Seq(groupCols, checkDefs.values.map { case (n, c) => c.as(n) }.toSeq,
        pickCols, ccCols).filter(_.nonEmpty)
    (recPattern, stages, winner, cols)
  }

  /** Stage the choice-stream projections in dependency order (groups →
    * checks → slot picks → class candidates) — sibling aliases cannot
    * reference each other inside one projection. The first stage replaces
    * the projection (drops `__rec`); later stages are additive.
    */
  private def stageChoiceStream(recs: DataFrame,
                                stages: Seq[Seq[Column]]): DataFrame =
    stages match {
      case head +: tail =>
        tail.foldLeft(recs.select(head: _*))((df, st) =>
          df.select(col("*") +: st: _*))
      case _ => recs
    }

  /** Read a choice-stream document ([[isChoiceStreamDoc]]): records frame
    * by line when EVERY branch combination is [[lineAnchoredRun]]
    * (per-SPLIT parallel — the framing is byte-range splittable no matter
    * which branch each record takes), else by the combination alternation
    * over per-file text (`wholetext`, the reference's
    * one-stream-per-source unit — see [[recordStrings]]). Each record
    * then dispatches to the first branch combination that fully parses.
    * All dispatch is codegen'd Catalyst regex/conditional expressions —
    * one distributed scan, no UDFs.
    */
  /** The per-record dispatch over the staged group arrays: one projection
    * derives `__winner` (it references sibling `__g_i` aliases, so it
    * needs its own stage), then the no-combination-parses drop runs as an
    * explode over a conditional one-element array — `when(winner set,
    * ...)` is null on a dropped record and explode emits nothing for null
    * input. NOT a `.filter` — the optimizer pushes a deterministic filter
    * below the staged projections by SUBSTITUTING the alias definitions,
    * which re-runs every combination's regexp_groups match inside the
    * filter (measured 45% slower end-to-end). The struct multi-references
    * `__winner` and the arrays, so CollapseProject leaves the staging
    * intact.
    */
  private def dispatchRows(staged: DataFrame, winner: Column,
                           cols: Seq[Column]): DataFrame =
    staged.select(col("*"), winner)
      .select(explode(when(col("__winner").isNotNull,
        array(struct(cols: _*)))).as("__row"))
      .select("__row.*")

  private def readChoiceStream(spark: SparkSession, path: String,
                               doc: Doc): DataFrame = {
    val (recPattern, stages, winner, cols) = choiceStreamCols(doc)
    // block framing needs ONE static record arity; a choice doc's arity
    // varies by branch combination, so only the 1-line case frames by
    // line — and a fixseq-bounded doc stays wholetext (first-`max`
    // records in FILE order, which only sequential framing preserves)
    val anchored = doc.rowLimit.isEmpty &&
      choiceStreamCombos(doc).forall(lineAnchoredRun)
    val recs = stageChoiceStream(recordStrings(spark, path, recPattern,
      if (anchored) Some(1) else None), stages)
    // a line no combination parses is dropped by [[dispatchRows]]'s
    // null-winner explode — the line-framed twin of wholetext's
    // never-extracted malformed region
    bounded(dispatchRows(recs, winner, cols), doc)
  }

  /** Streaming twin of [[rawLines]] — same options, `readStream` source. */
  private def rawLinesStream(spark: SparkSession, dirPath: String,
                             doc: Doc): DataFrame =
    if (doc.preamble.isEmpty)
      spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(dirPath)
    else spark.readStream.option("header", "true")
      .option("sep", "\u0001\u0002\u0001")
      .option("quote", "").option("escape", "")
      .schema(StructType(Seq(StructField("value", StringType)))).csv(dirPath)

  /** The reference's `trim` attribute (trim="both"/"left"/"right") on a
    * parsed value.
    */
  private def applyTrim(f: Field, c: Column): Column = f.attr("trim") match {
    case Some("both")  => trim(c)
    case Some("left")  => ltrim(c)
    case Some("right") => rtrim(c)
    case _             => c
  }

  /** Streaming twin of [[readDelimited]]: the same schema and format
    * conversions over `readStream.csv`, so a compiled cookbook recipe
    * applies unchanged to a live drop-directory of delimited exports. The
    * reference agent's polling trigger loop
    * (TenseiAgent parse→process cycles) IS Structured Streaming's file
    * source, distributed and checkpointable.
    */
  def readDelimitedStream(spark: SparkSession, dirPath: String,
                          doc: Doc): DataFrame = {
    requireUnbounded(doc, "readDelimitedStream")
    // r9 parity: every document shape the batch reader accepts streams too,
    // over the same shared projections — a line-choice doc dispatches each
    // arriving line, a token-stream doc explodes records out of each
    // arriving FILE (wholetext; the file is the reference's stream unit)
    if (isLineChoiceDoc(doc))
      return rawLinesStream(spark, dirPath, doc).select(choiceLineCols(doc): _*)
    if (isTokenStreamDoc(doc)) {
      val (recPattern, groupsPattern, cols) = tokenStreamRecCols(doc)
      return spark.readStream.option("wholetext", "true")
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(dirPath)
        .select(explode(regexp_extract_all(col("value"), lit(recPattern),
          lit(1))).as("__rec"))
        .filter(length(col("__rec")) > 0) // see readTokenStream
        .select(graft.functions.RegexFns
          .regexpGroups(col("__rec"), groupsPattern).as("__g"))
        .select(cols: _*)
    }
    if (isChoiceStreamDoc(doc)) {
      val (recPattern, stages, winner, cols) = choiceStreamCols(doc)
      return dispatchRows(
        stageChoiceStream(
          spark.readStream.option("wholetext", "true")
            .schema(StructType(Seq(StructField("value", StringType))))
            .text(dirPath)
            .select(explode(regexp_extract_all(col("value"), lit(recPattern),
              lit(1))).as("__rec"))
            .filter(length(col("__rec")) > 0), // see readTokenStream
          stages),
        winner, cols)
    }
    // single-field sign-less records: whole lines, same as the batch
    // reader (the csv route would split at "," — see readDelimited)
    doc.slots match {
      case Seq(f: Field)
          if f.attr("stop-sign").forall(s => s == "\\r\\n?|\\n" || s == "\n") =>
        return rawLinesStream(spark, dirPath, doc)
          .select(convert(f, col("value")).as(f.id))
      case _ => ()
    }
    requireUniformSep(doc)
    val raw = spark.readStream
      .option("header", doc.preamble.nonEmpty.toString)
      .option("sep", sepOf(doc))
      .schema(rawSchema(doc))
      .csv(dirPath)
    raw.select(slotCols(doc): _*)
  }

  /** Fixed-width flat file described by a DFASDL document whose every field
    * carries a `length` attribute (the reference's fixed-length flat-file
    * path — FileParserFunctions.scala's element-length consumption; the
    * repo's q21 fixed-width source does the byte-walking): widths come from
    * the schema, then the same §3 type coercions apply on top of the
    * string columns.
    */
  def readFixedWidth(spark: SparkSession, path: String, doc: Doc): DataFrame = {
    val raw = Sources.readFixedWidth(spark, path,
      slotWidths(doc).map { case (slot, w) => slot.id -> w })
    bounded(raw.select(doc.slots.flatMap {
      case f: Field if f.anonymous => Nil // consumed, never surfaced
      case f: Field =>
        // typed-parse guard for the same reason as the token-stream
        // reader (r9): a malformed numeric/date slice nulls like the csv
        // source's PERMISSIVE mode; an unguarded ANSI cast kills the job
        Seq(when(branchMatches(f, col(f.id)), coerce(f, col(f.id))).as(f.id))
      case c: ChoiceSlot => choiceCols(c, col(c.id))
    }: _*), doc)
  }

  /** The width of each record slot of a fixed-width document, in record
    * order — the one layout [[readFixedWidth]] and [[writeFixedWidth]]
    * share. Every field needs a `length`; a choice occupies ONE position,
    * so every branch must declare the same length (branch-dependent record
    * widths are the offset-retry shape a byte-sliced reader can't dispatch
    * without parsing — typed rejection beats mis-slicing).
    */
  private def slotWidths(doc: Doc): Seq[(Slot, Int)] = {
    def widthOf(f: Field): Int = f.attr("length").map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"fixed-width DFASDL needs a length attribute on every field; ${f.id} has none"))
    doc.slots.map {
      case f: Field => f -> widthOf(f)
      case c: ChoiceSlot =>
        val ws = c.singleLeafBranches.map(widthOf).distinct
        require(ws.size == 1,
          s"fixed-width choice ${c.id}: branches declare differing lengths " +
            s"(${ws.mkString(", ")}); all branches must share one width")
        c -> ws.head
    }
  }

  // ------------------------------------------- DFASDL-described XML / JSON

  /** XML element name of a leaf: `xml-element-name` with the id as fallback
    * (reference getXmlElementName, parsers/XmlFileParser.scala:403).
    */
  private def xmlName(f: Field): String =
    f.attr("xml-element-name").getOrElse(f.id)

  /** Read XML documents described by a DFASDL schema — the reference's
    * XmlFileParser.scala walks a StAX stream under the DFASDL tree one
    * element at a time inside an actor; here the same description maps onto
    * Spark's native xml source (file-split distributed, pruned) and the §3
    * type coercions layer on top as plain Catalyst expressions:
    *
    *  - the record wrapper (first `elem` under the `seq`) is the `rowTag`;
    *  - each leaf reads the text of the child element named by its
    *    `xml-element-name` (id fallback);
    *  - a leaf carrying `xml-attribute-name` + `xml-attribute-parent` reads
    *    an ATTRIBUTE of the named parent element instead
    *    (XmlFileParser.scala:252-258) — of the row wrapper itself, or of a
    *    sibling leaf's element (text + attribute on the same element);
    *  - `formatnum`/`formattime`/`date` format patterns apply exactly as in
    *    [[readDelimited]].
    */
  def readXml(spark: SparkSession, path: String, doc: Doc,
              rowTag: Option[String] = None): DataFrame = {
    requireNoRepeatInstances(doc, "readXml")
    val (tag, rawSchema, cols) = xmlPlan(doc, rowTag)
    bounded(spark.read.format("xml").option("rowTag", tag).schema(rawSchema)
      .load(path).select(cols: _*), doc)
  }

  /** Streaming twin of [[readXml]] (the xml source is file-based, so it
    * streams a drop-directory of XML exports like any other file source).
    */
  def readXmlStream(spark: SparkSession, dirPath: String, doc: Doc,
                    rowTag: Option[String] = None): DataFrame = {
    requireNoRepeatInstances(doc, "readXmlStream")
    requireUnbounded(doc, "readXmlStream")
    val (tag, rawSchema, cols) = xmlPlan(doc, rowTag)
    spark.readStream.format("xml").option("rowTag", tag).schema(rawSchema)
      .load(dirPath)
      .select(cols: _*)
  }

  /** The shared batch/stream plan for a DFASDL-described XML read: the
    * resolved rowTag, the all-strings raw read schema (a leaf element that
    * also carries mapped attributes surfaces as a struct — valueTag
    * "_VALUE" + "_<attr>"s), and the typed projection back to field ids.
    */
  private def xmlPlan(doc: Doc, rowTag: Option[String])
      : (String, StructType, Seq[Column]) = {
    val tag = rowTag.orElse(doc.rowName).getOrElse("row")
    final case class AttrField(parent: String, name: String, f: Field)
    val (attrFs, plainFs) = doc.fields.partition(f =>
      f.attr("xml-attribute-name").isDefined)
    val attrs = attrFs.map { f =>
      AttrField(f.attr("xml-attribute-parent").getOrElse(tag),
        f.attr("xml-attribute-name").get, f)
    }
    val byParent = attrs.groupBy(_.parent)
    val plainNames = plainFs.map(xmlName).toSet
    def attrStruct(as: Seq[AttrField], withValue: Boolean): StructType =
      StructType(
        (if (withValue) Seq(StructField("_VALUE", StringType)) else Nil) ++
          as.map(a => StructField("_" + a.name, StringType)))
    val rawFields =
      plainFs.map { f =>
        val n = xmlName(f)
        byParent.get(n) match {
          case Some(as) => StructField(n, attrStruct(as, withValue = true))
          case None     => StructField(n, StringType)
        }
      } ++
        byParent.getOrElse(tag, Nil).map(a =>
          StructField("_" + a.name, StringType)) ++
        (byParent - tag).collect {
          case (p, as) if !plainNames(p) => StructField(p, attrStruct(as, withValue = false))
        }
    val cols = doc.fields.map { f =>
      val c = f.attr("xml-attribute-name") match {
        case Some(a) =>
          val parent = f.attr("xml-attribute-parent").getOrElse(tag)
          if (parent == tag) col("_" + a) else col(parent)("_" + a)
        case None =>
          val n = xmlName(f)
          if (byParent.contains(n)) col(n)("_VALUE") else col(n)
      }
      coerce(f, c).as(f.id)
    }
    (tag, StructType(rawFields), cols)
  }

  /** Read JSON records described by a DFASDL schema — the reference's
    * JsonFileParser.scala drives an argonaut cursor from the DFASDL tree
    * (one document, driver-side); here the description maps onto the json
    * source: each leaf reads the object key named by `json-attribute-name`
    * (id fallback — JsonFileParser.scala:194-208), the record stream is
    * either JSON Lines (one object per line, the distributed layout) or a
    * single top-level array document (`multiline = true`, the reference's
    * whole-document shape), and the §3 coercions apply on top.
    */
  def readJson(spark: SparkSession, path: String, doc: Doc,
               multiline: Boolean = false): DataFrame = {
    requireNoRepeatInstances(doc, "readJson")
    def jsonName(f: Field): String = f.attr("json-attribute-name").getOrElse(f.id)
    val raw = spark.read
      .option("multiLine", multiline.toString)
      .schema(StructType(doc.fields.map(f => StructField(jsonName(f), StringType))))
      .json(path)
    bounded(raw.select(doc.fields.map(f =>
      coerce(f, col(jsonName(f))).as(f.id)): _*), doc)
  }

  /** Streaming twin of [[readJson]] (cf. [[readDelimitedStream]]): the same
    * key mapping and coercions over `readStream.json` for a live
    * drop-directory of JSON Lines exports — a compiled cookbook applies
    * unchanged.
    */
  def readJsonStream(spark: SparkSession, dirPath: String, doc: Doc): DataFrame = {
    requireNoRepeatInstances(doc, "readJsonStream")
    requireUnbounded(doc, "readJsonStream")
    def jsonName(f: Field): String = f.attr("json-attribute-name").getOrElse(f.id)
    val raw = spark.readStream
      .schema(StructType(doc.fields.map(f => StructField(jsonName(f), StringType))))
      .json(dirPath)
    raw.select(doc.fields.map(f => coerce(f, col(jsonName(f))).as(f.id)): _*)
  }

  // --------------------------------------------------- cookbook write side

  /** Render one column for the delimited write path per its DFASDL kind —
    * the inverse of [[convert]]/[[coerce]]: format-patterned date/time kinds
    * render THROUGH their pattern, `formatnum` honors `decimal-separator`,
    * binary kinds re-encode base64. The reference's writer stringifies the
    * already-transformed value (writers/FileWriterActor.scala:281-307); the
    * pattern rendering lives in its transformer chain, which this collapses
    * into the writer so emit→write→read round-trips without a cookbook.
    */
  private def renderValue(f: Field, c: Column): Column = f.kind match {
    case "formattime" =>
      date_format(c, f.attr("format").getOrElse("yyyy-MM-dd HH:mm:ss"))
    case "date" if f.attr("format").isDefined => date_format(c, f.attr("format").get)
    case "datetime" if f.attr("format").isDefined =>
      date_format(c, f.attr("format").get)
    case "datetime" => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case "formatnum" if f.attr("decimal-separator").contains(",") =>
      regexp_replace(c.cast(StringType), "\\.", ",")
    case "bin" | "bin64" => base64(c)
    case _               => c.cast(StringType)
  }

  private def render(f: Field, c: Column): Column =
    coalesce(renderValue(f, c), lit("")) // null renders empty, the delimited convention

  /** The written token of one record slot: a plain field renders itself; a
    * choice renders its single populated branch (branches are either/or by
    * construction — [[choiceCols]] — so coalesce picks the matched one).
    */
  private def renderSlot(s: Slot): Column = s match {
    case f: Field => render(f, col(f.id))
    case c: ChoiceSlot =>
      coalesce((c.singleLeafBranches.map(b => renderValue(b, col(b.id))) :+ lit("")): _*)
  }

  private def slotStopSign(s: Slot): Option[String] = s match {
    case f: Field      => f.attr("stop-sign")
    case c: ChoiceSlot => c.leaves.flatMap(_.attr("stop-sign")).headOption
  }

  /** Write a DataFrame as the delimited file a DFASDL schema describes —
    * the target-DFASDL-driven write path (writers/FileWriterActor.scala:
    * value bytes then the element's stop-sign, DEFAULT_STOP_SIGN ","). The
    * uniform-separator case (every field the same `stop-sign` — the
    * reference's delimited exports) writes through the csv sink with a
    * header when the schema declares a preamble; heterogeneous per-field
    * stop-signs concatenate value+sign per row and write as text lines.
    * Columns are matched by field id; both paths are fully distributed
    * (one file per partition) and [[readDelimited]] of the same doc is the
    * exact inverse.
    */
  def writeDelimited(df: DataFrame, doc: Doc, path: String): Unit = {
    if (isLineChoiceDoc(doc)) return writeChoiceLines(df, doc, path)
    if (isChoiceStreamDoc(doc)) return writeChoiceStream(df, doc, path)
    requireNoAnonymous(doc, "writeDelimited")
    val missing = doc.fields.map(_.id).filterNot(df.columns.toSet)
    require(missing.isEmpty, s"DataFrame lacks DFASDL fields: ${missing.mkString(", ")}")
    val stopSigns = doc.slots.map(slotStopSign)
    // uniform = every non-final slot carries the SAME sign option; a
    // sign-less slot among signed ones is a newline-terminated token
    // (vCard label:value), NOT a default-comma CSV column — flattening
    // away the Nones here silently rendered token-stream docs as
    // ':'-separated one-line CSV (r9). The all-None fixseq-instance shape
    // (vCard complex-03) ALSO reads token-stream despite looking uniform,
    // so the write must mirror isTokenStreamDoc's dispatch exactly or
    // write∘read mis-frames those records as comma CSV (r10).
    val uniform = !isTokenStreamDoc(doc) && stopSigns.init.distinct.size <= 1
    if (uniform) {
      val rendered = doc.slots.map(s => renderSlot(s).as(s.id))
      Sinks.writeCsv(df.select(rendered: _*), path,
        header = doc.preamble.nonEmpty, delimiter = sepOf(doc))
    } else {
      // per-field stop-signs: value1 sign1 value2 sign2 ... valueN, newline
      // terminated by the text sink (the reference's last-element stop-sign).
      // A MISSING sign defaults to the line separator exactly like the
      // reference writer (writers/BaseWriter.scala:30 DEFAULT_STOP_SIGN =
      // System.lineSeparator) — that embedded newline is what renders a
      // token-stream record (vCard label:value pairs) back onto multiple
      // physical lines, making readDelimited the exact inverse (r9; was ",")
      val parts = doc.slots.zip(stopSigns).zipWithIndex.flatMap {
        case ((s, ss), i) =>
          val v = renderSlot(s)
          if (i == doc.slots.size - 1) Seq(v)
          else Seq(v, lit(ss.getOrElse("\n")))
      }
      df.select(concat(parts: _*).as("value")).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
    }
  }

  /** Write side of [[readChoiceLines]]: each row renders its POPULATED
    * branch as the branch's leaf values joined by their literal stop-sign
    * text — exactly what the reference's writer emits (value bytes then the
    * element's stop-sign string, uninterpreted; FileWriterActor.scala:
    * 281-307). Branches are either/or by construction, so coalesce picks
    * the one whose leaves are non-null.
    */
  private def writeChoiceLines(df: DataFrame, doc: Doc, path: String): Unit = {
    val ch = doc.slots.head.asInstanceOf[ChoiceSlot]
    val named = ch.branches.map { b =>
      val addressable = b.leaves.filterNot(_.anonymous)
      require(addressable.nonEmpty, s"choice ${ch.id} branch ${b.id} holds " +
        "only anonymous leaves; nothing binds it to a DataFrame column")
      (b, addressable)
    }
    val rendered = named.map { case (b, addressable) =>
      val parts = b.leaves.zipWithIndex.flatMap { case (f, j) =>
        val v: Column =
          if (f.anonymous) lit("") // discarded label bytes are gone; see spec
          else render(f, col(f.id)) // null-safe: concat is null-poisoning
        if (j == b.leaves.size - 1) Seq(v)
        else Seq(v, lit(f.attr("stop-sign").getOrElse(",")))
      }
      when(addressable.map(f => col(f.id).isNotNull).reduce(_ || _),
        concat(parts: _*))
    }
    df.select(coalesce((rendered :+ lit("")): _*).as("value")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
  }

  /** Write side of [[readChoiceStream]] (r12): each record renders its
    * slots in order — plain leaves as value + literal stop-sign text, a
    * choice as its POPULATED branch's leaf run (the same uninterpreted
    * value-then-stop-sign emission as [[writeChoiceLines]], and the same
    * anonymous-label caveat: discarded label bytes are gone, so a branch
    * keyed only by an anonymous start-sign label does not re-read into
    * the same branch — name the label leaf if write∘read must invert).
    * A missing stop-sign defaults to the line separator exactly like the
    * reference writer (writers/BaseWriter.scala:30), mirroring the read
    * side's newline framing default.
    */
  private def writeChoiceStream(df: DataFrame, doc: Doc, path: String): Unit = {
    val missing = doc.fields.map(_.id).filterNot(df.columns.toSet)
    require(missing.isEmpty,
      s"DataFrame lacks DFASDL fields: ${missing.mkString(", ")}")
    def leafPart(f: Field, last: Boolean): Seq[Column] = {
      val v: Column = if (f.anonymous) lit("") else render(f, col(f.id))
      if (last) Seq(v) else Seq(v, lit(f.attr("stop-sign").getOrElse("\n")))
    }
    val parts = doc.slots.zipWithIndex.flatMap { case (slot, i) =>
      val lastSlot = i == doc.slots.size - 1
      slot match {
        case f: Field => leafPart(f, lastSlot)
        case c: ChoiceSlot =>
          val rendered = c.branches.map { b =>
            val addressable = b.leaves.filterNot(_.anonymous)
            require(addressable.nonEmpty, s"choice ${c.id} branch ${b.id} " +
              "holds only anonymous leaves; nothing binds it to a " +
              "DataFrame column")
            val ps = b.leaves.zipWithIndex.flatMap { case (lf, j) =>
              leafPart(lf, lastSlot && j == b.leaves.size - 1)
            }
            when(addressable.map(f => col(f.id).isNotNull).reduce(_ || _),
              concat(ps: _*))
          }
          // an all-branches-null record would render the slot EMPTY — no
          // token, no stop-sign — a malformed record the read side then
          // silently drops; fail loudly instead (coalesce evaluates its
          // fallback only when every branch missed)
          Seq(coalesce(rendered :+ raise_error(lit(
            s"writeChoiceStream: a record populates no branch of choice " +
              s"${c.id}; the written record would not re-read")): _*))
      }
    }
    df.select(concat(parts: _*).as("value")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
  }

  /** Write a DataFrame as the fixed-width flat file a DFASDL schema with
    * `length` attributes describes — the inverse of [[readFixedWidth]]
    * (reference FileParserFunctions' element-length consumption, write
    * side). Each field renders through [[render]] (format patterns,
    * decimal separators, base64) then right-pads with spaces to its
    * declared width; a value wider than its field fails the job rather
    * than silently corrupting every column after it. Distributed text
    * sink, one file per partition.
    */
  def writeFixedWidth(df: DataFrame, doc: Doc, path: String): Unit = {
    requireNoAnonymous(doc, "writeFixedWidth")
    val missing = doc.fields.map(_.id).filterNot(df.columns.toSet)
    require(missing.isEmpty, s"DataFrame lacks DFASDL fields: ${missing.mkString(", ")}")
    // one padded column per record SLOT — a choice occupies ONE position
    // (its single populated branch renders, exactly like readFixedWidth
    // reads one width per choice slot); emitting every branch leaf would
    // shift every later field in the record
    val parts = slotWidths(doc).map { case (slot, w) =>
      val v = slot match {
        case f: Field => render(f, col(f.id))
        case c: ChoiceSlot =>
          coalesce((c.singleLeafBranches.map(b =>
            renderValue(b, col(b.id))) :+ lit("")): _*)
      }
      when(length(v) > w,
        raise_error(concat(lit(s"value too wide for fixed-width slot ${slot.id} (width $w): "), v)))
        .otherwise(rpad(v, w, " "))
    }
    df.select(concat(parts: _*).as("value")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
  }

  /** A document whose record interleaves anonymous skip tokens cannot be
    * WRITTEN from a DataFrame: the discarded token values (the reference's
    * vCard label positions) exist only in the original byte stream.
    */
  private def requireNoAnonymous(doc: Doc, op: String): Unit = {
    val anon = doc.slots.collect { case f: Field if f.anonymous => f }
    require(anon.isEmpty,
      s"$op: the document holds ${anon.size} anonymous (id-less) skip " +
        "element(s); every written slot must be bound to a DataFrame column")
  }

  /** Type coercion from an all-strings read (fixed-width) to the §3 types:
    * pattern-carrying kinds go through [[convert]], the rest cast.
    */
  private def coerce(f: Field, c: Column): Column = f.kind match {
    // try_cast, not cast: branchMatches' digit regex admits tokens beyond
    // Long range (20+ digits), and under ANSI a plain cast then KILLS the
    // job — try_cast keeps the documented PERMISSIVE-style null (r10)
    case "num"                              => trim(c).try_cast(LongType)
    case "date" if f.attr("format").isEmpty => trim(c).try_cast(DateType)
    case "datetime" if f.attr("format").isEmpty => trim(c).try_cast(TimestampType)
    case "bin" | "bin64"                    => unbase64(c)
    case _                                  => convert(f, c)
  }

  /** A fixed-arity CSV read needs ONE separator between record positions.
    * A document whose non-final slots declare MIXED stop-signs (the
    * reference's vCard complex schemas alternate ":"-stopped labels with
    * line-stopped values) is a token-stream layout: its byte-walking parser
    * can honor per-element separators, a columnar CSV split cannot —
    * reject with guidance instead of silently mis-splitting every row.
    * (The final slot's stop-sign is the record terminator; ignored, as the
    * csv source owns line termination.)
    */
  private def requireUniformSep(doc: Doc): Unit = {
    val signs =
      if (doc.slots.size <= 1) Nil
      else doc.slots.init.map(s => slotStopSign(s).getOrElse(",")).distinct
    require(signs.size <= 1,
      s"record declares mixed stop-signs (${signs.mkString(" vs ")}) — not a " +
        "uniform-separator delimited layout. Plain-leaf token streams (the " +
        "vCard label:value shape) dispatch to the r9 token-stream reader " +
        "and line-shaped choice documents dispatch per line; reaching this " +
        "guard means the record mixes a CHOICE slot with differently-" +
        "signed fields, which has no columnar rendering")
  }

  /** The record's field separator: the stop-sign of the NON-FINAL slots
    * (the final slot's stop-sign is the record terminator — the csv source
    * owns line termination). Same slot set [[requireUniformSep]] checks,
    * anonymous skip slots included, so the guard and the read can never
    * disagree.
    */
  private def sepOf(doc: Doc): String = {
    val slots = if (doc.slots.size <= 1) doc.slots else doc.slots.init
    slots.flatMap(slotStopSign).headOption.getOrElse(",")
  }

  /** Fields whose parse needs their format pattern load as strings first;
    * a choice reads its ONE raw token as a string (typed dispatch happens
    * in [[choiceCols]]).
    */
  private def rawSchema(doc: Doc): StructType =
    StructType(doc.slots.map {
      case f: Field =>
        val needsPattern = f.kind match {
          case "formattime" | "formatnum" => true
          case "date" | "datetime"        => f.attr("format").isDefined
          case _                          => false
        }
        StructField(f.id, if (needsPattern) StringType else f.sparkType)
      case c: ChoiceSlot => StructField(c.id, StringType)
    })

  /** Typed projection per record slot: plain fields convert through their
    * pattern; each choice branch materializes as a nullable column holding
    * the token iff ITS branch is the first whose parse succeeds.
    */
  private def slotCols(doc: Doc): Seq[Column] = doc.slots.flatMap {
    case f: Field if f.anonymous => Nil // consumed, never surfaced
    case f: Field      => Seq(convert(f, col(f.id)).as(f.id))
    case c: ChoiceSlot => choiceCols(c, col(c.id))
  }

  /** Would this raw string token parse as branch `f`? Pure predicates (no
    * ANSI-mode cast errors): numerics match by pattern, dates/timestamps by
    * try-parse, and string kinds always match — the reference's catch-all
    * last branch (its num parser rejects non-digits the same way:
    * FileParserFunctions' extract + the BROKEN retry).
    */
  private def branchMatches(f: Field, c: Column): Column = f.kind match {
    case "num" => trim(c).rlike("^[+-]?\\d+$")
    case "formatnum" =>
      val pattern = f.attr("format").getOrElse("(-?[\\d.,]+)")
      val grouped = if (pattern.contains("(")) pattern else s"($pattern)"
      regexp_extract(trim(c), grouped, 1) =!= ""
    case "date" =>
      try_to_timestamp(trim(c),
        lit(f.attr("format").getOrElse("yyyy-MM-dd"))).isNotNull
    case "datetime" | "formattime" =>
      try_to_timestamp(trim(c),
        lit(f.attr("format").getOrElse("yyyy-MM-dd HH:mm:ss"))).isNotNull
    case "formatstr" =>
      // a formatstr branch matches iff its format regex matches the token
      // (the reference's in-choice prefix match over the format pattern)
      f.attr("format").map(p => c.rlike("(?s)" + p)).getOrElse(lit(true))
    case _ => lit(true) // str / time / format / bin: the catch-all branches
  }

  /** [[branchMatches]] plus the leaf's `start-sign` anchor when declared —
    * the reference dispatches its email-header branches on exactly this
    * (a branch whose start-sign doesn't begin the data is BROKEN and the
    * next branch retries).
    */
  private def branchDispatch(f: Field, c: Column): Column =
    f.attr("start-sign") match {
      case Some(p) => c.rlike(s"(?s)^(?:$p)") && branchMatches(f, c)
      case None    => branchMatches(f, c)
    }

  /** First-match-wins dispatch of one raw choice token to its branch
    * columns — branch i gets the value when it matches AND no earlier
    * branch did (the in-order retry of the reference's choice state
    * machine, evaluated as one whole-stage-codegen'd CASE per branch).
    */
  private def choiceCols(ch: ChoiceSlot, raw: Column): Seq[Column] = {
    val leaves = ch.singleLeafBranches
    val first = firstMatchOnly(leaves.map(b => branchDispatch(b, raw)))
    leaves.zipWithIndex.map { case (b, i) =>
      when(first(i), coerce(b, raw)).as(b.id)
    }
  }

  private def convert(f: Field, c: Column): Column = f.kind match {
    case "formattime" =>
      to_timestamp(trim(c), f.attr("format").getOrElse("yyyy-MM-dd HH:mm:ss"))
    case "date" if f.attr("format").isDefined =>
      to_date(trim(c), f.attr("format").get)
    case "datetime" if f.attr("format").isDefined =>
      to_timestamp(trim(c), f.attr("format").get)
    case "formatnum" =>
      // extract via the declared pattern (first group if the pattern has
      // one), normalize the declared decimal separator, cast
      val pattern = f.attr("format").getOrElse("(-?[\\d.,]+)")
      val grouped = if (pattern.contains("(")) pattern else s"($pattern)"
      val raw = regexp_extract(trim(c), grouped, 1)
      val normalized = f.attr("decimal-separator") match {
        case Some(",") => regexp_replace(regexp_replace(raw, "\\.", ""), ",", ".")
        case _         => regexp_replace(raw, ",", "")
      }
      normalized.cast(DoubleType)
    case "str" if f.attr("trim").isDefined => applyTrim(f, c)
    case "formatstr" =>
      // the reference applies the format regex to the raw token and yields
      // group(1) of the first match; a match without a capture group, or no
      // match at all, yields NO data (FileParserFunctions.scala:286-301) —
      // here: null. `(?s)` mirrors its DOTALL compile.
      f.attr("format") match {
        case Some(pattern) if hasCaptureGroup(pattern) =>
          val p = "(?s)" + pattern
          when(regexp_like(c, lit(p)), regexp_extract(c, p, 1))
        case _ => lit(null).cast(StringType)
      }
    case _ => c
  }

  /** Emit a DFASDL schema document for a Spark schema — the write side of
    * SchemaExtractor.scala (the reference emits a DFASDL for every source it
    * inspects; `extractSchemaDdl`/`extractSchemaJson` are the Spark-native
    * reports, this is the reference-native one). Inverse of [[parseSchema]]:
    * `parseSchema(emit(df.schema)).schema` round-trips every §3-mappable
    * type; non-mappable types (arrays, structs, maps) are rejected rather
    * than silently stringified.
    */
  def emit(schema: StructType, id: String = "extracted",
           header: Boolean = false): String = {
    def kindOf(dt: DataType): String = dt match {
      case LongType | IntegerType | ShortType | ByteType => "num"
      case DoubleType | FloatType | _: DecimalType       => "formatnum"
      case DateType                                      => "date"
      case TimestampType                                 => "datetime"
      case BinaryType                                    => "bin"
      case StringType | BooleanType                      => "str"
      case other => throw new IllegalArgumentException(
        s"no DFASDL element for ${other.simpleString}")
    }
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      val extra = f.dataType match {
        case DoubleType | FloatType | _: DecimalType => " decimal-separator=\".\""
        case _ => ""
      }
      // explicit stop-sign on every non-final column, exactly like the
      // reference's CSVSchemaExtractor (helpers/CSVSchemaExtractor.scala:
      // 195 sets STOP_SIGN = separator) — a sign-less leaf means
      // "newline-terminated token" to the reference parser, not "default
      // comma", so an emitted CSV schema must say what it means (r9)
      val stop = if (i < schema.fields.length - 1) " stop-sign=\",\"" else ""
      s"""      <${kindOf(f.dataType)} id="${esc(f.name)}"$stop$extra/>"""
    }.mkString("\n")
    val pre = if (header) "  <str id=\"header\"/>\n" else ""
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="${esc(id)}"
       |        default-encoding="utf-8" semantic="niem">
       |$pre  <seq id="rows">
       |    <elem id="row">
       |$fields
       |    </elem>
       |  </seq>
       |</dfasdl>""".stripMargin
  }

  // ------------------------------------------------------------- cookbook

  final case class Transformation(className: String, options: Map[String, String])
  final case class Mapping(sources: Seq[String], targets: Seq[String],
                           transformations: Seq[Transformation])

  /** A cookbook recipe: `mode` is `one-to-one` (source i feeds target i,
    * MappingOneToOneWorker.scala) or `all-to-all` (every target sees all
    * sources, MappingAllToAllWorker.scala).
    */
  final case class Recipe(id: String, mode: String, mappings: Seq[Mapping])
  final case class Cookbook(id: String, source: Doc, target: Option[Doc],
                            recipes: Seq[Recipe])

  /** Parse a cookbook document:
    * {{{
    * <cookbook id="...">
    *   <source><dfasdl ...>...</dfasdl></source>
    *   <target><dfasdl ...>...</dfasdl></target>   <!-- optional -->
    *   <recipe id="..." mode="one-to-one">
    *     <mapping>
    *       <sources>firstname lastname</sources>
    *       <targets>vorname nachname</targets>
    *       <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
    *         <option name="perform" value="upper"/>
    *       </transformation>
    *     </mapping>
    *   </recipe>
    * </cookbook>
    * }}}
    * The embedded `<dfasdl>` bodies use the reference's own schema layout;
    * the wrapper mirrors its Cookbook/Recipe/MappingTransformation ADT.
    */
  def parseCookbook(xml: String): Cookbook = {
    val root = parseXml(xml)
    require(nameOf(root) == "cookbook", s"not a cookbook: <${root.getTagName}>")
    def embeddedDfasdl(wrapper: XmlElement): Doc = {
      val inner = childElems(wrapper).find(e => nameOf(e) == "dfasdl")
        .getOrElse(throw new IllegalArgumentException(
          s"<${wrapper.getTagName}> holds no <dfasdl> document"))
      parseSchema(nodeToString(inner))
    }
    val source = childElems(root).find(e => nameOf(e) == "source")
      .map(embeddedDfasdl)
      .getOrElse(throw new IllegalArgumentException("cookbook has no <source>"))
    val target = childElems(root).find(e => nameOf(e) == "target").map(embeddedDfasdl)
    val recipes = childElems(root).filter(e => nameOf(e) == "recipe").map { r =>
      val mappings = childElems(r).filter(e => nameOf(e) == "mapping").map { m =>
        def ids(tag: String): Seq[String] = childElems(m)
          .filter(e => nameOf(e) == tag)
          .flatMap(_.getTextContent.trim.split("\\s+")).filter(_.nonEmpty)
        val ts = childElems(m).filter(e => nameOf(e) == "transformation").map { t =>
          Transformation(t.getAttribute("class"),
            childElems(t).filter(e => nameOf(e) == "option")
              .map(o => o.getAttribute("name") -> o.getAttribute("value")).toMap)
        }
        Mapping(ids("sources"), ids("targets"), ts)
      }
      Recipe(Option(r.getAttribute("id")).filter(_.nonEmpty).getOrElse("recipe"),
        Option(r.getAttribute("mode")).filter(_.nonEmpty).getOrElse("one-to-one"),
        mappings)
    }
    require(recipes.nonEmpty, "cookbook defines no recipes")
    Cookbook(Option(root.getAttribute("id")).filter(_.nonEmpty).getOrElse("cookbook"),
      source, target, recipes)
  }

  private def nodeToString(n: Node): String = {
    val t = javax.xml.transform.TransformerFactory.newInstance().newTransformer()
    t.setOutputProperty(javax.xml.transform.OutputKeys.OMIT_XML_DECLARATION, "yes")
    val w = new java.io.StringWriter()
    t.transform(new javax.xml.transform.dom.DOMSource(n),
      new javax.xml.transform.stream.StreamResult(w))
    w.toString
  }

  /** Compile one cookbook recipe to a [[Pipeline.Recipe]] — each mapping
    * becomes a [[Pipeline.FieldMapping]], the transformer chain a fold of
    * [[Transformers]] Column functions, so the executed plan is identical to
    * a hand-written pipeline.
    */
  def compileRecipe(recipe: Recipe): Pipeline.Recipe = {
    val fms = recipe.mappings.flatMap { m =>
      recipe.mode match {
        case "one-to-one" if m.sources.size == m.targets.size && m.sources.nonEmpty =>
          m.sources.zip(m.targets).map { case (s, t) =>
            Pipeline.oneToOne(t, s, c => applyChain(m.transformations, Seq(c)))
          }
        case _ => // all-to-all, or a one-to-one collapsing n sources into fewer targets
          m.targets.map { t =>
            if (m.sources.isEmpty)
              Pipeline.generated(t, applyChain(m.transformations, Nil))
            else
              Pipeline.allToAll(t, m.sources, cols => applyChain(m.transformations, cols))
          }
      }
    }
    Pipeline.Recipe(fms)
  }

  /** Run a whole cookbook against a DataFrame (recipes apply in order to
    * the SAME source, their outputs column-concatenated — the reference
    * processes each recipe against the parsed source tree and writes all
    * recipe outputs to the target).
    *
    * Mapping ORDER (the reference's SortTransformationMappings.scala): the
    * reference topologically sorts recipes/mappings by target-document
    * position (getSortedIdList over the target DFASDL) and by
    * `db-foreign-key` references before processing, because its writer
    * emits target elements SEQUENTIALLY. Order is about write layout only
    * — mapping SOURCES always resolve against the parsed source tree
    * (processor/MappingOneToOneWorker.scala fetches element data from the
    * DataTreeDocument of the SOURCE dfasdl), so no reference mapping ever
    * consumes another mapping's output, and the compiled one-projection
    * form is data-flow order-independent by the same argument. The write-
    * layout half is honored here: when the cookbook declares a target
    * DFASDL, output columns are ordered by its document order (stable for
    * ids the target doesn't know). The foreign-key recipe reorder
    * (sortRecipesByForeignKeys) sequences multi-TABLE database writes; a
    * cookbook here compiles to one DataFrame, so cross-table write
    * sequencing belongs to the caller issuing the writes.
    *
    * A mapping whose source names another mapping's TARGET (and no column
    * of `df`) would silently read nothing under the one-projection model,
    * so it is rejected with a typed error instead.
    */
  def applyCookbook(df: DataFrame, cb: Cookbook): DataFrame = {
    val fms = cb.recipes.flatMap(r => compileRecipe(r).mappings)
    val avail = df.columns.toSet
    val targetIds = fms.map(_.target).toSet
    fms.foreach { m =>
      val targetConsuming = m.sources.filter(s => !avail(s) && targetIds(s))
      require(targetConsuming.isEmpty,
        s"mapping for target '${m.target}' reads ${targetConsuming.mkString(", ")} — " +
          "the target of another mapping, not a source column. Cookbooks " +
          "compile to ONE projection over the source (the reference reads " +
          "mapping sources from the source tree too); chain cookbooks " +
          "explicitly instead: applyCookbook(applyCookbook(df, first), second)")
    }
    // target-element defaults (defaultnum / defaultstr): the reference's
    // mapping workers substitute the TARGET element's declared default when
    // the mapped source data is None or an empty string
    // (processor/MappingOneToOneWorker.scala:291-296 via
    // ProcessorHelpers.getDefaultValue; its DatabaseSchemaExtractor plants
    // these from column DEFAULT clauses). Numeric targets parse the default
    // driver-side so the column type is stable.
    val targetFields: Map[String, Field] =
      cb.target.map(_.fields.map(f => f.id -> f).toMap).getOrElse(Map.empty)
    def withDefault(m: Pipeline.FieldMapping, c: Column): Column =
      targetFields.get(m.target)
        .flatMap(f => f.attr("defaultnum").orElse(f.attr("defaultstr")).map(f -> _))
        .fold(c) { case (f, d) =>
          val dLit = f.kind match {
            case "num" => scala.util.Try(lit(d.trim.toLong)).getOrElse(lit(d))
            case "formatnum" =>
              scala.util.Try(lit(d.trim.toDouble)).getOrElse(lit(d))
            case _ => lit(d)
          }
          when(c.isNull || c.cast(StringType) === lit(""), dLit).otherwise(c)
        }
    val cols = fms.map(m => withDefault(m, m.build(m.sources.map(col))).as(m.target))
    cb.target match {
      case Some(t) =>
        val pos = t.fields.map(_.id).zipWithIndex.toMap
        val sorted = fms.zip(cols)
          .sortBy { case (m, _) => pos.getOrElse(m.target, Int.MaxValue) }
        df.select(sorted.map(_._2): _*)
      case None => df.select(cols: _*)
    }
  }

  /** One transformer-chain step set applied to the current columns; a
    * multi-input transformer (Concat, MergeToJson, ExtractBiggestValue,
    * MergeAndExtractByRegEx) collapses the sequence to one column, a
    * single-input transformer maps over each. The fold ends by merging any
    * leftover multiplicity with a plain concat, mirroring the reference's
    * default pass-through when no merging transformer was configured.
    */
  private def applyChain(ts: Seq[Transformation], cols0: Seq[Column]): Column = {
    val out = ts.foldLeft(cols0) { (cols, t) => applyTransformer(t, cols) }
    out match {
      case Seq(single) => single
      case Nil         => lit(null).cast(StringType)
      case many        => concat_ws("", many: _*)
    }
  }

  private def applyTransformer(t: Transformation, cols: Seq[Column]): Seq[Column] = {
    val name = t.className.substring(t.className.lastIndexOf('.') + 1)
    def opt(k: String, d: String = ""): String = t.options.getOrElse(k, d)
    name match {
      // ---- multi-input: collapse to one column
      case "Concat" =>
        Seq(Transformers.concatAll(opt("separator"), opt("prefix"), opt("suffix"), cols: _*))
      case "MergeToJson" =>
        val labels = opt("labels").split("\\s+").toSeq.filter(_.nonEmpty)
        Seq(Transformers.mergeToJson(labels.zip(cols): _*))
      case "ExtractBiggestValue" =>
        Seq(Transformers.extractBiggestString(cols: _*))
      case "MergeAndExtractByRegEx" =>
        val groups = opt("groups").split("\\s+").toSeq.filter(_.nonEmpty).map(_.toInt)
        Seq(Transformers.mergeExtract(concat_ws("", cols: _*), opt("regexp"),
          opt("filler"), if (groups.isEmpty) Seq(1) else groups))
      // ---- generators (no input)
      case "Overwrite"   => Seq(Transformers.overwrite(opt("value"), opt("type", "string")))
      case "EmptyString" => Seq(Transformers.emptyString)
      case "Nullify"     => Seq(Transformers.nullify())
      // ---- single-input: apply to each current column
      case "LowerOrUpper" =>
        cols.map(Transformers.lowerOrUpper(_, opt("perform", "lower")))
      case "Replace" =>
        val searches = opt("search").split(",").toSeq.filter(_.nonEmpty)
        if (searches.isEmpty) cols // nothing to replace — reference no-ops too
        else if (opt("count") == "first")
          cols.map(c => Transformers.replaceFirst(c, searches.head, opt("replace")))
        else cols.map(c => Transformers.replaceAllOf(c, searches, opt("replace")))
      case "Split" =>
        cols.map(c => Transformers.splitSelect(c, opt("pattern", ","),
          opt("selected", "0").toInt))
      case "CastStringToLong" => cols.map(Transformers.castStringToLong)
      case "DateConverter"    => cols.map(Transformers.epochMillisToTimestamp)
      case "DateTypeConverter" =>
        cols.map(c => Transformers.dateTypeConvert(c, opt("target", "date")))
      case "DateValueToString" =>
        cols.map(c => Transformers.dateValueToString(c, opt("format")))
      case "TimestampCalibrate" =>
        cols.map(c => Transformers.timestampCalibrate(c, opt("perform", "reduce")))
      case "TimestampOffsetTransformer" =>
        cols.map(c => Transformers.timestampOffset(c, opt("offset", "0")))
      case "IfThenElseNumeric" =>
        cols.map(c => Transformers.ifThenElseNumeric(c, opt("if"), opt("then"),
          opt("else"), opt("format") == "dec"))
      case "ToJson" => cols.map(c => Transformers.toJsonLabelled(opt("label", "value"), c))
      case "IDTransformer" =>
        // the reference assigns a fresh surrogate id per written row; the
        // distributed equivalent is the partition-local monotonic id
        Seq(monotonically_increasing_id())
      case other => throw new UnsupportedOperationException(
        s"transformer $other not supported by the cookbook front-end " +
          "(DrupalVanCode/FetchForeignKeyValue need a second input - use " +
          "graft.operators.VanCode / ForeignKey directly)")
    }
  }
}
