package graft.tools

import graft.GraftSession
import graft.sources.{Dfasdl, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Text-source throughput harness: how fast do the three DFASDL
  * text-parsing paths and the two fixed-width readers scan a 10x corpus,
  * and does per-file parallelism actually hold?
  *
  * The DFASDL readers are oracle-gated for correctness (q42-q53) but had
  * no measured scale leg. Each is a different execution shape:
  *   - csv: the uniform-separator path — Spark's csv source + typed
  *     projection (per-SPLIT parallel, the fastest possible baseline).
  *   - token_stream: the whole-record regex over per-file text (q50 shape,
  *     two physical lines per record; parallelism = one task per FILE).
  *   - choice_stream: the r12 branch-combination alternation (q53 shape,
  *     branch-dependent record arity; alternation + per-combination
  *     dispatch predicates are the costliest regex path).
  *   - fixed_width_fn / fixed_width_v2: the same fixed-width records
  *     through [[Sources.readFixedWidth]] (splittable text scan +
  *     substring projection) and `format("fixedwidth")` (one partition
  *     per file), on `files` files and on one file.
  *
  * Each leg stages sf1 orders (~1.5M records) into `files` text files,
  * then times a full scan -> count + checksum aggregate (forces every
  * record through parse + typed coercion; nothing collects but two
  * scalars). min-of-`reps` wall per leg. Output: one JSON line
  *   {"metric":"source_scale","orders_n":...,"files":...,
  *    "surfaces":{name:{"sec":...,"rows_per_s":...}}}
  *
  * Usage: runMain graft.tools.SourceScale [srcDir] [files] [reps]
  */
object SourceScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("target/sf1")
    val files = args.lift(1).map(_.toInt).getOrElse(64)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.get(GraftSession.envCpus(32))
    run(spark, src, files, reps)
    spark.stop()
  }

  private val csvDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCCSV">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <num id="ck" stop-sign=";"/>
      |    <str id="prio" stop-sign=";"/>
      |    <str id="status"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  private val tokenDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCTOK">
      |  <seq id="s"><elem id="r">
      |    <str class="label" stop-sign=":"/>
      |    <num id="okey"/>
      |    <str class="label" stop-sign=":"/>
      |    <str id="prio"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  private val choiceDoc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRCCHOICE">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <choice id="kv">
      |      <celem id="labeled">
      |        <str class="label" start-sign="K" stop-sign=":"/>
      |        <str id="prio" stop-sign=";"/>
      |      </celem>
      |      <celem id="plain"><num id="ck" stop-sign=";"/></celem>
      |    </choice>
      |    <str id="status"/>
      |  </elem></seq>
      |</dfasdl>""".stripMargin)

  /** The combination-cap stressor: five [num|str] choices after a
    * multi-leaf one = 2^6 = 64 combinations, exactly the typed-error
    * bound. Honest worst-case pricing for the alternation framing + 64
    * staged matches per record — the number that justifies (or indicts)
    * the cap.
    */
  private[tools] val choice64Doc = Dfasdl.parseSchema(
    """<dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="SRC64">
      |  <seq id="s"><elem id="r">
      |    <num id="okey" stop-sign=";"/>
      |    <choice id="kv">
      |      <celem id="labeled">
      |        <str class="label" start-sign="K" stop-sign=":"/>
      |        <str id="prio" stop-sign=";"/>
      |      </celem>
      |      <celem id="plain"><num id="ck" stop-sign=";"/></celem>
      |    </choice>
      |""".stripMargin +
      (1 to 5).map(i =>
        s"""    <choice id="c$i">
           |      <celem id="n$i-b"><num id="n$i" stop-sign=";"/></celem>
           |      <celem id="s$i-b"><str id="s$i" stop-sign=";"/></celem>
           |    </choice>
           |""".stripMargin).mkString +
      """    <str id="status"/>
        |  </elem></seq>
        |</dfasdl>""".stripMargin)

  def run(spark: SparkSession, src: String, files: Int, reps: Int): Unit = {
    val orders = spark.read.parquet(s"$src/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderstatus")
    val n = orders.count()
    val base = java.nio.file.Files.createTempDirectory("graft_srcscale")
    // the staged corpora are hundreds of MB per run: EVERYTHING from the
    // first write on sits inside this try so a failure mid-staging (e.g.
    // the second write) still removes the directory
    try {
      // one staged directory per shape, `files` files each so every leg
      // has identical file-level parallelism (the unit of distribution
      // for the wholetext paths)
      val csvPath = s"$base/csv"
      orders.repartition(files)
        .select(concat_ws(";", col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_orderstatus")).as("value"))
        .write.mode("overwrite").text(csvPath)
      val tokPath = s"$base/tok"
      orders.repartition(files)
        .select(concat(lit("KEY:"), col("o_orderkey"),
          lit("\nPRI:"), col("o_orderpriority")).as("value"))
        .write.mode("overwrite").text(tokPath)
      // single-file twin of the 2-line token stack: r14's block framing
      // must fan this one file across byte-range splits (pre-r14 it was
      // the wholetext one-task ceiling)
      val tok1Path = s"$base/tok1"
      orders.repartition(1)
        .select(concat(lit("KEY:"), col("o_orderkey"),
          lit("\nPRI:"), col("o_orderpriority")).as("value"))
        .write.mode("overwrite").text(tok1Path)
      val choiceLine = concat(col("o_orderkey"), lit(";"),
        when(col("o_orderkey") % 2 === 0,
          concat(lit("K:"), col("o_orderpriority")))
          .otherwise(col("o_custkey").cast(StringType)),
        lit(";"), col("o_orderstatus")).as("value")
      val chPath = s"$base/choice"
      orders.repartition(files).select(choiceLine)
        .write.mode("overwrite").text(chPath)
      // the documented single-file ceiling: wholetext makes parallelism =
      // file count, so the SAME records in ONE file run one task — this
      // leg prices that constraint instead of just documenting it
      val ch1Path = s"$base/choice1"
      orders.repartition(1).select(choiceLine)
        .write.mode("overwrite").text(ch1Path)
      // 64-combination stressor data: the five extra tokens alternate
      // num/str by key so records land across the combination space
      val ch64Path = s"$base/choice64"
      orders.repartition(files)
        .select(concat(col("o_orderkey"), lit(";"),
          when(col("o_orderkey") % 2 === 0,
            concat(lit("K:"), col("o_orderpriority")))
            .otherwise(col("o_custkey").cast(StringType)),
          lit(";"),
          concat_ws(";", (1 to 5).map(i =>
            when((col("o_orderkey") / i.toDouble).cast("long") % 2 === 0,
              (col("o_custkey") + i).cast(StringType))
              .otherwise(concat(lit("tok"), lit(i)))): _*),
          lit(";"), col("o_orderstatus")).as("value"))
        .write.mode("overwrite").text(ch64Path)

      // fixed-width twins of the same records; padded wider than any
      // sf value so no field truncates
      val fwFields = Seq("okey" -> 12, "ck" -> 12, "prio" -> 16, "status" -> 2)
      val fwLine = concat(fwFields.zip(Seq("o_orderkey", "o_custkey",
        "o_orderpriority", "o_orderstatus")).map { case ((_, w), c) =>
        rpad(col(c).cast(StringType), w, " ")
      }: _*).as("value")
      val fwPath = s"$base/fw"
      orders.repartition(files).select(fwLine).write.mode("overwrite").text(fwPath)
      val fw1Path = s"$base/fw1"
      orders.repartition(1).select(fwLine).write.mode("overwrite").text(fw1Path)
      val fwSpec = fwFields.map { case (f, w) => s"$f:$w" }.mkString(",")
      def fwFn(p: String) = Sources.readFixedWidth(spark, p, fwFields)
        .select(col("okey").cast("long").as("okey"))
      def fwV2(p: String) = spark.read.format("fixedwidth")
        .option("fields", fwSpec).load(p)
        .select(col("okey").cast("long").as("okey"))

      def scan(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("okey"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val expect = scan(orders.select(col("o_orderkey").as("okey")))

      def leg(name: String, mk: () => DataFrame): (String, Double) = {
        val walls = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val got = scan(mk())
          require(got == expect, s"$name: scanned $got, expected $expect — " +
            "a reader mis-framed records at scale")
          (System.nanoTime() - t0) / 1e9
        }
        (name, walls.min)
      }

      val legs = Seq(
        leg("csv", () => Dfasdl.readDelimited(spark, csvPath, csvDoc)),
        leg("token_stream", () => Dfasdl.readDelimited(spark, tokPath, tokenDoc)),
        leg("token_stream_1file", () =>
          Dfasdl.readDelimited(spark, tok1Path, tokenDoc)),
        leg("choice_stream", () => Dfasdl.readDelimited(spark, chPath, choiceDoc)),
        leg("choice_stream_1file", () =>
          Dfasdl.readDelimited(spark, ch1Path, choiceDoc)),
        leg("choice_stream_64", () =>
          Dfasdl.readDelimited(spark, ch64Path, choice64Doc)),
        leg("fixed_width_fn", () => fwFn(fwPath)),
        leg("fixed_width_fn_1file", () => fwFn(fw1Path)),
        leg("fixed_width_v2", () => fwV2(fwPath)),
        leg("fixed_width_v2_1file", () => fwV2(fw1Path)))
      val surfaces = legs.map { case (name, sec) =>
        f""""$name":{"sec":$sec%.3f,"rows_per_s":${(n / sec).toLong}}"""
      }.mkString(",")
      // one parseable line, same convention as Bench/StreamScale
      println(s"""{"metric":"source_scale","orders_n":$n,"files":$files,""" +
        s""""reps":$reps,"surfaces":{$surfaces}}""")
    } finally graft.TempFiles.deleteRecursively(base)
  }
}
