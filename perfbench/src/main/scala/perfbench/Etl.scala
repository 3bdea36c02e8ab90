package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Transformers
import graft.operators.{ForeignKey, Profiling}
import graft.pipeline.Pipeline
import graft.sinks.Sinks
import graft.sources.{Dfasdl, Sources}

/** `etl`: the parse -> per-field transform -> write path at a size where
  * execution, not planning, is most of each job.
  *
  * One operation is one cookbook job over inputs staged as CSV (lineitem,
  * part), JSON lines (orders) and DFASDL fixed-width text (customer):
  * read, transform (a Pipeline recipe of Transformers chains and a DFASDL
  * cookbook), resolve three foreign keys, write parquet, CSV and JSON, and
  * profile the written facts.
  *
  * The traced run, after its timed region, splits the job's layers with a
  * ladder of the same job, each rung ending at a `noop` sink: read; read + transform;
  * read + transform + foreign keys; and the full job with its writes.
  */
object Etl extends Workload {
  private def in(ctx: Ctx, name: String): String = ctx.data.resolve(name).toString
  private def out(ctx: Ctx, name: String): String = ctx.work.resolve("etl_out").resolve(name).toString

  private var cookbook: Dfasdl.Cookbook = _
  private var sourceRows = 0L

  /** Lineitem recipe: one projection of Transformers chains. */
  val lineitemRecipe: Pipeline.Recipe = Pipeline.Recipe(Seq(
    Pipeline.oneToOne("orderkey", "l_orderkey"),
    Pipeline.oneToOne("partkey", "l_partkey"),
    Pipeline.oneToOne("linenumber", "l_linenumber"),
    Pipeline.oneToOne("qty_capped", "l_quantity",
      c => Transformers.ifThenElseNumeric(c, "x>40", "x=40", "x")),
    Pipeline.allToAll("net_price", Seq("l_extendedprice", "l_discount"),
      cs => cs(0) * (lit(1.0) - cs(1))),
    Pipeline.allToAll("status", Seq("l_returnflag", "l_linestatus"),
      cs => Transformers.lowerOrUpper(Transformers.concatAll("-", "<", ">", cs: _*), "lower")),
    Pipeline.oneToOne("ship_day", "l_shipdate",
      c => Transformers.splitSelect(c, "T| ", 0))))

  def setup(ctx: Ctx): Unit = {
    cookbook = Dfasdl.parseCookbook(
      new String(Files.readAllBytes(ctx.data.resolve("customer.cookbook.xml")), UTF_8))
    sourceRows = new String(Files.readAllBytes(ctx.data.resolve("source_rows.txt")), UTF_8).trim.toLong
  }

  private final case class Sources4(li: DataFrame, ord: DataFrame, cust: DataFrame, part: DataFrame)

  private def read(ctx: Ctx): Sources4 = ctx.span("sources.open") {
    Sources4(
      Sources.readCsv(ctx.spark, in(ctx, "lineitem_csv")),
      Sources.readJson(ctx.spark, in(ctx, "orders_json")),
      Dfasdl.readFixedWidth(ctx.spark, in(ctx, "customer_fw"), cookbook.source),
      Sources.readCsv(ctx.spark, in(ctx, "part_csv")))
  }

  private def transform(ctx: Ctx, s: Sources4): (DataFrame, DataFrame) = ctx.span("pipeline.build") {
    (Pipeline.transform(s.li, lineitemRecipe), Dfasdl.applyCookbook(s.cust, cookbook))
  }

  private def resolveKeys(ctx: Ctx, s: Sources4, li: DataFrame, cust: DataFrame): DataFrame =
    ctx.span("foreignkey.build") {
      val withCust = ForeignKey.fetch(li, "orderkey", s.ord, "o_orderkey", "o_custkey", "custkey")
      val withBrand = ForeignKey.fetch(withCust, "partkey", s.part, "p_partkey", "p_brand", "brand")
      ForeignKey.fetch(withBrand, "custkey", cust, "c_custkey", "segment", "segment")
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The full job; returns the number of source rows it read. */
  private def job(ctx: Ctx): Long = {
    val s = read(ctx)
    val (li, cust) = transform(ctx, s)
    val facts = resolveKeys(ctx, s, li, cust)
    ctx.span("sinks.write") {
      Sinks.writeParquet(facts, out(ctx, "facts"))
      Sinks.writeCsv(cust, out(ctx, "customers"))
      Sinks.writeJson(s.ord.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total")), out(ctx, "order_status"))
    }
    ctx.span("profiling.profile") {
      val written = ctx.spark.read.parquet(out(ctx, "facts"))
      Profiling.numericProfile(written, Seq("qty_capped", "net_price", "custkey")).collect()
      Profiling.stringProfile(written, Seq("status", "brand", "segment")).collect()
    }
    sourceRows
  }

  /** Ladder rungs 0..2 end at a noop sink; rung 3 is the full job. */
  private def rung(ctx: Ctx, k: Int): Long = k match {
    case 0 => ctx.span("ladder.read") {
      val s = read(ctx); Seq(s.li, s.ord, s.cust, s.part).foreach(noop); sourceRows }
    case 1 => ctx.span("ladder.transform") {
      val s = read(ctx); val (li, cust) = transform(ctx, s)
      Seq(li, s.ord, cust, s.part).foreach(noop); sourceRows }
    case 2 => ctx.span("ladder.foreignkey") {
      val s = read(ctx); val (li, cust) = transform(ctx, s)
      noop(resolveKeys(ctx, s, li, cust)); sourceRows }
    case _ => ctx.span("ladder.full")(job(ctx))
  }

  /** Jobs of about 20 s each, the first one cold. */
  def timed(ctx: Ctx): Unit = for (_ <- 1 to ctx.repeats(20)) ctx.op("job", "job")(job(ctx))

  /** The ladder, twice (the per-layer figures take each rung's faster run). */
  override def layers(ctx: Ctx): Unit =
    for (_ <- 1 to 2; k <- 0 to 3) ctx.op("rung", s"rung$k")(rung(ctx, k))

  override def finish(ctx: Ctx): Unit = {
    val facts = ctx.work.resolve("etl_out").resolve("facts")
    val files = listFiles(facts).filter(_.getFileName.toString.startsWith("part-"))
    val bytes = files.map(Files.size).sum
    val rows = ctx.spark.read.parquet(facts.toString).count()
    ctx.extra("sinks.output_mb") = bytes / 1048576.0
    ctx.extra("sinks.files") = files.size
    ctx.extra("sinks.bytes_per_row") = if (rows > 0) bytes.toDouble / rows else 0.0
    ctx.extra("source_rows") = sourceRows
  }

  private def listFiles(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }
}
