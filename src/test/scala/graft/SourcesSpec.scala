package graft

import graft.sources.Sources
import graft.sinks.Sinks
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val sample = Seq(
    (1L, "alpha", 10.5, "2024-01-01"),
    (2L, "beta", 20.25, "2024-01-02"),
    (3L, "gamma", -3.0, "2024-01-03")
  ).toDF("id", "name", "amount", "day")

  test("csv round-trip with header and schema inference") {
    val dir = tmp("csv") + "/out"
    Sinks.writeCsv(sample, dir)
    val back = Sources.readCsv(spark, dir)
    assert(back.count() == 3)
    assert(back.schema("id").dataType.typeName == "integer" ||
      back.schema("id").dataType.typeName == "long")
    assert(back.filter(col("name") === "beta").count() == 1)
  }

  test("csv honors custom delimiter") {
    val dir = tmp("csvd") + "/out"
    Sinks.writeCsv(sample, dir, delimiter = ";")
    val back = Sources.readCsv(spark, dir, delimiter = ";")
    assert(back.columns.toSeq == Seq("id", "name", "amount", "day"))
    assert(back.count() == 3)
  }

  test("json round-trip preserves values") {
    val dir = tmp("json") + "/out"
    Sinks.writeJson(sample, dir)
    val back = Sources.readJson(spark, dir)
    assert(back.count() == 3)
    assert(back.filter(col("amount") < 0).select("name").as[String].collect().toSeq
      == Seq("gamma"))
  }

  test("xml round-trip via Spark 4 native xml source") {
    val dir = tmp("xml") + "/out"
    Sinks.writeXml(sample, dir, rowTag = "row")
    val back = Sources.readXml(spark, dir, rowTag = "row")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "name", "amount", "day"))
  }

  test("jdbc round-trip through embedded Derby") {
    val db = tmp("derby") + "/testdb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample, url, "sample_table", props,
      mode = SaveMode.Overwrite)
    val back = Sources.readJdbc(spark, url, "sample_table", props)
    assert(back.count() == 3)
    assert(back.schema.fieldNames.map(_.toLowerCase).toSet ==
      Set("id", "name", "amount", "day"))
    // partitioned parallel read path
    val part = Sources.readJdbc(spark, url, "sample_table", props,
      partitionColumn = Some("id"), lowerBound = 1, upperBound = 4, numPartitions = 2)
    assert(part.rdd.getNumPartitions == 2)
    assert(part.count() == 3)
  }

  test("jdbc keyed upsert: updates matched keys, inserts new, idempotent") {
    val db = tmp("derbyup") + "/updb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample, url, "up_table", props, mode = SaveMode.Overwrite)
    // change row 2 (two non-key columns), add row 4, leave rows 1 and 3
    val batch = Seq(
      (2L, "BETA", 99.75, "2024-02-02"),
      (4L, "delta", 1.0, "2024-01-04")
    ).toDF("id", "name", "amount", "day")
    Sinks.writeJdbcUpsert(batch, url, "up_table", Seq("id"), props)
    def snapshot() = Sources.readJdbc(spark, url, "up_table", props)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val want = Seq((1L, "alpha", 10.5), (2L, "BETA", 99.75),
      (3L, "gamma", -3.0), (4L, "delta", 1.0))
    assert(snapshot() == want, snapshot().toString)
    // idempotent: the same batch applied again changes nothing
    Sinks.writeJdbcUpsert(batch, url, "up_table", Seq("id"), props)
    assert(snapshot() == want, "re-application must be a no-op")
    // null into a non-key column travels through setNull
    val nullBatch = Seq((3L, null.asInstanceOf[String], -3.0, "2024-01-03"))
      .toDF("id", "name", "amount", "day")
    Sinks.writeJdbcUpsert(nullBatch, url, "up_table", Seq("id"), props)
    val r3 = Sources.readJdbc(spark, url, "up_table", props)
      .filter(col("id") === 3L).collect()(0)
    assert(r3.getAs[String]("name") == null)
    // a duplicate key inside one batch is rejected (order-dependent result)
    val dup = Seq((5L, "x", 1.0, "d"), (5L, "y", 2.0, "d"))
      .toDF("id", "name", "amount", "day")
    val ex = intercept[org.apache.spark.SparkException] {
      Sinks.writeJdbcUpsert(dup, url, "up_table", Seq("id"), props)
    }
    assert(ex.getMessage != null)
    // all-key schemas have no SET clause — rejected up front
    intercept[IllegalArgumentException] {
      Sinks.writeJdbcUpsert(sample.select("id"), url, "up_table", Seq("id"), props)
    }
    // a NULL key would re-insert on every application (k = NULL never
    // matches) — typed rejection instead of silent duplication
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "n", 0.0, "d"))
      .toDF("id", "name", "amount", "day")
    val exN = intercept[org.apache.spark.SparkException] {
      Sinks.writeJdbcUpsert(nullKey, url, "up_table", Seq("id"), props)
    }
    assert(exN.getMessage.contains("null") || exN.getCause != null)
  }

  test("jdbc insert-if-absent skips present keys (the reference's Ignore path)") {
    val db = tmp("derbyia") + "/iadb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample, url, "ia_table", props, mode = SaveMode.Overwrite)
    // row 2 exists → skipped (NOT updated); row 4 is new; row 5 duplicated
    // within the batch → lands once
    val batch = Seq(
      (2L, "CHANGED", 0.0, "x"),
      (4L, "delta", 1.0, "2024-01-04"),
      (5L, "eps", 2.0, "2024-01-05"),
      (5L, "eps-dup", 3.0, "2024-01-05")
    ).toDF("id", "name", "amount", "day")
    Sinks.writeJdbcIfAbsent(batch, url, "ia_table", Seq("id"), props)
    val back = Sources.readJdbc(spark, url, "ia_table", props)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back.size == 5 && back(1) == (2L, "beta"), back.toString) // untouched
    assert(back(3)._1 == 4L && back(4)._1 == 5L, back.toString)
    // idempotent: re-applying inserts nothing new
    Sinks.writeJdbcIfAbsent(batch, url, "ia_table", Seq("id"), props)
    assert(Sources.readJdbc(spark, url, "ia_table", props).count() == 5)
    // r10: a NULL key never matches the presence check and would
    // re-insert on every application — rejected like the upsert path
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "n", 0.0, "d"))
      .toDF("id", "name", "amount", "day")
    val exN = intercept[Exception] {
      Sinks.writeJdbcIfAbsent(nullKey, url, "ia_table", Seq("id"), props)
    }
    assert(exN.getMessage.contains("null") ||
      Option(exN.getCause).exists(_.getMessage.contains("null")), exN.toString)
    assert(Sources.readJdbc(spark, url, "ia_table", props).count() == 5)
  }

  test("jdbc keyed delete + CDC apply route tombstones and upserts (r10)") {
    val db = tmp("derbycdc") + "/cdcdb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample, url, "cdc_t", props, mode = SaveMode.Overwrite)
    // delete ids 1 and 3 — non-key columns ignored, absent key 99 no-ops,
    // within-batch duplicate keys collapse
    val dels = Seq((1L, "x"), (3L, "y"), (3L, "y2"), (99L, "z"))
      .toDF("id", "junk")
    Sinks.writeJdbcDelete(dels, url, "cdc_t", Seq("id"), props)
    def snap() = Sources.readJdbc(spark, url, "cdc_t", props)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap().map(_._1) == Set(2L))
    // idempotent: a second application deletes zero rows, no error
    Sinks.writeJdbcDelete(dels, url, "cdc_t", Seq("id"), props)
    assert(snap().map(_._1) == Set(2L))
    // null key rejected like the upsert path
    val exD = intercept[Exception] {
      Sinks.writeJdbcDelete(
        Seq((null.asInstanceOf[java.lang.Long], "x")).toDF("id", "junk"),
        url, "cdc_t", Seq("id"), props)
    }
    assert(exD.getMessage.contains("null") ||
      Option(exD.getCause).exists(_.getMessage.contains("null")), exD.toString)
    // one CDC batch: update k2, insert k6, delete... k2? no — disjoint
    // keys: update k2, insert k6, tombstone k2's neighbor? use: U k2,
    // U k6 (new), D nothing present (k7 absent → no-op), null-op k8 →
    // upserts (insert)
    val batch = Seq(
      (2L, "UPDATED", 9.9, "2024-02-02", "U"),
      (6L, "fresh", 1.0, "2024-01-06", "U"),
      (7L, "gone", 0.0, "2024-01-07", "D"),
      (8L, "nullop", 2.0, "2024-01-08", null.asInstanceOf[String])
    ).toDF("id", "name", "amount", "day", "op")
    Sinks.writeJdbcCdc(batch, url, "cdc_t", Seq("id"), "op", "D", props)
    assert(snap() == Set((2L, "UPDATED"), (6L, "fresh"), (8L, "nullop")),
      snap().toString)
    // a later batch deletes a row the previous one upserted
    val batch2 = Seq((6L, "", 0.0, "", "D")).toDF("id", "name", "amount", "day", "op")
    Sinks.writeJdbcCdc(batch2, url, "cdc_t", Seq("id"), "op", "D", props)
    assert(snap().map(_._1) == Set(2L, 8L), snap().toString)
  }

  test("jdbc upsert binds composite keys and date/timestamp/decimal columns") {
    val db = tmp("derbyty") + "/tydb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    def mk(rows: Seq[(Long, String, java.sql.Date, java.sql.Timestamp, java.math.BigDecimal)]) =
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k1", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k2", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.DateType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("amt", org.apache.spark.sql.types.DecimalType(12, 2)))))
    def d(s: String) = java.sql.Date.valueOf(s)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def m(s: String) = new java.math.BigDecimal(s)
    Sinks.writeJdbc(
      mk(Seq((1L, "a", d("2024-01-01"), t("2024-01-01 10:00:00"), m("10.50")),
             (1L, "b", d("2024-01-02"), t("2024-01-02 10:00:00"), m("20.25")))),
      url, "ty_table", props, mode = SaveMode.Overwrite)
    // update (1,"b") across all three typed columns; insert (2,"a")
    Sinks.writeJdbcUpsert(
      mk(Seq((1L, "b", d("2025-06-30"), t("2025-06-30 23:59:59"), m("99.99")),
             (2L, "a", d("2024-03-04"), t("2024-03-04 00:00:01"), m("-1.00")))),
      url, "ty_table", Seq("k1", "k2"), props)
    val back = Sources.readJdbc(spark, url, "ty_table", props)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, r.getTimestamp(3).toString,
        r.getDecimal(4).toPlainString)).sortBy(x => (x._1, x._2)).toSeq
    assert(back == Seq(
      (1L, "a", "2024-01-01", "2024-01-01 10:00:00.0", "10.50"),
      (1L, "b", "2025-06-30", "2025-06-30 23:59:59.0", "99.99"),
      (2L, "a", "2024-03-04", "2024-03-04 00:00:01.0", "-1.00")), back.toString)
  }

  test("keyed jdbc sinks under PostgreSQL-style SUCCESS_NO_INFO batches (proxy driver, r11)") {
    ProxyJdbc.install()
    ProxyJdbc.reset()
    val db = tmp("proxyni") + "/nidb"
    val url = s"jdbc:graftproxy:$db;create=true"
    val plain = s"jdbc:derby:$db"
    val props = Map("driver" -> classOf[ProxyJdbcDriver].getName)
    val dprops = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    // seed through the PLAIN derby url: Spark's jdbc writer picks its
    // dialect by URL prefix, and the unknown proxy prefix maps StringType
    // to TEXT, which Derby rejects — the keyed sinks themselves never
    // CREATE TABLE, so they run through the proxy
    Sinks.writeJdbc(sample, s"$plain;create=true", "ni_t", dprops,
      mode = SaveMode.Overwrite)
    def snap() = Sources.readJdbc(spark, plain, "ni_t", dprops)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // every UPDATE batch entry reports SUCCESS_NO_INFO: the sink must
    // probe EVERY row's existence instead of trusting counts — matched
    // rows update (not duplicate-insert), missing rows insert
    ProxyJdbc.noInfo = true
    val batch = Seq((2L, "BETA", 99.75, "2024-02-02"),
      (4L, "delta", 1.0, "2024-01-04")).toDF("id", "name", "amount", "day")
    Sinks.writeJdbcUpsert(batch, url, "ni_t", Seq("id"), props)
    val want = Seq((1L, "alpha", 10.5), (2L, "BETA", 99.75),
      (3L, "gamma", -3.0), (4L, "delta", 1.0))
    assert(snap() == want, snap().toString)
    assert(ProxyJdbc.existsProbes.get() >= 2,
      "SUCCESS_NO_INFO rows must fall back to the existence probe")
    // idempotent under the no-info dialect too
    Sinks.writeJdbcUpsert(batch, url, "ni_t", Seq("id"), props)
    assert(snap() == want, "re-application must converge")
    // full CDC apply under the same dialect: update, insert, tombstone
    val cdc = Seq((2L, "CDC", 1.0, "x", "U"), (5L, "five", 2.0, "y", "U"),
      (1L, "", 0.0, "", "D")).toDF("id", "name", "amount", "day", "op")
    Sinks.writeJdbcCdc(cdc, url, "ni_t", Seq("id"), "op", "D", props)
    assert(snap() == Seq((2L, "CDC", 1.0), (3L, "gamma", -3.0),
      (4L, "delta", 1.0), (5L, "five", 2.0)), snap().toString)
    ProxyJdbc.reset()
  }

  test("keyed jdbc sinks replay deadlock victims exactly; EXECUTE_FAILED fails the transaction (r11)") {
    ProxyJdbc.install()
    ProxyJdbc.reset()
    val db = tmp("proxydl") + "/dldb"
    val url = s"jdbc:graftproxy:$db;create=true"
    val plain = s"jdbc:derby:$db"
    val props = Map("driver" -> classOf[ProxyJdbcDriver].getName)
    val dprops = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample, s"$plain;create=true", "dl_t", dprops,
      mode = SaveMode.Overwrite)
    def snap() = Sources.readJdbc(spark, plain, "dl_t", dprops)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // two injected deadlock victims (40001 inside BatchUpdateException,
    // as real drivers deliver it): the engine rolled the transaction back
    // whole, so the sink's buffered replay must converge to the exact
    // final state, with the extra executeBatch calls observable
    ProxyJdbc.deadlocksToInject.set(2)
    val batch = Seq((2L, "BETA", 99.75, "2024-02-02"),
      (4L, "delta", 1.0, "2024-01-04")).toDF("id", "name", "amount", "day")
    Sinks.writeJdbcUpsert(batch, url, "dl_t", Seq("id"), props)
    assert(ProxyJdbc.deadlocksToInject.get() == 0, "injections not consumed")
    assert(ProxyJdbc.updateBatches.get() >= 3,
      "replays after deadlock victims must be visible as extra batches")
    assert(snap() == Seq((1L, "alpha", 10.5), (2L, "BETA", 99.75),
      (3L, "gamma", -3.0), (4L, "delta", 1.0)), snap().toString)
    // EXECUTE_FAILED (continue-on-error dialect): probing the failed entry
    // would silently drop its change — the sink must fail the transaction
    // and roll back, leaving the target untouched by the poisoned batch
    val before = snap()
    ProxyJdbc.failLastEntryOnce = true
    val poisoned = Seq((2L, "POISON", 0.0, "z"))
      .toDF("id", "name", "amount", "day")
    val ex = intercept[org.apache.spark.SparkException] {
      Sinks.writeJdbcUpsert(poisoned, url, "dl_t", Seq("id"), props)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(e =>
      Option(e.getMessage).exists(_.contains("batch UPDATE entry failed"))),
      s"expected the typed EXECUTE_FAILED rejection, got $ex")
    assert(snap() == before, "failed transaction must roll back cleanly")
    ProxyJdbc.reset()
  }

  test("orc round-trip") {
    val dir = tmp("orc") + "/out"
    Sinks.writeOrc(sample, dir)
    assert(Sources.readOrc(spark, dir).count() == 3)
  }

  test("partitionBy produces partition-pruned layout") {
    val dir = tmp("part") + "/out"
    Sinks.writeParquet(sample, dir, partitionBy = Seq("day"))
    val back = Sources.readParquet(spark, dir)
    val plan = back.filter(col("day") === "2024-01-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("day"), plan)
  }

  test("fixedwidth DataSource V2: short-name load, parity, column pruning") {
    val dir = tmp("fwv2") + "/out"
    val fields = Seq(("id", 6), ("name", 10), ("qty", 4))
    val src = Seq((1L, "alpha", 10L), (2L, "beta", 20L), (3L, "", 30L))
      .toDF("id", "name", "qty")
      .select(col("id").cast("string"), col("name"), col("qty").cast("string"))
    Sinks.writeFixedWidth(src, dir, fields)
    val v2 = spark.read.format("fixedwidth")
      .option("fields", "id:6,name:10,qty:4").load(dir)
    // parity with the function-call reader
    val fn = Sources.readFixedWidth(spark, dir, fields)
    assert(v2.collect().map(_.toSeq).toSet == fn.collect().map(_.toSeq).toSet)
    assert(v2.count() == 3)
    // empty field surfaces as null under trim (DFASDL default)
    assert(v2.filter(col("id") === "3").select("name").collect()(0).isNullAt(0))
    // column pruning reaches the scan: a 1-column projection reads 1 field
    val pruned = v2.select("qty")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScan in plan:\n" +
      pruned.queryExecution.executedPlan))
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("qty"),
      s"scan not pruned: ${scan.scan.readSchema()}")
  }

  test("fixedwidth V2 write: append + overwrite round-trip, layout in fields order") {
    val dir = tmp("fwv2w") + "/out"
    val opts = Map("fields" -> "id:6,name:10,qty:4")
    // columns deliberately NOT in record order — layout must follow fields
    val batch1 = Seq(("alpha", "1", "10"), ("beta", "2", "20"))
      .toDF("name", "id", "qty")
    batch1.write.format("fixedwidth").options(opts).mode("append").save(dir)
    val back1 = spark.read.format("fixedwidth").options(opts).load(dir)
    assert(back1.count() == 2)
    assert(back1.filter(col("id") === "1").select("name")
      .as[String].collect().toSeq == Seq("alpha"))
    // append adds; overwrite (truncate) replaces
    Seq(("gamma", "3", "30")).toDF("name", "id", "qty")
      .write.format("fixedwidth").options(opts).mode("append").save(dir)
    assert(spark.read.format("fixedwidth").options(opts).load(dir).count() == 3)
    Seq(("delta", "4", "40")).toDF("name", "id", "qty")
      .write.format("fixedwidth").options(opts).mode("overwrite").save(dir)
    val after = spark.read.format("fixedwidth").options(opts).load(dir)
      .as[(String, String, String)].collect().toSeq
    assert(after == Seq(("4", "delta", "40")), s"got $after")
    // no tmp droppings left behind
    val stray = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tmp"))
    assert(stray.isEmpty, s"leftover tmp files: ${stray.mkString(",")}")
  }

  test("fixedwidth V2 reads by readFixedWidth's rule: tabs kept, spaces trimmed, empties null") {
    val dir = tmp("fwrule") + "/in"
    // fields a:4, b:4, c:4 — a tab-led field (Spark's trim strips spaces
    // only), trailing spaces, an empty field, a short line, and widths in
    // code points (U+00E9 is two UTF-8 bytes, U+1D11E four bytes and two
    // UTF-16 chars)
    val multi = "\u00e9\uD834\uDD1E"
    Seq("\tab     c   ", "x   5678 9", "12", multi + "xyabcdefgh").toDF("value")
      .coalesce(1).write.text(dir)
    val fields = Seq(("a", 4), ("b", 4), ("c", 4))
    val v2 = spark.read.format("fixedwidth").option("fields", "a:4,b:4,c:4")
      .load(dir).as[(String, String, String)].collect().toSet
    val fn = Sources.readFixedWidth(spark, dir, fields)
      .as[(String, String, String)].collect().toSet
    assert(fn == Set(("\tab", null, "c"), ("x", "5678", "9"), ("12", null, null),
      (multi + "xy", "abcd", "efgh")), s"function reader: $fn")
    assert(v2 == fn, s"V2 $v2 != function reader $fn")
  }

  test("fixedwidth V2 plans the same input partitions as spark.read.text") {
    val small = tmp("fwparts")
    (0 until 16).foreach(i => Files.write(java.nio.file.Paths.get(small, f"part-$i%02d.txt"),
      f"$i%06dname-$i\n".getBytes("UTF-8")))
    val big = tmp("fwbig")
    Files.write(java.nio.file.Paths.get(big, "one.txt"),
      (0 until 400).map(i => f"$i%06dname-$i%-4s\n").mkString.getBytes("UTF-8"))
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.toRdd.getNumPartitions
    def v2(dir: String) = spark.read.format("fixedwidth")
      .option("fields", "id:6,name:9").load(dir)
    val smallText = parts(spark.read.text(small))
    assert(smallText < 16, s"text scan did not pack small files: $smallText")
    assert(parts(v2(small)) == smallText)
    assert(v2(small).count() == 16)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1024")
      val bigText = parts(spark.read.text(big))
      assert(bigText > 1, s"text scan did not split the file: $bigText")
      assert(parts(v2(big)) == bigText)
      assert(v2(big).count() == 400)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fixedwidth V2 write renders like writeFixedWidth: binary, timestamp_ntz, decimal, code points") {
    val fields = Seq(("bin", 6), ("ntz", 24), ("dec", 10), ("ts", 19), ("s", 3))
    // raw bytes of every line, sorted (ISO-8859-1 maps each byte to a char)
    def lines(dir: String): Seq[String] = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .flatMap(f => new String(Files.readAllBytes(f.toPath), "ISO-8859-1").split("\n"))
      .sorted.toSeq
    // U+1D11E is one code point but two UTF-16 chars: widths count code
    // points, like Spark's rpad
    val clef = "\uD834\uDD1E"
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    try {
      // a non-UTC session zone: both writers render timestamps in it
      spark.conf.set(key, "America/New_York")
      val df = spark.sql("""SELECT * FROM VALUES
        (X'616263', TIMESTAMP_NTZ'2024-03-05 06:07:08.5', CAST(12.340 AS DECIMAL(10,3)),
         TIMESTAMP'2024-03-05 06:07:08'),
        (CAST(NULL AS BINARY), TIMESTAMP_NTZ'1999-12-31 23:59:59', CAST(-0.5 AS DECIMAL(10,3)),
         CAST(NULL AS TIMESTAMP))
        AS t(bin, ntz, dec, ts)""")
        .withColumn("s", when(col("dec") > 0, lit(clef + "abcd")).otherwise(lit(clef)))
      val fnDir = tmp("fwwfn") + "/out"
      val v2Dir = tmp("fwwv2") + "/out"
      Sinks.writeFixedWidth(df, fnDir, fields)
      df.write.format("fixedwidth").option("fields", fields.map { case (n, w) => s"$n:$w" }
        .mkString(",")).mode("overwrite").save(v2Dir)
      val want = lines(fnDir)
      val first = "abc   2024-03-05 06:07:08.5   12.340    2024-03-05 06:07:08" + clef + "ab"
      assert(want.contains(new String(first.getBytes("UTF-8"), "ISO-8859-1")), want)
      assert(lines(v2Dir) == want)
    } finally spark.conf.set(key, before)
  }

  test("fixed-width readers reject malformed field specs, naming the entry") {
    val dir = tmp("fwbad") + "/out"
    Seq("1     alpha").toDF("value").write.text(dir)
    for (spec <- Seq("a", "a:x", "a:-1", "id:6,b:0")) {
      val e = intercept[IllegalArgumentException](
        spark.read.format("fixedwidth").option("fields", spec).load(dir))
      assert(e.getMessage.contains(s"'${spec.split(",").last}'"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      Sources.readFixedWidth(spark, dir, Seq("id" -> 6, "name" -> 0)))
    assert(e.getMessage.contains("'name:0'"), e.getMessage)
  }

  test("schema-evolved parquet: merged read surfaces late columns as nulls") {
    import spark.implicits._
    val dir = tmp("evolve") + "/out"
    // v1 files lack the `score` column a later ingest version added
    Seq((1L, "a")).toDF("id", "name")
      .write.parquet(dir + "/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score")
      .write.parquet(dir + "/batch=2")
    val merged = Sources.readParquetMerged(spark, dir)
    assert(merged.columns.toSet == Set("id", "name", "score", "batch"))
    val rows = merged.select("id", "score")
      .as[(Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, Some(9.5))), s"got $rows")
  }

  test("schema extraction emits DDL like the reference SchemaExtractor") {
    val ddl = Sources.extractSchemaDdl(sample)
    assert(ddl.contains("id BIGINT") && ddl.contains("name STRING"))
    assert(Sources.extractSchemaJson(sample).contains("\"name\":\"amount\""))
  }

  test("excel round-trips through the pure-JDK xlsx source/sink") {
    // full coverage lives in ExcelSpec; this pins the Sources/Sinks surface
    val dir = tmp("xlsx")
    Sinks.writeExcel(sample, dir + "/s.xlsx")
    val back = Sources.readExcel(spark, dir)
    assert(back.columns.toSeq == Seq("id", "name", "amount", "day"))
    assert(back.count() == 3)
    assert(back.filter(col("name") === "beta").count() == 1)
  }

  test("stageHttp downloads then the CSV reader parses (NetworkFileParser path)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "id,name\n1,alpha\n2,beta\n".getBytes("UTF-8")
    server.createContext("/data.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.createContext("/missing.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val staged = Sources.stageHttp(s"$base/data.csv")
      assert(staged.endsWith(".csv"), staged) // remote extension kept
      val df = Sources.readNetworkCsv(spark, s"$base/data.csv")
      assert(df.count() == 2)
      assert(df.filter(col("name") === "beta").count() == 1)
      // a failed download must not leave a half-staged file behind
      intercept[java.io.IOException] { Sources.stageHttp(s"$base/missing.csv") }
    } finally server.stop(0)
  }

  test("extractJdbcCatalog lists every user table with its DDL") {
    val db = tmp("derbycat") + "/catdb"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.writeJdbc(sample.select("id", "name"), url, "t_people", props)
    Sinks.writeJdbc(sample.select("id", "amount"), url, "t_balances", props)
    val cat = Sources.extractJdbcCatalog(spark, url, props).toMap
    val names = cat.keySet.map(_.toLowerCase)
    assert(names.exists(_.endsWith("t_people")) &&
      names.exists(_.endsWith("t_balances")), s"got $names")
    val people = cat.collectFirst {
      case (t, ddl) if t.toLowerCase.endsWith("t_people") => ddl }.get
    assert(people.toUpperCase.contains("ID BIGINT"), people)
    assert(people.toUpperCase.contains("NAME"), people)
    val bal = cat.collectFirst {
      case (t, ddl) if t.toLowerCase.endsWith("t_balances") => ddl }.get
    assert(bal.toUpperCase.contains("AMOUNT DOUBLE"), bal)
    // system tables (SYS.*) are excluded — user tables only
    assert(names.forall(!_.startsWith("sys.")), s"got $names")
  }
}
