package graft

import graft.operators.Validators
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class ValidatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("checkAccess distinguishes readable, missing, and glob paths") {
    assert(Validators.checkAccess(spark, s"${TestSpark.sf}/orders.parquet").accessible)
    assert(!Validators.checkAccess(spark, "/no/such/path.parquet").accessible)
    assert(Validators.checkAccess(spark, s"${TestSpark.sf}/*.parquet").accessible)
  }

  test("checkSyntax counts corrupt rows permissively") {
    val dir = Files.createTempDirectory("dirty").toString
    Files.writeString(Paths.get(s"$dir/a.json"),
      """{"id": 1, "v": "ok"}
        |this is not json
        |{"id": 2, "v": "fine"}
        |""".stripMargin)
    val r = Validators.checkSyntax(spark, dir, "json")
    assert(!r.ok && r.corruptRows == 1 && r.rows == 3)
    val clean = Validators.checkSyntax(spark, s"${TestSpark.sf}/orders.parquet", "parquet")
    assert(clean.ok && clean.rows > 0)
  }

  test("contentMatches detects equal and differing datasets") {
    val o = Tables.orders(spark, TestSpark.sf)
    assert(Validators.contentMatches(o, o.repartition(7), Seq("o_orderkey", "o_totalprice")))
    assert(!Validators.contentMatches(o, o.limit(10), Seq("o_orderkey", "o_totalprice")))
  }

  test("checkConstraints counts violations exactly, one row per rule") {
    import spark.implicits._
    import Validators._
    val df = Seq(
      (1L, Some("a@x.io"), Some(10.0), Some(1L)),
      (2L, None,           Some(-5.0), Some(2L)),  // null email, range viol
      (2L, Some("bad"),    Some(20.0), Some(9L)),  // dup key, regex + fk viol
      (3L, Some("c@y.de"), None,       None)       // nulls ignored by range/fk
    ).toDF("k", "email", "amount", "fk")
    val ref = Seq(1L, 2L, 3L).toDF("id")
    val got = checkConstraints(df, Seq(
      NotNull("email"),
      Unique(Seq("k")),
      InRange("amount", 0.0, 100.0),
      MatchesRegex("email", "^[^@]+@[^@]+$"),
      RefIntegrity("fk", ref, "id"),
      Satisfies("k_positive", "k > 0")
    )).as[(String, Long)].collect().toMap
    assert(got == Map(
      "not_null:email" -> 1L,
      "unique:k" -> 1L,
      "in_range:amount" -> 1L,
      "matches:email" -> 1L,
      "ref:fk" -> 1L,
      "satisfies:k_positive" -> 0L
    ), got.toString)
    // knownKeys hint (r11 advice): same violations with the cardinality
    // probe skipped, on both sides of the broadcast gate
    Seq(3L, 2000000L).foreach { hint =>
      val hinted = checkConstraints(df,
        Seq(RefIntegrity("fk", ref, "id", knownKeys = Some(hint))))
        .as[(String, Long)].collect().toMap
      assert(hinted == Map("ref:fk" -> 1L), s"hint=$hint: $hinted")
    }
  }

  test("checkConstraints edge cases: empty frame, empty rule list, null unique keys") {
    import spark.implicits._
    import Validators._
    // empty input: every rule is vacuously satisfied — 0, never NULL
    val empty = Seq.empty[(Long, Option[String])].toDF("k", "email")
    val onEmpty = checkConstraints(empty, Seq(
      NotNull("email"), Unique(Seq("k")), InRange("k", 0.0, 10.0),
      MatchesRegex("email", "^x"), RefIntegrity("k", Seq(1L).toDF("id"), "id"),
      Satisfies("p", "k > 0")
    )).as[(String, Long)].collect().toMap
    assert(onEmpty.values.forall(_ == 0L), onEmpty.toString)
    assert(onEmpty.size == 6)
    // empty rule list: an empty report, not a crash
    assert(checkConstraints(empty, Seq.empty).count() == 0)
    // SQL UNIQUE semantics: null-keyed rows pass; dup (1,"a") counts once
    val nulls = Seq((Some(1L), "a"), (Some(1L), "a"), (None, "b"), (None, "c"))
      .toDF("k", "v")
    val uniq = checkConstraints(nulls, Seq(Unique(Seq("k"))))
      .as[(String, Long)].collect().toMap
    assert(uniq == Map("unique:k" -> 1L), uniq.toString)
  }

  test("scd2 merge versions changes, closes deletions, re-opens re-added keys") {
    import spark.implicits._
    import graft.operators.Scd2
    val s1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val h1 = Scd2.init(s1, "d1")
    // d2: k1 unchanged, k2 changed, k3 removed, k4 added
    val s2 = Seq((1L, "a", 10.0), (2L, "B", 25.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val h2 = Scd2.merge(h1, s2, Seq("k"), Seq("s", "v"), "d2")
    // d3: k3 re-appears with a new value — must open a fresh version
    val s3 = Seq((1L, "a", 10.0), (2L, "B", 25.0), (4L, "d", 40.0), (3L, "c", 31.0))
      .toDF("k", "s", "v")
    val h3 = Scd2.merge(h2, s3, Seq("k"), Seq("s", "v"), "d3")
    val rows = h3.as[(Long, String, Double, String, Option[String])].collect().toSet
    assert(rows == Set(
      (1L, "a", 10.0, "d1", None),           // never touched: open since d1
      (2L, "b", 20.0, "d1", Some("d2")),     // superseded version, closed
      (2L, "B", 25.0, "d2", None),           // current version
      (3L, "c", 30.0, "d1", Some("d2")),     // deleted at d2
      (3L, "c", 31.0, "d3", None),           // re-added at d3
      (4L, "d", 40.0, "d2", None)            // added at d2
    ), rows.toString)
  }

  test("scd2 merge rejects reserved-name clashes, empty column lists and map compares") {
    import spark.implicits._
    import graft.operators.Scd2
    def rejects(snap: org.apache.spark.sql.DataFrame, keys: Seq[String],
                compareCols: Seq[String], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Scd2.merge(Scd2.init(snap, "d1"), snap, keys, compareCols, "d2"))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    // a data column named like the snapshot-side rename of another one
    rejects(Seq((1L, "a")).toDF("k", "__s_k"), Seq("k"), Seq("__s_k"), "reserved")
    // ... or like the presence markers / the exploded row struct
    for (reserved <- Seq("__s_present", "__o_present", "__e"))
      rejects(Seq((1L, "a")).toDF("k", reserved), Seq("k"), Seq(reserved), "reserved")
    rejects(Seq((1L, "a")).toDF("k", "v"), Seq("k", "v"), Seq.empty, "compareCols")
    rejects(Seq((1L, "a")).toDF("k", "v"), Seq.empty, Seq("k", "v"), "keys")
    rejects(Seq((1L, Map("x" -> 1))).toDF("k", "m"), Seq("k"), Seq("m"), "map type")
  }

  test("upsert overwrites matched keys, inserts new ones, passes the rest through") {
    import spark.implicits._
    import graft.operators.Scd2
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val source = Seq((2L, "B"), (4L, "d")).toDF("k", "v")
    val got = Scd2.upsert(target, source, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")), got.toString)
    // r10: NULL keys match null-safely — a null-keyed source winner
    // REPLACES the null-keyed target row instead of appending a duplicate
    // on every apply (idempotence under re-application)
    val tN = Seq((Some(1L), "a"), (None, "old")).toDF("k", "v")
    val sN = Seq((Option.empty[Long], "new")).toDF("k", "v")
    val once = Scd2.upsert(tN, sN, Seq("k"))
    val twice = Scd2.upsert(once, sN, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(twice == Set((Some(1L), "a"), (None, "new")), twice.toString)
  }

  test("snapshotDiff classifies added, removed, changed and same keys") {
    import spark.implicits._
    val a = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0)).toDF("k", "s", "v")
    val b = Seq((1L, "x", 10.0), (2L, "y", 25.0), (4L, "w", 40.0)).toDF("k", "s", "v")
    val diff = Validators.snapshotDiff(a, b, Seq("k"), Seq("s", "v"))
      .as[(Long, String)].collect().toMap
    assert(diff == Map(1L -> "same", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }
}
