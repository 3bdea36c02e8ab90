package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("custom expressions are callable from SQL") {
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c").createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT cosine_sim(a, b) AS same, cosine_sim(a, c) AS orth FROM vecs")
      .as[(Double, Double)].collect()(0)
    assert(math.abs(r._1 - 1.0) < 1e-9)
    assert(math.abs(r._2) < 1e-9)

    Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L))).toDF("x", "y")
      .createOrReplaceTempView("sets")
    val j = spark.sql("SELECT jaccard_sorted(x, y) AS j FROM sets")
      .as[Double].collect()(0)
    assert(math.abs(j - 0.5) < 1e-9)

    val s = spark.sql(
      "SELECT regexp_replace_some('a0b0c0', '0', '_', 2) AS s")
      .as[String].collect()(0)
    assert(s == "a_b_c0")

    // regexpGroups: one match, ALL capture groups; null array on no-match,
    // null element for a non-participating optional group
    import org.apache.spark.sql.functions.lit
    val gdf = Seq("k1:v1", "nomatch-at-all!", "k2:").toDF("s")
      .select(graft.functions.RegexFns
        .regexpGroups(org.apache.spark.sql.functions.col("s"),
          "^([a-z0-9]+):([a-z0-9]+)?$").as("g"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList))
    assert(gdf(0) == Some(List("k1", "v1")), gdf(0).toString)
    assert(gdf(1) == None, gdf(1).toString)
    assert(gdf(2) == Some(List("k2", null)), gdf(2).toString)
    // and from SQL
    val gs = spark.sql(
      "SELECT regexp_groups('a:b', '^([a-z]+):([a-z]+)$') AS g")
      .collect()(0).getSeq[String](0).toList
    assert(gs == List("a", "b"), gs.toString)
  }

  test("fused text/vector expressions are callable from SQL and match the Column API") {
    Seq(("the quick brown fox jumps", 1L)).toDF("t", "id")
      .createOrReplaceTempView("docs_sql")
    val row = spark.sql(
      """SELECT word_shingle_hashes(t, 3) AS sh, token_hashes(t) AS th,
        |       ngram_hashes(t, 4) AS ng,
        |       sig_agree(minhash_sig(word_shingle_hashes(t, 3), 16),
        |                 minhash_sig(word_shingle_hashes(t, 3), 16)) AS self_agree,
        |       simhash64(token_hashes(t)) AS sim
        |FROM docs_sql""".stripMargin).collect()(0)
    import graft.functions.{ShingleHash, TextFunctions}
    val api = Seq("the quick brown fox jumps").toDF("t").select(
      ShingleHash.wordShingleHashes(org.apache.spark.sql.functions.col("t"), 3).as("sh"),
      ShingleHash.tokenHashes(org.apache.spark.sql.functions.col("t")).as("th"),
      ShingleHash.ngramHashes(org.apache.spark.sql.functions.col("t"), 4).as("ng"))
      .collect()(0)
    assert(row.getSeq[Long](0) == api.getSeq[Long](0))
    assert(row.getSeq[Long](1) == api.getSeq[Long](1))
    assert(row.getSeq[Long](2) == api.getSeq[Long](2))
    assert(row.getDouble(3) == 1.0)

    Seq((Array.fill(8)(0.5f), 1L)).toDF("v", "id").createOrReplaceTempView("vecs_sql")
    val b = spark.sql("SELECT lsh_bucket(v, 6) AS b FROM vecs_sql").as[Long].collect()(0)
    val bApi = Seq(Array.fill(8)(0.5f)).toDF("v")
      .select(graft.functions.VectorExprs.lshBucket(
        org.apache.spark.sql.functions.col("v"), 6)).as[Long].collect()(0)
    assert(b == bApi)
  }

  test("curation text ops are callable from SQL and match the Column API") {
    Seq("<p>Hi &amp; bye</p>. Second one! Done.").toDF("t")
      .createOrReplaceTempView("cur_docs")
    val r = spark.sql(
      """SELECT strip_markup(t) AS clean, split_sentences(t) AS sents,
        |  content_hash(t) = content_hash(upper(t)) AS case_insensitive_hash
        |FROM cur_docs""".stripMargin)
      .as[(String, Seq[String], Boolean)].collect()(0)
    assert(r._1 == "Hi & bye . Second one! Done.")
    assert(r._2 == Seq("<p>Hi &amp; bye</p>", "Second one", "Done."))
    assert(r._3) // contentHash lowercases before hashing
  }

  test("misra_gries and canonicalize_url are callable from SQL") {
    (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"u$i"))
      .toDF("tok").createOrReplaceTempView("hh_sql")
    val sk = spark.sql(
      "SELECT explode(misra_gries(tok, 8)) AS e FROM hh_sql")
      .select("e.item", "e.est").as[(String, Long)].collect().toMap
    assert(sk.contains("hot") && sk("hot") <= 50)
    val u = spark.sql(
      "SELECT canonicalize_url('HTTPS://Ex.COM/Path/?q=1#f') AS cu")
      .as[String].collect()(0)
    assert(u == "https://ex.com/Path")
  }

  test("integral-literal SQL args: BIGINT literals accepted, columns rejected cleanly") {
    Seq("a", "a", "b").toDF("tok").createOrReplaceTempView("lit_sql")
    // CAST(8 AS BIGINT) is a foldable Long literal — must not ClassCastException
    val sk = spark.sql(
      "SELECT explode(misra_gries(tok, CAST(8 AS BIGINT))) AS e FROM lit_sql")
      .select("e.item", "e.est").as[(String, Long)].collect().toMap
    assert(sk("a") == 2L)
    // a column reference is non-foldable — clear plan-time error, not an NPE
    val err = intercept[Exception] {
      spark.sql("SELECT misra_gries(tok, length(tok)) FROM lit_sql").collect()
    }
    assert(err.getMessage.contains("must be a constant integer"),
      err.getMessage)
  }

  test("unicode normalize functions are callable from SQL") {
    // decomposed e+U+0301 composes to U+00E9; NFKC folds the fi ligature
    Seq(("cafe\u0301", "\ufb01sh")).toDF("a", "b").createOrReplaceTempView("norm_sql")
    val r = spark.sql(
      "SELECT nfc_normalize(a) AS na, nfkc_normalize(b) AS nb FROM norm_sql").collect()(0)
    assert(r.getString(0) == "caf\u00e9")
    assert(r.getString(1) == "fish")
  }
}
