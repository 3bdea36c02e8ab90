package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL builders for graft's custom Catalyst expressions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works alongside the Column
  * API — the path a SQL-first user of the engine takes. The list feeds
  * [[graft.GraftExtensions]], which injects it into every session built
  * with `spark.sql.extensions=graft.GraftExtensions` (as
  * [[graft.GraftSession.builder]] sets).
  */
object GraftFunctions {

  /** (name, builder) for every SQL-callable custom expression. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimExpr(exprs(0), exprs(1))),
    "jaccard_sorted" -> (exprs => JaccardSortedExpr(exprs(0), exprs(1))),
    "regexp_replace_some" -> (exprs => RegexpReplaceSomeExpr(exprs(0),
      strLiteral(exprs(1), "regexp_replace_some", "pattern"),
      strLiteral(exprs(2), "regexp_replace_some", "replacement"),
      intLiteral(exprs(3), "regexp_replace_some", "n"))),
    // round-3 fused text/vector expressions
    "word_shingle_hashes" -> (exprs => WordShingleHashExpr(exprs(0),
      intLiteral(exprs(1), "word_shingle_hashes", "k"),
      distinct = true, sorted = false)),
    "token_hashes" -> (exprs =>
      WordShingleHashExpr(exprs(0), 1, distinct = false, sorted = false)),
    "ngram_hashes" -> (exprs =>
      NGramHashExpr(exprs(0), intLiteral(exprs(1), "ngram_hashes", "n"))),
    "minhash_sig" -> (exprs =>
      MinHashSigExpr(exprs(0), intLiteral(exprs(1), "minhash_sig", "n"))),
    "sig_agree" -> (exprs => SigAgreeExpr(exprs(0), exprs(1))),
    "simhash64" -> (exprs => SimHashExpr(exprs(0))),
    "lsh_bucket" -> (exprs =>
      LshBucketExpr(exprs(0), intLiteral(exprs(1), "lsh_bucket", "nBits"))),
    // round-4: int8 scalar quantization for embedding columns
    "sq8_encode" -> (exprs => Sq8EncodeExpr(exprs(0))),
    "sq8_cosine" -> (exprs => Sq8CosineExpr(exprs(0), exprs(1))),
    // round-4: unicode canonicalization (same names DuckDB/utf8proc use)
    "nfc_normalize" -> (exprs => UnicodeNormalizeExpr(exprs(0), "NFC")),
    "nfkc_normalize" -> (exprs => UnicodeNormalizeExpr(exprs(0), "NFKC")),
    // round-5: heavy-hitter support — n-gram texts (hash parity with
    // position_shingle_hashes via xxhash64) and position-kept shingle hashes
    "ngram_texts" -> (exprs =>
      WordNgramTextExpr(exprs(0), intLiteral(exprs(1), "ngram_texts", "n"))),
    "position_shingle_hashes" -> (exprs => WordShingleHashExpr(exprs(0),
      intLiteral(exprs(1), "position_shingle_hashes", "k"),
      distinct = false, sorted = false)),
    // round-5: curation text ops — composed builtin expressions, exposed
    // under one SQL name so SQL-first pipelines call the same semantics
    "strip_markup" -> (exprs => bridged(TextFunctions.stripMarkup, exprs(0))),
    "split_sentences" -> (exprs => bridged(TextFunctions.splitSentences, exprs(0))),
    "content_hash" -> (exprs => bridged(TextFunctions.contentHash, exprs(0))),
    // round-6: bounded-memory heavy-hitters sketch aggregate
    "misra_gries" -> (exprs => MisraGriesAgg(exprs(0),
      intLiteral(exprs(1), "misra_gries", "capacity")).toAggregateExpression()),
    "canonicalize_url" -> (exprs => bridged(TextFunctions.canonicalizeUrl, exprs(0))),
    // round-9: single-match multi-group extraction (the token-stream
    // reader's record parse, exposed for SQL-first record splitting)
    "regexp_groups" -> (exprs => RegexpGroupsExpr(exprs(0),
      strLiteral(exprs(1), "regexp_groups", "pattern")))
  )

  /** Evaluate a SQL argument that must be an integral LITERAL (a sketch
    * capacity, an n-gram width): checks foldability and accepts any
    * integral width, so `misra_gries(tok, 400)` and a BIGINT literal both
    * work while a column reference fails at plan time with a clear error
    * instead of a ClassCastException.
    */
  /** String twin of [[intLiteral]] — same foldability + null guarding. */
  private def strLiteral(e: Expression, fn: String, arg: String): String = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant string, got non-foldable ${e.sql}")
    e.eval() match {
      case null => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant string, got NULL")
      case v => v.toString
    }
  }

  private def intLiteral(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant integer, got non-foldable ${e.sql}")
    e.eval() match {
      case i: Int                     => i
      case l: Long if l == l.toInt    => l.toInt
      case s: Short                   => s.toInt
      case b: Byte                    => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a constant integer, got " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName} (${e.sql})")
    }
  }

  /** Lift a Column→Column composition into an Expression builder (eager
    * conversion — the analyzer needs a concrete tree back, see
    * ColumnBridge.eagerExpression).
    */
  private def bridged(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                      child: Expression): Expression = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.eagerExpression(f(ColumnBridge.column(child)))
  }
}
