package graft

/** The one JSON writer: [[quote]] for strings (Verify's oracle_sql.json,
  * perfbench's canonical rows) and [[obj]] for the result line a tool
  * prints — one escaper, so a future escaping fix cannot silently diverge
  * between them.
  */
object Jsons {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object whose fields keep their order; `toString` renders it. */
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  /** Values: an [[Obj]], a String, a Boolean, Int or Long, or a finite
    * Double (rounded to 4 decimals).
    */
  private def render(v: Any): String = v match {
    case o: Obj => o.toString
    case s: String => quote(s)
    case d: Double => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_EVEN)
      .underlying.stripTrailingZeros.toPlainString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }
}
