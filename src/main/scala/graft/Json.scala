package graft

/** The JSON the bench and Verify artifacts write. */
object Json {

  /** An object whose fields render in order, with no whitespace. A
    * value renders by its type: a `String` through [[str]], a `Seq` as
    * an array, anything else (numbers, booleans, a nested `Obj`) by its
    * `toString`.
    */
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Escapes backslash, quote and ALL control chars (<0x20) — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
