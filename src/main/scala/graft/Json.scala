package graft

/** The JSON string literal the bench and Verify artifacts write. */
object Json {

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
