package graft

/** JSON output helpers shared by the mains that hand-build their
  * result lines (Bench, Verify, Checks).
  */
private[graft] object Json {

  /** Quoted JSON string literal. Escapes backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored SQL or an
    * env value would otherwise make a reader's json.load fail.
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

  /** JSON number, or `null` for NaN/±Inf (which JSON cannot spell). */
  def num(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"
}
