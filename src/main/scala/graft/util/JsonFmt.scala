package graft.util

/** JSON formatting shared by the JSON-emitting mains (Bench, ExtractMain,
  * Verify): numbers are formatted locale-safe, since a comma-decimal
  * default locale would make the machine-readable output line unparseable,
  * and NaN/Infinity, which are not valid JSON tokens, are emitted as null.
  */
object JsonFmt {
  def d(v: Double, dec: Int): String =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) "null"
    else String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** `s` as a JSON string literal: backslash, quote and every control
    * character below U+0020 escaped, so a multi-line error message or a
    * tab in an SQL string cannot break the line it rides in. */
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
