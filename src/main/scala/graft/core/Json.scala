package graft.core

/** JSON text for the artifacts the engine renders by hand
  * (`oracle_sql.json`, `cv_summary.json`, the confusion matrices). */
object Json {

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or newline in a name or message
    * would otherwise make the whole file invalid JSON. */
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
