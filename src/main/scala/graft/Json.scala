package graft

/** JSON text for the files and lines the mains write for other tools to parse. */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in an oracle's SQL, or a quote in a
    * corpus path, would otherwise make the reader's JSON parse fail and
    * lose the whole run's results. */
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
