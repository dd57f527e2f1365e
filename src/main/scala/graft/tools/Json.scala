package graft.tools

/** The JSON string literal the mains write their artifacts with. */
private[graft] object Json {
  /** `s` quoted, with the quote, the backslash and every control character
    * (< 0x20) escaped: a tab or CR in a query's SQL text would otherwise
    * make a reader's `json.load` fail. */
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
