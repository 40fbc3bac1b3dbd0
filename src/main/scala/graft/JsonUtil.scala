package graft

/** Minimal JSON string quoting shared by the engine's hand-rolled JSON
  * emitters (Verify's oracle dump, Main's manifest): backslash, quote,
  * and ALL control chars (<0x20) escaped — an unescaped tab/CR/quote in
  * builder-authored SQL or a user-supplied path would make the
  * consumer's json.load fail.
  */
object JsonUtil {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
