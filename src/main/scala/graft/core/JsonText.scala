package graft.core

/** JSON text for the one-line records the mains print. */
object JsonText {

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or newline in builder-authored SQL or an
    * exception message would otherwise break the reader's `json.load`. */
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
