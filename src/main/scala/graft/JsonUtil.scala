package graft

/** Minimal JSON string escaping shared by every JSON writer (`Verify`
  * dumps oracle_sql.json, `Bench` writes the one-line result contract,
  * `StatusServer` renders topic and path names from untrusted payloads).
  * One definition so a hardening (new control char, surrogate handling)
  * can never land in one writer and miss another.
  */
object JsonUtil {

  /** Escape `s` for embedding inside a JSON string literal: backslash,
    * quote, and ALL control chars (< 0x20) — builder-authored SQL and
    * exception messages are arbitrary text and must never break a JSON
    * parse (a bad dump would silently zero a round's correctness).
    */
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `escape` wrapped in quotes — a complete JSON string literal. */
  def quote(s: String): String = "\"" + escape(s) + "\""
}
