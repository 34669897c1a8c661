package graft

/** JSON text for the engine's artifacts: the Bench lines, the
  * observability records, the oracle SQL map and the pipeline-run
  * markers. Every string value, whatever env var, argument or SQL text
  * it came from, goes out through [[str]]. */
object Json {

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character (< 0x20) escaped. */
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
