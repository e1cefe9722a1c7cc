package graft.util

/** Shared JSON helpers for the hand-rolled sink/provider codecs: the one
  * escape every codec must use, the one rendering of a string map, and
  * the one Jackson mapper for reading responses. */
object Json {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `{"k":"v",…}` in key order, so equal maps render to equal bytes. */
  def stringMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}":"${escape(v)}"""" }
      .mkString("{", ",", "}")

  /** Thread-safe once built; parsing never reconfigures it. */
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
