package perfbench

/** Minimal JSON writing for the benchmark's own artifacts. */
object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
