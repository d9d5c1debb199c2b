package perfbench

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** An object from already-rendered values. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  /** Numbers in full precision; a value that is not finite is null. */
  def nums(kv: Iterable[(String, Double)]): String =
    obj(kv.toSeq.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) "null" else v.toString) })
}
