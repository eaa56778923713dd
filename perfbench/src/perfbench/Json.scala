package perfbench

/** Just enough JSON to print results: objects keep insertion order. */
object Json {
  def str(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] @unchecked =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)
}
