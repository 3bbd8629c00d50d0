package spatialbench

/** Minimal JSON writer for the result line, the result file and the spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.json
    case xs: Iterable[_] => arr(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")

  /** Already-serialised JSON. */
  final case class Raw(json: String)
}
