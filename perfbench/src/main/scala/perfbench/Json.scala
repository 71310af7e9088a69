package perfbench

/** Minimal JSON rendering for the result file and the trace. */
object Json {

  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null                   => "null"
    case Raw(j)                 => j
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double              => d.toString
    case f: Float               => value(f.toDouble)
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case m: Map[_, _]           => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]        => xs.map(value).mkString("[", ",", "]")
    case Some(x)                => value(x)
    case None                   => "null"
    case other                  => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
