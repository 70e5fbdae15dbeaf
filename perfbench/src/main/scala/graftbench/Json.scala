package graftbench

/** Minimal JSON writer for the benchmark's output lines. Doubles keep
  * every digit (`Double.toString`); non-finite values become null.
  */
object Json {
  final case class Raw(json: String)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.result()
  }

  def value(v: Any): String = v match {
    case null                      => "null"
    case Raw(j)                    => j
    case s: String                 => quote(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                  => value(f.toDouble)
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]           => xs.map(value).mkString("[", ",", "]")
    case other                     => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}
