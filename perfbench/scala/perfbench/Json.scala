package perfbench

/** Minimal JSON encoder for the raw run record (no library beyond what
  * Spark already puts on the classpath is needed, and none is wanted). */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}:${encode(x)}" }
      .mkString("{", ",", "}")
    case kv: Obj => kv.fields.map { case (k, x) => s"${quote(k)}:${encode(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
