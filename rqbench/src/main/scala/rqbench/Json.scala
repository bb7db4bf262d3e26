package rqbench

/** Minimal JSON writer for the benchmark's output lines. Doubles print with
  * every digit `Double.toString` gives (the result line must carry values
  * as measured, never rounded); NaN and infinities become null. */
object Json {

  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  def obj(fields: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(fields: _*)

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: String => string(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        string(sb, k.toString)
        sb += ':'
        write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x =>
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case other => string(sb, other.toString)
  }

  private def string(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
