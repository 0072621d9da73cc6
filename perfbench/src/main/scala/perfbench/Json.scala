package perfbench

/** Minimal JSON writer for the capture file. Numbers go through
  * `java.lang.Double.toString`/`Long.toString`, which never consult the
  * default locale (unlike `String.format` and `f"..."` interpolation), and
  * non-finite doubles become `null` because JSON has no NaN. */
object Json {
  sealed trait J
  final case class Num(v: Double) extends J
  final case class Int64(v: Long) extends J
  final case class Str(v: String) extends J
  final case class Bool(v: Boolean) extends J
  case object Null extends J
  final case class Arr(items: Seq[J]) extends J
  final case class Obj(fields: Seq[(String, J)]) extends J

  def obj(fields: (String, J)*): Obj = Obj(fields)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  def render(j: J): String = j match {
    case Num(v) => if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    case Int64(v) => java.lang.Long.toString(v)
    case Str(v) => quote(v)
    case Bool(v) => if (v) "true" else "false"
    case Null => "null"
    case Arr(items) => items.map(render).mkString("[", ",", "]")
    case Obj(fields) => fields.map { case (k, v) => quote(k) + ":" + render(v) }
      .mkString("{", ",", "}")
  }
}
