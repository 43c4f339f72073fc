package perfbench

/** Minimal JSON rendering for the benchmark's inputs and reports. Values
  * are `String`, numbers, `Boolean`, `null`, `Option`, `Seq` and `Map`
  * (rendered in iteration order), or [[Json.Raw]] for pre-rendered text.
  */
object Json {

  final case class Raw(text: String)

  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => render(f.toDouble)
    case n: BigDecimal => n.bigDecimal.toPlainString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** Object with its fields in the given order. */
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))
}
