package perfbench

/** Minimal JSON rendering for the harness's result file. */
final case class Json(render: String)

object Json {
  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Renders strings, numbers, booleans, options, maps and sequences. */
  def of(v: Any): Json = Json(v match {
    case null | None => "null"
    case j: Json => j.render
    case Some(x) => of(x).render
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble).render
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + of(x).render }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of(_).render).mkString("[", ",", "]")
    case xs: Array[_] => of(xs.toSeq).render
    case other => quote(other.toString)
  })

  def obj(kv: (String, Any)*): Json = of(scala.collection.immutable.ListMap(kv: _*))
  def arr(xs: Iterable[Any]): Json = of(xs)
}
