package perfbench

/** Hand-rolled JSON rendering for the result line and the trace file. */
object Json {
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null            => "null"
    case Raw(s)          => s
    case s: String       => graft.core.Json.str(s)
    case b: Boolean      => b.toString
    case d: Double       =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float        => value(f.toDouble)
    case n: Int          => n.toString
    case n: Long         => n.toString
    case m: Map[_, _]    => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case other           => graft.core.Json.str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => graft.core.Json.str(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
