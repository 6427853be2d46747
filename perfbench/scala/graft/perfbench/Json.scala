package graft.perfbench

/** Minimal JSON rendering for the benchmark's result and trace lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Verify.jsonQ(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => graft.Verify.jsonQ(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${value(k)}:${value(v)}" }.mkString("{", ",", "}")
}
