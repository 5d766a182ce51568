package graft.perfbench

/** The one JSON writer of the benchmark: the result line, the span dump
  * and the detail record all render through it. Values are rendered
  * eagerly; `obj`/`arr` take already-rendered members. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** Full precision (Java's shortest round-trip form); JSON has no NaN. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")
}

/** Order statistics over samples. `quantile` interpolates linearly
  * between closest ranks (the "inclusive" definition). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
