package perfbench

/** Order statistics and a dependency-free JSON writer. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest order statistic with at least ten samples
    * above it (p = (n-10)/n). Below 21 samples that statistic would not
    * lie above the median, so the maximum stands in; callers record the
    * sample count. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    if (s.size < 21) s.last else s(s.size - 11)
  }

  /** Percentile label of [[tail]] for `n` samples. */
  def tailPercentile(n: Int): Double =
    if (n < 21) 100.0 else 100.0 * (n - 10) / n

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

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
    b += '"'
    b.toString
  }
}
