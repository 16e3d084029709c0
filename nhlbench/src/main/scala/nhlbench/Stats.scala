package nhlbench

/** Order statistics over op latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples beyond). With ten samples or fewer no
    * percentile qualifies, and the maximum is returned with the count
    * of samples beyond it (zero). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, 0)
    else {
      val i = n - 11
      (s(i), 100.0 * (i + 1) / n, n - 1 - i)
    }
  }
}

/** Just enough JSON for the result lines and the spans file. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  def quote(s: String): String = {
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
