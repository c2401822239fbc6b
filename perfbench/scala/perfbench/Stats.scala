package perfbench

/** Summaries of latency samples. */
object Stats {

  /** A percentile is reported only when at least this many samples lie
    * above it; below that, the tail is one or two samples and says
    * nothing stable about the distribution.
    */
  val MinBeyond = 10

  /** Nearest-rank `p`-th percentile (0 < p < 100) of `xs`, or None when
    * fewer than [[MinBeyond]] samples lie above the chosen rank.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile out of (0, 100): $p")
    val n = xs.size
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    if (n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Median of repeated whole-run measurements (passes, set-ups): the
    * middle value, or the mean of the two middle values.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Minimal JSON writer for the result file (maps keep insertion order
  * when given a `ListMap` or `LinkedHashMap`).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
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
