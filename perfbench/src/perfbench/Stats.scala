package perfbench

/** Summary statistics with the benchmark's reporting rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so a
  * tail figure always rests on a stated number of observations. */
object Stats {

  val MinBeyond = 10

  /** nearest-rank percentile of `xs` (q in (0, 100]) */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** samples strictly above the q-th percentile's rank */
  def beyond(n: Int, q: Double): Int =
    n - math.min(n, math.max(1, math.ceil(q / 100.0 * n).toInt))

  /** whether `n` samples support the q-th percentile */
  def supports(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** the q-th percentile, or None when fewer than MinBeyond samples lie
    * beyond it (the median of a non-empty sample is always reported) */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.nonEmpty && (q <= 50.0 || supports(xs.length, q))) Some(percentile(xs, q))
    else None

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Minimal JSON writer for the result and detail lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case Some(x) => apply(x)
    case None => "null"
    case other => str(other.toString)
  }
}
