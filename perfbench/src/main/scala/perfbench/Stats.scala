package perfbench

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {

  /** Nearest-rank-interpolated quantile (q in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def p50(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Iterable[Double]): Double = quantile(xs, 0.9)

  def nowMs: Double = System.nanoTime() / 1e6

  /** Wall-clock epoch millis, the clock Spark progress timestamps use. */
  def epochMs: Long = System.currentTimeMillis()

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
}
