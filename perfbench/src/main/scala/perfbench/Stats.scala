package perfbench

/** Order statistics and the small JSON writer the report needs. */
object Stats {

  /** Linear-interpolation quantile (`q` in [0, 1]) of a non-empty
    * sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A metric as the report carries it: median with quartiles and the
    * sample count, so a noisy run shows as noisy. */
  final case class Summary(n: Int, p25: Double, p50: Double, p75: Double, p90: Double) {
    def json(unit: String): String =
      s"""{"value":${num(p50)},"unit":"$unit","n":$n,"p25":${num(p25)},"p75":${num(p75)},"p90":${num(p90)}}"""
  }

  def summary(xs: Seq[Double]): Summary =
    if (xs.isEmpty) Summary(0, 0, 0, 0, 0)
    else Summary(xs.length, quantile(xs, 0.25), quantile(xs, 0.5),
      quantile(xs, 0.75), quantile(xs, 0.9))

  def single(x: Double): Summary = summary(Seq(x))

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
