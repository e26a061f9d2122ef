package perfbench

/** Order statistics and the one-line JSON result. */
object Stats {
  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile, or 0 when the layer saw no samples in this workload. */
  def quantileOr0(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, q)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The metrics of one run, in the order they were recorded. */
final class Report {
  private val entries = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not finite: $value")
    entries(name) = (value, unit)
  }

  /** Count one checked operation; false marks it failed. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def okRatio: Double = if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted

  def json: String = {
    def num(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    val ms = entries.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
