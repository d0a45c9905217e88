package graft.perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.length).toInt.max(1).min(s.length)
      s(rank - 1)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def ms(ns: Long): Double = ns / 1e6
  def sec(ns: Long): Double = ns / 1e9
}
