package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The highest of p99, p95, p90 and p75 that has at least ten samples
    * above it, as (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75).iterator.map { p =>
      val i = math.ceil(p / 100.0 * s.size).toInt - 1
      (p, i)
    }.collectFirst {
      case (p, i) if s.nonEmpty && s.size - 1 - i >= 10 => (p, s(i))
    }
  }
}
