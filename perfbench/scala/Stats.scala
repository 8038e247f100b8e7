package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Traced minus untraced median, as a percentage of the untraced one. */
  def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double =
    100 * (median(traced) - median(untraced)) / median(untraced)
}
