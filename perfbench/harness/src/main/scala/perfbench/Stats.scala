package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile that leaves at least ten samples above it, as
    * (percentile, value), or None below eleven samples. The value is the
    * sample that has exactly ten larger ones. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some(((100L * (k + 1) / s.size).toInt, s(k)))
    }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}
