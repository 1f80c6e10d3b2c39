package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linearly interpolated percentile, `p` in [0, 100] (numpy's
    * default "linear" method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)`
    * (its default "exclusive" method), so spreads computed here match
    * the ones a reader computes from the printed values. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toIndexedSeq
    val n = 4
    val m = d.length + 1
    val q = (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), d.length - 1)
      val delta = i * m - j * n
      (d(j - 1) * (n - delta) + d(j) * delta) / n
    }
    (q(0), q(1), q(2))
  }

  /** The highest whole percentile that still has at least ten samples
    * beyond it, as (percentile, value); None while that percentile
    * would not lie above the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val p = math.floor(100.0 * (xs.length - 10) / xs.length)
    if (xs.isEmpty || p <= 50) None else Some((p, percentile(xs, p)))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of an interval: its length minus the part of it that
    * the child intervals cover (children are clipped to the parent). */
  def selfTime(parent: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (ps, pe) = parent
    (pe - ps) - unionLength(children.map { case (s, e) =>
      (math.max(s, ps), math.min(e, pe)) })
  }
}
