package perfbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  /** Linear-interpolation percentile (the "inclusive" definition: p=0 is
    * the minimum, p=100 the maximum). NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The percentile, reported only if at least `minBeyond` samples lie
    * strictly above it. */
  def supportedPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    val v = percentile(xs, p)
    if (xs.count(_ > v) >= minBeyond) Some(v) else None
  }

  /** How many distinct groups (micro-batches) hold a sample above `v`:
    * samples of one micro-batch share its sink time, so this is the
    * independent evidence behind a latency percentile. */
  def groupsAbove(samples: Seq[(Double, Long)], v: Double): Int =
    samples.collect { case (x, g) if x > v => g }.distinct.size

  /** Least-squares slope of y over x; 0 for fewer than two distinct x. */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.size < 2) 0.0
    else {
      val n = points.size.toDouble
      val mx = points.map(_._1).sum / n
      val my = points.map(_._2).sum / n
      val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0
      else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }
}
