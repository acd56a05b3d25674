package perfbench

/** Order statistics and interval arithmetic shared by every workload. */
object Stats {

  /** A percentile together with the number of samples behind it. */
  final case class Pct(value: Double, samples: Int)

  /** Linear-interpolation percentile (numpy's default, Hyndman–Fan type 7)
    * of `xs` at `q` in [0, 1]. An empty sample gives NaN with count 0, so a
    * caller can never mistake "nothing measured" for a real zero.
    */
  def percentile(xs: Seq[Double], q: Double): Pct = {
    require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]")
    if (xs.isEmpty) Pct(Double.NaN, 0)
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Pct(s(lo) + (h - lo) * (s(hi) - s(lo)), s.size)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Length of the union of half-open intervals `[start, end)`. Overlapping
    * intervals count once, so for concurrently running Spark jobs this is
    * the time at least one job was running, not the sum of job times.
    */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Wall time of `[start, end)` not covered by any job interval: the
    * driver-side residual. Jobs are clipped to the window first.
    */
  def residual(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double = {
    val clipped = jobs.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
