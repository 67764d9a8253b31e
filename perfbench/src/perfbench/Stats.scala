package perfbench

/** Order statistics and the small pieces of arithmetic the benchmark's
  * verdicts rest on. Everything here is pure so SelfTest can pin it.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (method "exclusive"), so the spread
    * the benchmark reports matches the one its runs are judged by.
    */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val ld = s.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(ld - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(3))
  }

  /** A tail percentile the sample can support: the nearest-rank
    * `want` percentile, lowered until at least `beyond` samples lie above
    * it. Returns (value, percentile actually reported, sample count).
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double], want: Double = 99.0, beyond: Int = 10): Tail = {
    require(xs.length > beyond,
      s"a tail with $beyond samples beyond it needs more than $beyond samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    val rank = math.min(math.ceil(want / 100.0 * n).toInt, n - beyond)
    Tail(s(rank - 1), 100.0 * rank / n, n)
  }

  /** Least-squares slope of y over t (units of y per unit of t). */
  def slope(points: Seq[(Double, Double)]): Double = {
    val n = points.length
    if (n < 2) return 0.0
    val mt = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val num = points.map { case (t, y) => (t - mt) * (y - my) }.sum
    val den = points.map { case (t, _) => (t - mt) * (t - mt) }.sum
    if (den == 0) 0.0 else num / den
  }

  /** Backlog growth over the second half of a step. `troughs` are
    * (seconds since step start, events still waiting right after a
    * micro-batch committed), one per batch. A sustained step's troughs
    * stay level (what arrived during one batch); an overloaded step's
    * climb at (offered - capacity). Growth is a least-squares slope of
    * the second half's troughs above `share` of the offered rate; a step
    * with fewer than two batches ending in it did not keep up either.
    */
  def backlogGrows(troughs: Seq[(Double, Double)], stepSeconds: Double,
                   ratePerSec: Double, share: Double = 0.1): Boolean = {
    val late = troughs.filter(_._1 >= stepSeconds / 2)
    val pts = if (late.length >= 2) late else troughs
    pts.length < 2 || slope(pts) > share * ratePerSec
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its child spans cover (children may overlap each other and
    * may run past the parent; only the covered share inside counts).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
