package perfbench

/** Order statistics shared by the end-to-end metrics and the roll-ups. */
object Stats {

  /** Nearest rank of whole percentile `p` among `n` samples (1-based),
    * in integer arithmetic so that e.g. p90 of 100 is rank 90, not 91.
    */
  def rank(p: Int, n: Int): Int = math.min(math.max((p * n + 99) / 100, 1), n)

  /** Nearest-rank percentile `p` (1..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest whole percentile that still has at least
    * `beyond` samples above its nearest rank. Returns (percentile, value),
    * or None when there are too few samples for any percentile from 50 up.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    if (n == 0) None
    else (99 to 50 by -1).find(p => n - rank(p, n) >= beyond)
      .map(p => p -> percentile(xs, p))
  }

  /** Total length of the union of closed intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part of it its children
    * cover. Children may overlap each other or stick out of the parent;
    * only their union inside the parent counts.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - covered(clipped)
  }
}
