package perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The tail the benchmark reports: the highest percentile that still
    * has at least ten samples beyond it. With n samples sorted
    * ascending that is the (n-10)-th smallest, the 100·(n-10)/n-th
    * percentile. Returns (value, percentile), or None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 11) None
    else Some((xs.sorted.apply(n - 11), 100.0 * (n - 10) / n))
  }

  /** Total length of the union of intervals [a, b). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its length minus the part of it its children
    * cover. Children may overlap each other (a helper thread's job
    * running beside the caller's) and may stick out of the parent; each
    * covered instant is subtracted once. */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }
}
