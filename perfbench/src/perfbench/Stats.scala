package perfbench

/** Order statistics and ratios the metrics are built from. */
object Stats {

  /** The p-th percentile (0 ≤ p ≤ 100) of sorted values, interpolating
    * linearly between the two nearest ranks (the usual "type 7"
    * definition, as numpy's default).
    */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no values")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val h = (sorted.length - 1) * p / 100
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
  }

  def percentile(values: Iterable[Double], p: Double): Double =
    percentile(values.toArray.sorted, p)

  def median(values: Iterable[Double]): Double = percentile(values, 50)

  /** Lines acknowledged by the deadline over lines offered. */
  def ackRatio(acked: Long, offered: Long): Double = {
    require(offered > 0, "no lines offered")
    require(acked >= 0 && acked <= offered, s"$acked acked of $offered")
    acked.toDouble / offered
  }

  /** Milliseconds covered by the union of [start, end) intervals in ns. */
  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1) if e > s) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered / 1e6
  }

  /** Time of `parents` not covered by `children`, in ms. Children are
    * clipped to each parent, so a child straddling two parents counts
    * in both only for the part inside each.
    */
  def selfMs(parents: Seq[(Long, Long)], children: Seq[(Long, Long)]): Double =
    parents.map { case (ps, pe) =>
      val inside = children.collect {
        case (cs, ce) if ce > ps && cs < pe => (math.max(cs, ps), math.min(ce, pe))
      }
      (pe - ps) / 1e6 - unionMs(inside)
    }.sum
}
