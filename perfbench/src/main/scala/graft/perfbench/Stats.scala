package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** The `q`-quantile (0 ≤ q ≤ 1) by linear interpolation between the
    * closest ranks of the sorted sample (numpy's default, R type 7).
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    require(xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** For each generator tick (the `k`-th `addData`, i.e. MemoryStream
    * offset `k`), the time of the first progress report whose end offset
    * covers it: `progress` is (end offset, time) in report order. A tick no
    * report covers maps to None.
    */
  def coveringTimes(ticks: Int, progress: Seq[(Long, Double)]): IndexedSeq[Option[Double]] = {
    val reports = progress.sortBy(_._2)
    (0 until ticks).map(k => reports.find(_._1 >= k).map(_._2))
  }
}
