package perfbench

/** Order statistics and rate accounting shared by every workload. */
object Stats {
  /** Percentiles the report may name, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 99.0, 99.9)

  /** The highest ladder percentile with at least `beyond` samples above
    * it in `n` samples, or None when not even the median qualifies.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n - rank(n, p) >= beyond).lastOption

  /** 1-based nearest rank of percentile `p` in `n` sorted samples. */
  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Nearest-rank percentile of `xs` (`p` in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, rank(s.size, p) - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** Mean, median, the tail percentile the sample count supports, and
    * the count, as `<prefix>_mean_ms`, `<prefix>_p50_ms`,
    * `<prefix>_p<q>_ms` and `<prefix>_n`.
    */
  def describe(r: Report, prefix: String, ms: Seq[Double]): Unit = {
    r.put(s"${prefix}_n", ms.size.toDouble, "count")
    if (ms.nonEmpty) r.put(s"${prefix}_mean_ms", mean(ms), "ms")
    if (ms.nonEmpty) r.put(s"${prefix}_p50_ms", median(ms), "ms")
    tailPercentile(ms.size).filter(_ > 50).foreach { p =>
      r.put(s"${prefix}_p${Report.num(p)}_ms", percentile(ms, p), "ms")
    }
  }

  /** Graph500-style traversed edges per second over a set of ops: the
    * edges each op scanned (every out-edge of every vertex it reached)
    * summed, over the summed op time.
    */
  def teps(ops: Seq[(Long, Double)]): Double = {
    val secs = ops.map(_._2).sum
    if (secs <= 0) 0.0 else ops.map(_._1).sum / secs
  }
}
