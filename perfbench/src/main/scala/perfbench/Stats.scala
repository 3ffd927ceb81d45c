package perfbench

/** Order statistics used for every reported number.
  *
  * Percentile rule: a tail percentile is only reported when at least
  * [[MinBeyond]] samples lie beyond it, so one stray sample can never
  * be the reported value (p99 needs ≥ 1000 samples, p90 ≥ 100, p50 ≥
  * 20). Percentiles use the nearest-rank definition on integer
  * percents, so the rule is exact integer arithmetic. */
object Stats {
  val MinBeyond = 10

  /** Nearest rank (1-based) of percentile `pct` in `n` sorted samples. */
  def rank(pct: Int, n: Int): Int = {
    require(pct > 0 && pct < 100, s"percentile must be in (0, 100): $pct")
    math.max(1, ((pct.toLong * n + 99) / 100).toInt)
  }

  /** Samples strictly above the nearest-rank percentile. */
  def beyond(pct: Int, n: Int): Int = n - rank(pct, n)

  /** Fewest samples for which `pct` may be reported. */
  def minSamples(pct: Int): Int =
    Iterator.from(1).find(n => beyond(pct, n) >= MinBeyond).get

  /** Nearest-rank percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(xs: Seq[Double], pct: Int): Option[Double] =
    if (beyond(pct, xs.size) < MinBeyond) None
    else Some(xs.sorted.apply(rank(pct, xs.size) - 1))

  /** Median of a small set of repetitions (setup runs, passes): the
    * usual midpoint definition, no sample-size rule. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var cov = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { cov += b - a; end = b }
      else if (b > end) { cov += b - end; end = b }
    }
    cov
  }
}
