package perfbench

/** Order statistics used by every reported time. Percentiles are
  * nearest-rank, so a reported value is always one that was measured.
  */
object Stats {

  /** Percentile levels a tail may be reported at, highest first. */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Interquartile mean: the mean of the samples left after dropping the
    * lowest and the highest quarter (rounded down). Per-operation times
    * can alternate between two levels (measured: warm
    * q123_doubling_components runs took about 1200 and 1370 ms in turn),
    * so the median of a few samples jumps from one level to the other with
    * the sample count; this stays between them, and one slow outlier still
    * cannot move it.
    */
  def midMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    val s = xs.sorted
    val cut = s.length / 4
    val mid = s.slice(cut, s.length - cut)
    mid.sum / mid.length
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** The highest level in `TailLevels` that leaves at least `beyond`
    * samples strictly above its rank, or None when `n` is too small.
    */
  def tailLevel(n: Int, beyond: Int = 10): Option[Double] =
    TailLevels.find(p => n - rank(n, p) >= beyond)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
