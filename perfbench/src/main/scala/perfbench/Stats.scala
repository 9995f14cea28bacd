package perfbench

/** Order statistics for the reported timings.
  *
  * A percentile is reported only as far as the samples support it: the
  * benchmark's rule is that the reported tail percentile must have at
  * least [[MinBeyond]] samples above it, so `p90` needs 100 samples. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile (`p` in 0..100) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(0, math.min(s.size - 1, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean over op kinds of each kind's median latency: every
    * kind weighs the same however many samples it has, and a change of x%
    * in one kind moves it by the same amount whatever that kind's scale.
    * Unlike the median over a mix of a few kinds, it does not jump when
    * noise reorders two kinds around the middle rank. */
  def geomeanOfMedians(samples: Seq[(String, Double)]): Double = {
    require(samples.nonEmpty, "geometric mean of an empty sample")
    val meds = samples.groupBy(_._1).values.map(xs => median(xs.map(_._2))).toSeq
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** How many samples lie strictly above the nearest-rank `p`-th
    * percentile position. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Whether `n` samples support reporting the `p`-th percentile. */
  def supports(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond

  /** Smallest sample count that supports the `p`-th percentile. */
  def samplesNeeded(p: Double): Int =
    Iterator.from(1).find(supports(_, p)).get
}
