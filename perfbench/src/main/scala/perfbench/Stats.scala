package perfbench

/** Order statistics over a run's latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `q` of the
    * samples at or below it (q in (0, 1]).
    */
  def percentile(samples: Seq[Double], q: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val s = samples.sorted
    val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 0.5)

  /** Geometric mean of positive samples. */
  def geomean(samples: Seq[Double]): Double = {
    require(samples.nonEmpty && samples.forall(_ > 0), "geomean needs positive samples")
    math.exp(samples.map(math.log).sum / samples.size)
  }

  /** Number of samples strictly above the nearest-rank `q` percentile. */
  def beyond(samples: Seq[Double], q: Double): Int = {
    val v = percentile(samples, q)
    samples.count(_ > v)
  }

  /** The tail percentiles a run may report, highest first. */
  val TailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  /** Samples a tail percentile needs beyond it to be reported. */
  val MinBeyond = 10

  /** The highest of [[TailLevels]] with at least [[MinBeyond]] samples
    * above it, as (level, value); None when even p75 has fewer (too few
    * samples for any tail).
    */
  def tail(samples: Seq[Double]): Option[(Double, Double)] =
    TailLevels.find(q => samples.nonEmpty && beyond(samples, q) >= MinBeyond)
      .map(q => (q, percentile(samples, q)))
}
