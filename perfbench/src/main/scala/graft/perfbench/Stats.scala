package graft.perfbench

/** Percentile arithmetic used by every reported latency.
  *
  * Percentiles are NEAREST-RANK: the p-th percentile of n sorted samples
  * is the sample at rank ceil(p/100 * n) (1-based), so every reported
  * value is a real observation and "how many samples lie beyond it" is
  * exact: n - rank.
  */
object Stats {

  /** Samples required beyond a tail percentile before it is trusted. */
  val TailBeyond = 10

  /** 1-based nearest rank of percentile `p` (0 < p <= 100) over n samples. */
  def rank(n: Int, p: Double): Int = {
    require(n > 0, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that still has at least `beyond`
    * samples above its rank; 50 when the run is too short for any
    * percentile to qualify (fewer than 2 * `beyond` samples). */
  def tailPercentile(n: Int, beyond: Int = TailBeyond): Int = {
    var p = 99
    while (p > 50 && (n == 0 || n - rank(n, p) < beyond)) p -= 1
    p
  }

  /** (percentile used, its value, samples beyond it). */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): (Int, Double, Int) = {
    val p = tailPercentile(xs.length, beyond)
    (p, percentile(xs, p), xs.length - rank(xs.length, p))
  }

  /** Median over time slices of the measured phase: `bounds` are the
    * slice edges as (wall ns, CPU ns so far); each op counts in the slice
    * where it ended. Per slice: p50 latency, ops/s and CPU ms per op; the
    * median of each is returned, so a burst of co-tenant load inside one
    * slice moves none of them. None when a slice completed fewer than
    * `minOps` operations. */
  def sliceMedians(ends: Seq[Long], lat: Seq[Double], bounds: Seq[(Long, Long)],
      minOps: Int = 10): Option[(Double, Double, Double)] = {
    val slices = bounds.zip(bounds.tail).map { case ((t0, c0), (t1, c1)) =>
      val in = ends.indices.filter(i => ends(i) >= t0 && ends(i) < t1)
      (in.map(lat), (t1 - t0) / 1e9, (c1 - c0) / 1e6)
    }
    if (slices.isEmpty || slices.exists(_._1.length < minOps)) None
    else Some((
      median(slices.map(s => median(s._1))),
      median(slices.map(s => s._1.length / s._2)),
      median(slices.map(s => s._3 / s._1.length))))
  }
}

