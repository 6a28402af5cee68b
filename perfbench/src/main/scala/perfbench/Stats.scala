package perfbench

/** The benchmark's arithmetic: percentiles, the ladder's pass rule and the
  * trace's self time. Pure functions, so the self-tests pin them exactly.
  */
object Stats {

  /** Percentile by linear interpolation between closest ranks (the
    * "linear" rule of numpy and R type 7). `p` is in [0, 100]. An empty
    * sample has no percentile: the result is NaN. Infinite samples (failed
    * operations) sort last, so a tail that reaches them is infinite.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p is outside [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.size - 1)
      val frac = rank - lo
      if (frac == 0.0 || s(lo) == s(hi)) s(lo)
      else s(lo) + (s(hi) - s(lo)) * frac
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of positive samples; NaN for none, infinite when one
    * is (a failed operation).
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Least-squares slope of `ys` on `xs`; 0 when the xs do not vary. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.size == ys.size, "slope needs paired samples")
    val n = xs.size
    if (n < 2) 0.0
    else {
      val mx = xs.sum / n
      val my = ys.sum / n
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (sxx == 0.0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }

  /** The least-squares growth of a backlog, as a share of the offered
    * rate, above which a step's backlog counts as growing: a stream that
    * falls behind by a tenth of its input adds 0.1 × rate orders each
    * second.
    */
  val BacklogGrowthShare = 0.1

  /** How many standard errors the growth must stand above zero. A stream
    * that keeps up holds its backlog level around a sawtooth whose teeth
    * vary with batch time; over a short step that noise alone can tilt the
    * fit, so growth counts only when the fit is clear of it.
    */
  val BacklogGrowthSigmas = 3.0

  /** Whether a backlog sampled at `times` (seconds, one sample per batch
    * end) grows across a step offered at `rate` orders/s. Fewer than three
    * samples cannot show a level, so they count as growth: a stream that
    * commits fewer than three batches in a step has not kept up.
    */
  def backlogGrows(times: Seq[Double], backlog: Seq[Double], rate: Double): Boolean =
    times.size < 3 || {
      val b = slope(times, backlog)
      b > BacklogGrowthShare * rate && b > BacklogGrowthSigmas * slopeError(times, backlog)
    }

  /** Standard error of the least-squares slope; 0 with fewer than three
    * samples or no spread in x.
    */
  def slopeError(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    val mx = xs.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (n < 3 || sxx == 0.0) 0.0
    else {
      val b = slope(xs, ys)
      val a = ys.sum / n - b * mx
      val sse = xs.zip(ys).map { case (x, y) => val r = y - a - b * x; r * r }.sum
      math.sqrt(sse / (n - 2) / sxx)
    }
  }

  /** The freshness limit a step's p99 must meet to count as sustained. */
  val FreshnessLimitMs = 2000.0

  /** One ladder step's verdict inputs. */
  final case class Step(rate: Int, freshnessP99Ms: Double, backlogGrows: Boolean) {
    def passes: Boolean = freshnessP99Ms <= FreshnessLimitMs && !backlogGrows
  }

  /** Runs `run` on each rate in order and stops after the first step that
    * fails; returns every step that ran.
    */
  def ladder(rates: Seq[Int])(run: Int => Step): Seq[Step] = {
    val out = Seq.newBuilder[Step]
    val it = rates.iterator
    var go = true
    while (go && it.hasNext) {
      val s = run(it.next())
      out += s
      go = s.passes
    }
    out.result()
  }

  /** The highest step that passed, if any passed before the first failure. */
  def sustained(steps: Seq[Step]): Option[Step] =
    steps.takeWhile(_.passes).lastOption

  /** Self time of a span over [start, end): its length minus the part of
    * that interval its children cover. Overlapping children (a reader
    * thread's spans beside a generator's) count once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
