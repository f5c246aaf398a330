package graft.perfbench

/** The harness arithmetic, kept pure so it can be tested on its own. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the sample at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** The highest whole percentile that still has at least `min`
    * samples strictly above its nearest-rank position, or None when
    * the sample is too small to support any tail percentile.
    */
  def supportedPercentile(n: Int, min: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => beyond(n, p) >= min)

  /** Samples strictly above the nearest-rank `p`th percentile: how many
    * observations a tail percentile rests on.
    */
  def beyond(n: Int, p: Int): Int = n - math.max(math.ceil(p / 100.0 * n).toInt, 1)

  def failRatio(failed: Int, attempted: Int): Double = {
    require(attempted > 0, "no operation was attempted")
    require(failed >= 0 && failed <= attempted,
      s"failed=$failed out of range for attempted=$attempted")
    failed.toDouble / attempted
  }

  /** A closed time interval in seconds. */
  final case class Iv(start: Double, end: Double) {
    require(end >= start, s"interval ends before it starts: $start..$end")
    def length: Double = end - start
  }

  /** Total length covered by a set of possibly overlapping intervals,
    * each clipped to `within`.
    */
  def covered(ivs: Seq[Iv], within: Iv): Double = {
    val clipped = ivs
      .map(i => (math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part its children cover
    * (children may overlap each other; overlap is counted once).
    */
  def selfTime(span: Iv, children: Seq[Iv]): Double =
    span.length - covered(children, span)
}
