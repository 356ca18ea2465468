package perfbench

/** Summary statistics with the benchmark's reporting rule: a
  * percentile is reported only when at least [[MinBeyond]] samples lie
  * beyond it on its tail side (above it for p >= 50, below it
  * otherwise), so a p50 needs 20 samples, a p90 100 and a p95 200.
  */
object Stats {

  val MinBeyond = 10

  /** 1-based nearest rank of percentile `p` (0 < p <= 100) in `n`. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n).toInt))

  /** Samples strictly beyond the nearest-rank percentile. */
  def beyond(n: Int, p: Double): Int = {
    val r = rank(n, p)
    if (p >= 50) n - r else r - 1
  }

  /** Nearest-rank percentile, or None when the rule is not met. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || beyond(xs.size, p) < MinBeyond) None
    else Some(xs.sorted.apply(rank(xs.size, p) - 1))

  /** Plain median (no sample-count rule) for per-layer summaries and
    * repeated set-up times.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A closed interval on the trace clock (milliseconds since epoch). */
final case class Interval(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
  def contains(t: Double): Boolean = t >= start && t <= end
  def clip(to: Interval): Interval =
    Interval(math.max(start, to.start), math.min(end, to.end))
}

object Interval {

  /** Total length covered by the union of `xs` (overlaps count once). */
  def covered(xs: Seq[Interval]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    xs.filter(_.length > 0).sortBy(_.start).foreach { iv =>
      if (curEnd.isNaN || iv.start > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = iv.start
        curEnd = iv.end
      } else curEnd = math.max(curEnd, iv.end)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Self time of `parent`: its length minus the part its children
    * cover, each child clipped to the parent first.
    */
  def selfTime(parent: Interval, children: Seq[Interval]): Double =
    parent.length - covered(children.map(_.clip(parent)))
}
