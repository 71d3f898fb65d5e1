package graftbench

/** The summary statistics the benchmark reports. Kept free of Spark so
  * the self-test can pin them on hand-made inputs. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The middle value, or the mean of the two middle values of an
    * even-sized sample: a REPL window holds only a few sessions, and
    * the nearest-rank median would follow the lower of those two alone. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile: the highest whole percentile that still has
    * at least `beyond` samples strictly above its rank, so a tail
    * figure never rests on fewer than `beyond` observations. With too
    * few samples for any percentile to qualify, the maximum is
    * reported as p100 with the count beyond it (zero). */
  final case class Tail(value: Double, percentile: Int, beyond: Int, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator
      .map(p => (p, math.max(1, math.ceil(p / 100.0 * n).toInt)))
      .find { case (_, rank) => n - rank >= beyond }
      .map { case (p, rank) => Tail(s(rank - 1), p, n - rank, n) }
      .getOrElse(Tail(s.last, 100, 0, n))
  }

  /** Total length covered by the union of `[start, end)` intervals,
    * clipped to `[lo, hi)`. Overlapping and nested intervals count
    * once: this is the time at least one stage was running. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
