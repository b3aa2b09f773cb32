package graft.perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.toArray.sorted
    s(rankIndex(s.length, p))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  private def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p * n / 100.0 - 1e-9).toInt - 1))

  /** Samples that lie strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = if (n == 0) 0 else n - 1 - rankIndex(n, p)

  /** Candidate tail percentiles, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The tail rule: the highest ladder percentile that still has at least
    * ten samples beyond it; None when even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption
}

/** One timed stream: samples in milliseconds. Its tail is the highest
  * ladder percentile with ten samples beyond it, or the maximum (pct 100)
  * when the stream is too short for any; the percentile is reported with
  * the value.
  */
final class Timing(val name: String) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized(buf += ms)
  def samples: Seq[Double] = synchronized(buf.toList)
  def n: Int = samples.size
  def sum: Double = samples.sum
  def p50: Double = if (n == 0) Double.NaN else Stats.median(samples)
  def tailPct: Double = Stats.tailPercentile(n).getOrElse(100.0)
  def tail: Double = if (n == 0) Double.NaN else Stats.percentile(samples, tailPct)
  def describe: String =
    if (n == 0) s"$name: no samples"
    else f"$name: p50=$p50%.3f ms p$tailPct%s=$tail%.3f ms n=$n " +
      f"(${Stats.beyond(n, tailPct)} beyond the tail)"
}
