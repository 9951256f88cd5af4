package graft.perfbench

/** Order statistics the benchmark reports. Pure Scala, no Spark. */
object Stats {

  /** Median with the midpoint rule for even counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** Samples a tail must have above it. */
  val Beyond = 10

  /** The tail sample: the highest order statistic with at least `Beyond`
    * samples above it, and the percentile it stands at. With n samples
    * sorted ascending that is the value at 0-based index n - Beyond - 1,
    * the ((n - Beyond) / n)-th percentile. A tail below the median
    * (n < 2 * Beyond) is no tail, so that is None. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n < 2 * Beyond) None
    else {
      val s = xs.sorted
      Some(Tail(100.0 * (n - Beyond) / n, s(n - Beyond - 1), n))
    }
  }
}
