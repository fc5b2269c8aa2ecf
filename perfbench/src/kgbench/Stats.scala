package kgbench

/** Order statistics over latency samples. Percentiles use the
  * nearest-rank rule, so every reported value is an observed sample.
  */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it, with its value; None when the sample is too small
    * to have one.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 50 by -1).iterator
      .find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .map(p => (p, percentile(xs, p)))
  }

  /** Summary of one latency series (milliseconds) for the report. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val t = tail(xs)
      Map(
        "n" -> xs.size,
        "p50" -> median(xs),
        "p90" -> percentile(xs, 90),
        "max" -> xs.max,
        "tail_pct" -> t.map(_._1).getOrElse(-1),
        "tail" -> t.map(_._2).getOrElse(-1.0)
      )
    }

  /** Peak resident set of this process in MiB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try
      src.getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(Double.NaN)
    finally src.close()
  }
}
