package perfbench

/** Sample statistics with the reporting rules the benchmark keeps:
  *  - a percentile is reported only when at least [[MinTail]] samples
  *    lie beyond it (p50 needs 20 samples, p99 needs 1,000), so a tail
  *    figure is never one or two unlucky samples;
  *  - every summary states its sample count;
  *  - a ratio travels with its numerator and denominator.
  */
object Stats {

  val MinTail = 10

  /** A percentile over `n` samples; `value` is None when fewer than
    * [[MinTail]] samples lie above it.
    */
  final case class Pct(p: Double, n: Int, value: Option[Double])

  /** A ratio with its base. `value` is None when the base is zero. */
  final case class Ratio(num: Long, den: Long) {
    def value: Option[Double] =
      if (den == 0) None else Some(num.toDouble / den.toDouble)
    override def toString: String =
      s"${value.map(v => f"$v%.6f").getOrElse("n/a")} ($num/$den)"
  }

  /** Samples strictly above the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** 1-based nearest rank of the `p` percentile (0 < p < 1). */
  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Nearest-rank percentile of `xs` under the [[MinTail]] rule. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(p > 0 && p < 1, s"percentile must lie in (0, 1), got $p")
    val n = xs.size
    if (n == 0 || beyond(n, p) < MinTail) Pct(p, n, None)
    else Pct(p, n, Some(xs.sorted.apply(rank(n, p) - 1)))
  }

  /** The percentile's value; fails when the sample cannot support it. */
  def required(xs: Seq[Double], p: Double): Double =
    percentile(xs, p).value.getOrElse(
      throw new IllegalStateException(s"${xs.size} samples cannot support p$p"))

  /** Percentile of a sample given as (value, count) pairs: each value
    * stands for `count` samples, e.g. every document of one ingest batch
    * sharing that batch's latency.
    */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Pct = {
    require(p > 0 && p < 1, s"percentile must lie in (0, 1), got $p")
    val total = xs.map(_._2).sum
    val n = math.min(total, Int.MaxValue.toLong).toInt
    if (n == 0 || beyond(n, p) < MinTail) Pct(p, n, None)
    else {
      val want = rank(n, p).toLong
      val sorted = xs.sortBy(_._1)
      val cum = sorted.scanLeft(0L)(_ + _._2).tail
      Pct(p, n, Some(sorted(cum.indexWhere(_ >= want))._1))
    }
  }

  /** The middle sample (lower middle for even counts); for small
    * samples that cannot support a p50, e.g. a handful of exports.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  /** The highest of `ps` the sample supports, for a layer's tail figure
    * (printed with its p and n); None when not even the lowest is.
    */
  def highestSupported(xs: Seq[Double], ps: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.5)): Option[Pct] =
    ps.sorted.reverse.iterator.map(percentile(xs, _)).find(_.value.isDefined)

  /** p50 when the sample supports it, else the plain median. */
  def p50OrMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else percentile(xs, 0.5).value.getOrElse(median(xs))
}
