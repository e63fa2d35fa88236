package perfbench

/** Order statistics over the latencies of one operation class. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The smallest value whose cumulative weight reaches half the total. */
  def weightedMedian(xs: Seq[(Double, Double)]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sortBy(_._1)
      val half = s.map(_._2).sum / 2
      s.scanLeft((0.0, 0.0)) { case ((_, acc), (v, w)) => (v, acc + w) }.tail
        .find(_._2 >= half).get._1
    }

  /** The median of a stated mix: each kind's share of the mix is spread
    * evenly over that kind's samples, so a run that happens to end with
    * an extra cheap or costly operation does not shift it. `ops` are
    * (kind, value); kinds absent from the run are left out. */
  def mixMedian(ops: Seq[(String, Double)], mix: Map[String, Double]): Double = {
    val n = ops.groupBy(_._1).view.mapValues(_.size).toMap
    weightedMedian(ops.map { case (k, v) => (v, mix(k) / n(k)) })
  }

  /** The rate at which one closed-loop client works through a mix:
    * mix-weighted mean amount per operation over mix-weighted mean
    * seconds per operation. `ops` are (kind, seconds, amount). */
  def mixRate(ops: Seq[(String, Double, Double)], mix: Map[String, Double]): Double = {
    val byKind = ops.groupBy(_._1)
    val total = byKind.keys.map(mix).sum
    def mean(f: ((String, Double, Double)) => Double) =
      byKind.map { case (k, os) => mix(k) / total * os.map(f).sum / os.size }.sum
    val secs = mean(_._2)
    if (secs > 0) mean(_._3) / secs else 0.0
  }

  /** A tail latency and what it rests on: the nearest-rank percentile
    * whose value has `beyond` samples above it, out of `n`. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest nearest-rank percentile with at least ten samples
    * beyond it: rank `n - 10` of `n` sorted samples. It never reads
    * below the median (rank `n / 2 + 1`), so with fewer than 21 samples
    * it rests on fewer than ten beyond, and says so through
    * `percentile` and `beyond`. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = math.min(n, math.max(n - minBeyond, n / 2 + 1)) // 1-based
    Tail(s(rank - 1), 100.0 * rank / n, n - rank, n)
  }

  /** Share of attempted operations that failed or failed their check. */
  def failureShare(attempted: Long, failed: Long): Double = {
    require(attempted >= 0 && failed >= 0 && failed <= attempted,
      s"failed $failed of attempted $attempted")
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }
}
