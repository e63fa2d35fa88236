package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.rangeForTimestamp

/** `histogram_quantile` — the second classic PromQL-consumer computation
  * over tsdb reads (with [[Rate]]): Prometheus stores histograms as one
  * cumulative counter series per `le` bucket boundary (the data-model
  * convention the reference persists, `labels/labels.go` — `le` is just
  * a label), and the consuming engine locates the φ-quantile bucket and
  * interpolates linearly inside it.
  *
  * This operator builds the bucket matrix from raw samples and computes
  * the quantile in one relational pass:
  *
  *   1. bucket assignment — a codegen'd CASE chain over the sorted
  *      boundaries (per-row, no shuffle);
  *   2. one hash aggregate to `(series, window, le) -> n` (map-side
  *      combined — the shuffle carries at most |buckets| rows per
  *      series-window per task, not samples);
  *   3. cumulative counts + bucket lower bounds via ONE window over the
  *      ≤ |buckets|+1 rows of each series-window;
  *   4. the φ-rank bucket is the unique row where the cumulative count
  *      first reaches `φ·total`; linear interpolation inside it.
  *
  * Nothing after step 2 touches sample-scale data: the window in step 3
  * sorts |buckets|-row groups, so the whole computation scales as one
  * aggregate over the corpus — the same shape at 100 TB.
  *
  * Quantile semantics follow the Prometheus convention: each bucket
  * interpolates from the adjacent configured boundary below it (derived
  * statically from the boundary list, so buckets that received no
  * samples in a window don't widen the interval); the first finite
  * bucket interpolates from lower bound 0; a rank landing in the +Inf
  * bucket returns the highest finite boundary (no extrapolation).
  *
  * Cross-engine determinism: counts are exact longs, boundaries are
  * literals, and `φ·total`, the comparisons, and the interpolation are
  * the same double arithmetic in both engines; the result is rounded to
  * 4dp.
  */
object Histogram {

  /** Smallest boundary ≥ v, else +Inf — the `le` of the sample's bucket. */
  private def leOf(v: Column, les: Seq[Double]): Column =
    les.sorted.foldRight(lit(Double.PositiveInfinity): Column) { (b, els) =>
      when(v <= b, lit(b)).otherwise(els)
    }

  /** φ-quantile per `(series_key, t_bucket)` from le-bucketed counts.
    * Output: `(series_key, t_bucket, total, q)`.
    *
    * The boundary list is a LITERAL, so the cumulative bucket counts
    * decompose statically: one conditional sum `Σ 1[v ≤ leᵢ]` per
    * boundary inside ONE hash aggregate at `(series, window)` grain —
    * map-side combined, no per-le rows, no cumulative window, nothing
    * after the aggregate above `(series, window)` grain (the same
    * decomposition [[fraction]] uses). The φ-rank walk is then a
    * codegen'd coalesce-of-whens over the cumulative columns: the first
    * boundary whose cumulative count reaches `φ·total` interpolates
    * from the adjacent CONFIGURED boundary below it (0 below the
    * first; empty buckets cannot widen the interval because every
    * boundary has its own cumulative column whether or not it received
    * samples), and a rank landing past every finite boundary — the
    * +Inf bucket — returns the highest finite boundary. The first
    * boundary reaching the rank always has `prev_cum < rank ≤ cum`, so
    * the interpolation divisor is ≥ 1 by construction. */
  def quantile(
      samples: DataFrame,
      bucketMs: Long,
      les: Seq[Double],
      phi: Double): DataFrame = {
    require(les.nonEmpty && les.forall(b => !b.isInfinite), "finite boundaries only")
    val sorted = les.sorted
    val maxFinite = sorted.last
    val cums = sorted.zipWithIndex.map { case (b, i) =>
      sum(when(col("v") <= b, 1L).otherwise(0L)).as(s"__c_$i")
    }
    val rank = col("total") * phi
    val walk = sorted.zipWithIndex.map { case (b, i) =>
      val cum = col(s"__c_$i")
      val prevCum = if (i == 0) lit(0L) else col(s"__c_${i - 1}")
      val prevLe = if (i == 0) 0.0 else sorted(i - 1)
      when(cum >= rank,
        lit(prevLe) + lit(b - prevLe) * (rank - prevCum) / (cum - prevCum))
    }
    samples
      .select(
        col("series_key"),
        rangeForTimestamp(col("t"), bucketMs).as("t_bucket"),
        col("v"))
      .groupBy("series_key", "t_bucket")
      .agg(cums.head, (cums.tail :+ count(lit(1)).as("total")): _*)
      .select(
        col("series_key"), col("t_bucket"), col("total"),
        round(coalesce(walk :+ (lit(maxFinite): Column): _*), 4).as("q"))
  }

  /** PromQL `histogram_fraction(lower, upper, v)` over classic `le`
    * buckets: the estimated fraction of observations in `[lower,
    * upper]` per `(series_key, t_bucket)`, linearly interpolated inside
    * the bucket containing each bound (the same uniform-within-bucket
    * model [[quantile]] uses; Prometheus defines the function for
    * native histograms — this is its classic-bucket analogue, the
    * `sum(rate(..._bucket{le="x"}))` ratio dashboards compute by hand).
    *
    * Both bounds must lie within `(-inf, les.max]`; the containing
    * bucket of a *literal* bound is known statically, so the cumulative
    * count at each bound needs only two conditional counts — below the
    * bound's bucket, and inside it — making the whole operator ONE
    * hash aggregate (map-side combined, no window, no second pass):
    *
    *   F(x) = |le < target| + |le = target| · (x − prev)/(target − prev)
    *   fraction = (F(upper) − F(lower)) / total
    *
    * All counts are exact longs; each F does one integer·double
    * multiply with a literal ratio, so the doubles are bit-identical
    * cross-engine. A bound exactly on a boundary degenerates to the
    * exact cumulative count (ratio 1). Output: `(series_key, t_bucket,
    * total, frac)`, frac rounded 4dp. */
  def fraction(
      samples: DataFrame,
      bucketMs: Long,
      les: Seq[Double],
      lower: Double,
      upper: Double): DataFrame = {
    require(les.nonEmpty && les.forall(b => !b.isInfinite), "finite boundaries only")
    require(lower <= upper && upper <= les.max,
      s"bounds must satisfy lower <= upper <= ${les.max}")
    val sorted = les.sorted
    // static decomposition of one bound: (bucket boundary containing it,
    // interpolation ratio inside that bucket)
    def boundParts(x: Double): (Double, Double) =
      sorted.find(_ >= x) match {
        case Some(target) =>
          val prev = sorted.takeWhile(_ < target).lastOption.getOrElse(0.0)
          (target, if (x <= prev) 0.0 else (x - prev) / (target - prev))
        case None => (sorted.head, 0.0) // unreachable: upper <= les.max
      }
    val (loLe, loFrac) = boundParts(lower)
    val (hiLe, hiFrac) = boundParts(upper)
    def cumAt(targetLe: Double, frac: Double): Column =
      count(when(col("le") < targetLe, 1)) +
        count(when(col("le") === targetLe, 1)) * lit(frac)
    samples
      .select(
        col("series_key"),
        rangeForTimestamp(col("t"), bucketMs).as("t_bucket"),
        leOf(col("v"), les).as("le"))
      .groupBy("series_key", "t_bucket")
      .agg(
        count(lit(1)).as("total"),
        round((cumAt(hiLe, hiFrac) - cumAt(loLe, loFrac)) /
          count(lit(1)), 4).as("frac"))
  }
}
