package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.rangeForTimestamp

/** Prometheus *native* (sparse / exponential-bucket) histograms —
  * the post-reference histogram data model (the reference tsdb predates
  * them; its surface is the classic `le`-label convention covered by
  * [[Histogram]]). Semantics follow the published Prometheus 3.x
  * FloatHistogram model: a histogram sample carries a resolution
  * `schema`, a zero bucket `[-zt, zt]` with its own count, and sparse
  * positive/negative bucket sets where bucket `i` at schema `s` covers
  * `(base^(i-1), base^i]` with `base = 2^(2^-s)` (negative buckets
  * mirror onto `[-base^i, -base^(i-1))`).
  *
  * Representation is RELATIONAL first: a histogram is its bucket rows
  * `(keys…, schema, part ∈ {-1,0,1}, idx, c)` plus per-histogram scalars
  * — the form every consumer (quantile, fraction, stddev, merge) wants,
  * and the form that scales: observation ingest is ONE map-side-combined
  * hash aggregate (the shuffle carries bucket-grain rows, ≤ ~64 per
  * series-window, not samples), and nothing downstream touches
  * sample-scale data — [[Histogram]]'s shape, generalized to the sparse
  * exponential lattice. [[pack]] folds the rows into the struct form
  * (`schema, zt, z_count, count, sum, pos[], neg[]`) for API surfaces.
  *
  * Cross-engine determinism (the oracle constraint every op here obeys
  * at schema ≤ 0): bucket boundaries are EXACT powers of two
  * (`pow(2, n)`, integer n), so membership comparisons are exact; the
  * bucket index is derived from `log2` but immediately *corrected*
  * against the exact boundaries (one ±1 fix-up step), so a libm that
  * rounds `log2` differently cannot shift a bucket; counts are exact
  * longs; the only float sums (`sum`, the variance fold) are rounded
  * before anything divides them. Positive schemas (irrational
  * boundaries) are supported but their boundary math is libm-dependent
  * — documented, and kept off the oracle surface.
  */
object NativeHistogram {

  /** Fractional-scale digit cut as PURE IEEE ops: `⌊x·10ˢ + 0.5⌋/10ˢ`.
    * NOT `round(x, s)`: when an exact rational result lands ON the
    * half-grid (common here — integer-scaled sums divided by small
    * counts), Spark's exact-decimal HALF_UP (via the double's
    * shortest-string form) and DuckDB's multiply-based round disagree
    * on which side the unrepresentable half falls; this op sequence is
    * identical in both engines by construction. (Scale-0 `round` is
    * safe — halves are exactly representable there — so the integer
    * term scaling keeps plain `round`.) */
  private def cut(c: Column, scale: Double): Column =
    floor(c * scale + 0.5) / scale

  /** Exact bucket bounds for |v|-axis index `i` at `schema`:
    * `(2^((i-1)·w), 2^(i·w)]`. Exact for schema ≤ 0 (integer exponents). */
  private def upperOf(idx: Column, schema: Column): Column =
    pow(lit(2.0), idx.cast("double") * pow(lit(2.0), -schema.cast("double")))
  private def lowerOf(idx: Column, schema: Column): Column =
    upperOf(idx - 1, schema)

  /** Index of the bucket containing `av` (> 0) on the |v| axis:
    * smallest `i` with `av ≤ 2^(i·w)`. `ceil(log2(av)·2^s)` seeded, then
    * one exact ±1 correction — the log only has to be within half a
    * bucket of the truth, the EXACT power-of-two comparisons make the
    * final call (so DuckDB's and the JVM's `log2` never disagree on a
    * bucket). */
  def bucketIdx(av: Column, schema: Column): Column = {
    val i0 = ceil(log2(av) * pow(lit(2.0), schema.cast("double"))).cast("int")
    // ONE pow per row on the hot ingest path (measured ~1 s of the x10
    // observe at three): the seed's lower bound is its upper bound
    // scaled by the constant 2^(−w). The product is bit-exact ONLY when
    // w = 2^−schema is an integer (schema ≤ 0 — then 2^(−w) is a power
    // of two and the multiply just shifts the exponent); at positive
    // schemas 2^(−w) is irrational, the product can land an ulp off
    // `lowerOf(i0)`, and a value exactly on a boundary would flip the
    // correction — diverging from [[StreamingHistogram.bucketIdx]] and
    // every estimator's `lowerOf` bounds. So the fast path is gated on
    // schema ≤ 0; positive schemas pay the second pow. Both the gate
    // and the factor constant-fold whenever `schema` is a literal
    // (every current entry point).
    val up0 = upperOf(i0, schema)
    val lo0 = when(schema.cast("int") <= 0,
      up0 * pow(lit(2.0), -pow(lit(2.0), -schema.cast("double"))))
      .otherwise(lowerOf(i0, schema))
    i0 + (up0 < av).cast("int") - (lo0 >= av).cast("int")
  }

  /** Observe `valueCol` into per-`(series_key, t_bucket)` native
    * histograms at `schema` (a per-row Column, so a corpus can mix
    * resolutions like real scrape targets do). ONE hash aggregate to
    * bucket grain — map-side combined, shuffle carries bucket rows.
    *
    * Output bucket rows: `(series_key, t_bucket, schema, part, idx, c,
    * sv)` — `part` −1/0/1 (negative / zero bucket / positive), `idx`
    * null on the zero bucket, `sv` the bucket's value sum (the
    * histogram `sum` is re-aggregated from these partials and rounded
    * 2dp at the consumer, mirroring the two-level association on the
    * oracle side). */
  def observe(
      samples: DataFrame,
      bucketMs: Long,
      schema: Column,
      zeroThreshold: Double,
      valueCol: Column): DataFrame = {
    val vv = valueCol.as("__vv")
    val av = abs(col("__vv"))
    val part = when(av <= zeroThreshold, lit(0))
      .when(col("__vv") > 0, lit(1)).otherwise(lit(-1))
    samples
      .select(
        col("series_key"),
        rangeForTimestamp(col("t"), bucketMs).as("t_bucket"),
        schema.cast("int").as("schema"), vv)
      // NaN observations DROP, by documented convention: they fit no
      // bucket (`av <= zt` and `vv > 0` are both false for NaN, and
      // ceil(log2(NaN)) is null — an unfiltered NaN would fabricate a
      // phantom negative-bucket row with null bounds that corrupts the
      // cumulative walk and every total). Upstream counts NaN in
      // count/sum only, which makes count ≠ Σ buckets and quantile
      // ranks NaN-shifted; the relational model keeps count ≡ Σ bucket
      // counts instead, so its estimators stay well-defined.
      .where(!isnan(col("__vv")))
      .select(
        col("series_key"), col("t_bucket"), col("schema"),
        part.as("part"),
        when(part =!= 0, bucketIdx(av, col("schema"))).as("idx"),
        col("__vv"))
      .groupBy("series_key", "t_bucket", "schema", "part", "idx")
      .agg(count(lit(1)).as("c"), sum("__vv").as("sv"))
  }

  /** Default histogram identity: one histogram per series per window. */
  val HistKeys: Seq[String] = Seq("series_key", "t_bucket")

  /** Histogram-grain scalars appended to every bucket row via one
    * bucket-grain window (groups are ≤ ~64 rows): `total`, `z_count`,
    * `neg_total`, `h_sum` (rounded 2dp). */
  private def withTotals(
      rows: DataFrame, keys: Seq[String],
      ordered: Boolean = false): DataFrame = {
    // `ordered` lets a consumer with its own ORDERED window over the
    // same partition share ONE sort: whole-partition aggregates ignore
    // order, and Spark folds same-(partition, order) window specs into
    // one physical Window op regardless of frame
    val w0 = Window.partitionBy(keys.map(col): _*)
    val w =
      if (!ordered) w0
      else w0
        .orderBy(col("part"),
          when(col("part") === -1, -col("idx")).otherwise(col("idx")))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows
      .withColumn("total", sum("c").over(w))
      .withColumn("z_count",
        coalesce(sum(when(col("part") === 0, col("c"))).over(w), lit(0L)))
      .withColumn("neg_total",
        coalesce(sum(when(col("part") === -1, col("c"))).over(w), lit(0L)))
      .withColumn("h_sum", round(sum("sv").over(w), 2))
  }

  /** Value-axis bounds of a bucket row (zero bucket: lower collapses to
    * 0 when the histogram has no negative observations, the upstream
    * convention). */
  private def boundsOf(zt: Double): (Column, Column) = {
    val l = when(col("part") === 1, lowerOf(col("idx"), col("schema")))
      .when(col("part") === -1, -upperOf(col("idx"), col("schema")))
      .otherwise(when(col("neg_total") > 0, lit(-zt)).otherwise(lit(0.0)))
    val u = when(col("part") === 1, upperOf(col("idx"), col("schema")))
      .when(col("part") === -1, -lowerOf(col("idx"), col("schema")))
      .otherwise(lit(zt))
    (l, u)
  }

  /** `histogram_quantile(φ, h)` over [[observe]] bucket rows: cumulative
    * walk in value order (negative buckets by descending index, the zero
    * bucket, positive buckets ascending), locate the bucket where the
    * cumulative count first reaches `φ·total`, interpolate linearly
    * between its EXACT bounds. One bucket-grain window + one filter —
    * nothing at sample scale. Output `(series_key, t_bucket, n, q)`.
    * φ outside (0, 1] follows upstream: < 0 → −Inf, > 1 → +Inf (emitted
    * as constant columns so the plan stays trivial); φ = 0 yields the
    * lowest populated bound. */
  def quantile(
      rows: DataFrame,
      phi: Double,
      zt: Double,
      keys: Seq[String] = HistKeys): DataFrame = {
    val base = withTotals(rows, keys, ordered = true)
    val kc = keys.map(col)
    if (phi < 0 || phi > 1) {
      val v = if (phi < 0) Double.NegativeInfinity else Double.PositiveInfinity
      return base.select(kc :+ col("total").as("n"): _*)
        .distinct().withColumn("q", lit(v))
    }
    val ord = when(col("part") === -1, -col("idx")).otherwise(col("idx"))
    val w = Window.partitionBy(kc: _*)
      .orderBy(col("part"), ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (bl, bu) = boundsOf(zt)
    val rank = lit(phi) * col("total")
    val cum = base
      .withColumn("cum", sum("c").over(w))
      .where(col("cum") >= rank && (col("cum") - col("c")) < rank ||
        // φ = 0: the first populated bucket's lower bound
        lit(phi) === 0 && col("cum") === col("c"))
    cum.select(
      kc ++ Seq(
        col("total").as("n"),
        cut(
          if (phi == 0) bl
          else bl + (bu - bl) * (rank - (col("cum") - col("c"))) / col("c"),
          1e4).as("q")): _*)
  }

  /** `histogram_fraction(lo, hi, h)`: the estimated fraction of
    * observations in `[lo, hi]`, interpolating linearly inside partially
    * covered buckets — `Σ c·overlap(bucket, [lo,hi]) / total`. Pure
    * per-row math + ONE hash aggregate at histogram grain. */
  def fraction(
      rows: DataFrame,
      lo: Double,
      hi: Double,
      zt: Double,
      keys: Seq[String] = HistKeys): DataFrame = {
    val (bl, bu) = boundsOf(zt)
    val ov = greatest(lit(0.0),
      (least(lit(hi), bu) - greatest(lit(lo), bl)) / (bu - bl))
    // per-term integer scaling (8dp) before the sum: each term is an
    // exact long from deterministic doubles, so the cross-engine sum is
    // ORDER-FREE integer math — a float Σ here could differ in the last
    // ulp between engines and flip the rounded digit
    withTotals(rows, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        max(col("total")).as("n"),
        cut(sum(round(col("c") * ov * 1e8).cast("long")) / 1e8 /
          max(col("total")), 1e6).as("frac"))
  }

  /** `histogram_sum/avg/stddev/stdvar(h)`: the moment estimators. Each
    * bucket contributes at its GEOMETRIC midpoint `±√(l·u)` (the
    * upstream estimator — exact here: `l·u` is a product of powers of
    * two and IEEE `sqrt` is correctly rounded, so both engines see the
    * same doubles); the zero bucket contributes at 0. One histogram-
    * grain aggregate over bucket rows. */
  def stats(rows: DataFrame, zt: Double, keys: Seq[String] = HistKeys): DataFrame = {
    val (bl, bu) = boundsOf(zt)
    val mid = when(col("part") === 0, lit(0.0))
      .otherwise(signum(bu) * sqrt(abs(bl * bu)))
    val mean = col("h_sum") / col("total")
    withTotals(rows, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        max(col("total")).as("n"),
        max(col("h_sum")).as("h_sum"),
        cut(max(mean), 1e4).as("h_avg"),
        // integer-scaled terms (4dp) — the [[fraction]] order-free-sum
        // rationale; the variance terms reach ~1e9 where a float Σ's
        // association noise would sit inside the rounding grain
        cut(sum(round(col("c") * (mid - mean) * (mid - mean) * 1e4)
          .cast("long")) / 1e4 / max(col("total")), 1e4)
          .as("h_stdvar"))
      .withColumn("h_stddev", cut(sqrt(col("h_stdvar")), 1e4))
  }

  /** `sum by (keys)` of native histograms — the aggregation PromQL
    * applies bucket-wise. Histograms of DIFFERENT schemas merge at the
    * group's COARSEST (minimum) schema: going Δ schemas coarser merges
    * bucket pairs, `idx' = ⌈idx / 2^Δ⌉` (exact integer math). Two hash
    * aggregates (bucket re-map + bucket-wise add), both map-side
    * combined; the group-min schema is a bucket-grain window. Zero
    * buckets add (a shared `zt` is required — asserted by the caller's
    * corpus, like upstream's zero-threshold merge rule). */
  def sumBy(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*)
    val delta = (col("schema") - min("schema").over(w)).cast("double")
    // ceilDiv for any-sign idx: -floor(-idx / 2^Δ) — division by a power
    // of two is EXACT in IEEE doubles, so the floor is exact integer math
    val mapped = rows
      .withColumn("__target", min("schema").over(w))
      .withColumn("idx",
        when(col("part") =!= 0,
          -floor((-col("idx")).cast("double") / pow(lit(2.0), delta))
            .cast("int")))
      .withColumn("schema", col("__target"))
      .drop("__target")
    mapped
      .groupBy(kc ++ Seq(col("schema"), col("part"), col("idx")): _*)
      .agg(sum("c").as("c"), sum("sv").as("sv"))
  }

  /** Pack bucket rows into the struct form
    * `(keys…, h: struct(schema, zt, z_count, count, sum, neg, pos))` —
    * the sample shape a native-histogram series carries (one hash
    * aggregate; bucket arrays arrive index-sorted). */
  def pack(rows: DataFrame, zt: Double, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    def side(p: Int) = sort_array(collect_list(
      when(col("part") === p, struct(col("idx").as("i"), col("c")))))
    rows
      .groupBy(kc: _*)
      .agg(
        max("schema").as("__schema"),
        coalesce(sum(when(col("part") === 0, col("c"))), lit(0L)).as("__z"),
        sum("c").as("__count"),
        round(sum("sv"), 2).as("__sum"),
        side(-1).as("__neg"), side(1).as("__pos"))
      .select(kc :+ struct(
        col("__schema").as("schema"), lit(zt).as("zt"),
        col("__z").as("z_count"), col("__count").as("count"),
        col("__sum").as("sum"),
        col("__neg").as("neg"), col("__pos").as("pos")).as("h"): _*)
  }
}
