package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deletion markers — the reference's tombstones (`tombstones.go:33-55`):
  * per-series lists of **closed** `[mint, maxt]` intervals whose samples
  * are invisible to queries until a rewrite drops them physically.
  *
  * Schema of a tombstone DataFrame: `(series_key string, mint long,
  * maxt long)`.
  *
  * [[BlockStore.delete]] records them; this object holds the operators
  * over tombstone frames.
  *
  * Scale notes: tombstones are tiny relative to data (a side table), so
  * [[applyTo]] broadcasts them — the read-time filter is a broadcast
  * range anti-join, no shuffle of the fact table. [[coalesceIntervals]]
  * is a per-series window (island detection), shuffling only the
  * tombstone table itself.
  */
object Tombstones {

  /** Read-time tombstone filter (reference `deletedIterator`,
    * `querier.go:1166-1204`): drop samples falling inside any deleted
    * interval of their series. Broadcast range anti-join by default —
    * tombstones are a small side table; pass `broadcastTombstones =
    * false` for delete-heavy workloads whose interval set outgrows the
    * driver, which falls back to a shuffled join on series_key. */
  def applyTo(
      samples: DataFrame,
      tombstones: DataFrame,
      broadcastTombstones: Boolean = true): DataFrame = {
    val t = tombstones.select(
      col("series_key").as("__ts_key"),
      col("mint").as("__ts_mint"),
      col("maxt").as("__ts_maxt"))
    samples.join(
      if (broadcastTombstones) broadcast(t) else t,
      col("series_key") === col("__ts_key") &&
        col("t") >= col("__ts_mint") && col("t") <= col("__ts_maxt"),
      "left_anti")
  }

  /** Interval-set coalescing (reference `Intervals.add`,
    * `tombstones.go:259-304`): overlapping or adjacent (gap ≤ 1 ms,
    * intervals are closed) ranges merge into one. Window-based island
    * detection per series. */
  def coalesceIntervals(
      intervals: DataFrame,
      keyCols: Seq[String] = Seq("series_key")): DataFrame = {
    val keys = keyCols.map(col)
    val byStart = Window.partitionBy(keys: _*).orderBy(col("mint"), col("maxt"))
    val runningMax = max(col("maxt"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(
      runningMax.isNull || col("mint") > runningMax + lit(1L), lit(1)
    ).otherwise(lit(0))
    intervals
      .withColumn("__new", newIsland)
      .withColumn("__grp", sum(col("__new")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy((keys :+ col("__grp")): _*)
      .agg(min(col("mint")).as("mint"), max(col("maxt")).as("maxt"))
      .drop("__grp")
  }
}
