package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Analysis over the canonical long format
  * `(series_key string, labels map<string,string>, t long, v double, ...)`
  * — the operations no store read computes: the `tsdb analyze`
  * cardinality report (`cmd/tsdb/main.go:464-616`), per-series span
  * stats and downsampling rollups.
  *
  * Selection and label metadata have no path here: store data resolves
  * them in its postings index ([[graft.storage.BlockStore.readRange]],
  * `labelNames`, `labelValues`, [[graft.Db]]'s selector-scoped forms),
  * and wide source tables compile matchers to parquet pushdown
  * ([[TsdbSource.select]]).
  */
final class Querier(val samples: DataFrame) {

  /** Top-k (label name, value) pairs by sample frequency — the `tsdb
    * analyze` cardinality report (reference `cmd/tsdb/main.go:464-616`).
    * Deterministic tie-break on (name, value). */
  def cardinalityTopK(k: Int): DataFrame =
    samples
      .select(explode(col("labels")).as(Seq("label_name", "label_value")))
      .groupBy("label_name", "label_value")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("label_name"), col("label_value"))
      .limit(k)

  /** Downsampling — the rollup maintenance job a 100 TB metric store
    * runs beyond the reference's raw-resolution-only storage (the
    * Thanos/M3 pattern): per `(series, step)` the five standard rollup
    * aggregates — count, sum, min, max, last — from which every
    * consumer function stays computable at the coarser resolution
    * (avg = sum/count, rate from last, bounds from min/max). ONE
    * map-side-combined hash aggregate; `last` rides a struct-max keyed
    * `(t, sample_id, v)` so ties are deterministic. The output is
    * itself a valid samples frame (`t` = step boundary, `v` = last,
    * `sample_id` = the group's max, still globally unique), so it
    * writes straight back into a coarser [[graft.storage.BlockStore]]
    * and is queried by the same machinery — QuerierSpec round-trips
    * exactly that. */
  def downsample(stepMs: Long): DataFrame =
    samples
      .groupBy(col("series_key"),
        graft.functions.rangeForTimestamp(col("t"), stepMs).as("t"))
      .agg(
        max("sample_id").as("sample_id"),
        // flat-slot pick (HashAggregate) ≡ max(struct): (t, sample_id)
        // is already unique, so the 2-level key decides identically
        graft.catalyst.ArgPick.pick(max = true, Seq(
          "__t" -> col("t"), "sample_id" -> col("sample_id"),
          "v" -> col("v")))
          .getField("v").as("v"),
        count(lit(1)).as("n"),
        round(sum("v"), 2).as("sum_v"),
        min("v").as("min_v"),
        max("v").as("max_v"))

  /** Per-series sample-span stats — min/max time maintenance (reference
    * `head.go:301-320`) and block-stats accumulation (`compact.go:827-831`). */
  def seriesStats(): DataFrame =
    samples
      .groupBy("series_key")
      .agg(
        min(col("t")).as("min_t"),
        max(col("t")).as("max_t"),
        count(lit(1)).as("num_samples"))
      .orderBy("series_key")
}
