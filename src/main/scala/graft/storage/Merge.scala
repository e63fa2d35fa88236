package graft.storage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Series-set merge semantics (reference `querier.go:533-667`,
  * `chunks/chunks.go:208-285`).
  *
  * In the long format, merging time-adjacent blocks ("chaining",
  * reference `chainedSeriesIterator`) is a plain `union` — order is
  * reimposed at the sink. Overlapping blocks additionally need sample
  * dedup where *the later block wins* on duplicate timestamps
  * (reference `verticalMergeSeriesIterator`, `querier.go:1039-1042`:
  * "the sample in a is discarded").
  *
  * Spark's union order is nondeterministic, so "later" must be an
  * explicit expression. What "later" means is the caller's contract:
  * the reference queries blocks in MIN-TIME order (`db.go:386-388`,
  * re-sorted on every reload), so its vertical fold's winner on a
  * duplicate timestamp is the overlapping block with the greatest
  * `minTime` — NOT the most recently created one (pinned by
  * `TestVerticalCompaction` case 4, `db_test.go:1793`: a later-written
  * backfill block with an earlier minTime LOSES to the block it
  * backfills under). [[graft.storage.BlockStore]] passes that recency
  * ([[BlockStore]]`.blockRecency`: manifest rank by `(mint, block_id)`
  * — block_id breaking the tie Go's unstable sort leaves unspecified);
  * ad-hoc callers pass any monotone ingest sequence. A further unique
  * tie-break (`sample_id`) makes the result reproducible even if one
  * block carries duplicate timestamps.
  *
  * Scale note: the dedup is one shuffle on (series_key, t), expressed
  * as a hash aggregate (`max_by` over the recency key) rather than a
  * window: aggregation gets map-side partial combine — duplicate
  * samples collapse *before* the shuffle — and skips the per-partition
  * sort a `row_number` window needs. With storage bucketed on
  * series_key the exchange disappears entirely.
  */
object Merge {

  /** Vertical merge: keep exactly one sample per (series_key, t), from
    * the highest `block_seq` (ties: highest `sample_id`). Preserves the
    * input schema and column order. */
  def dedupLatest(
      samples: DataFrame,
      seqCol: String = "block_seq",
      tieBreak: String = "sample_id"): DataFrame =
    dedupLatest(samples, col(seqCol), col(tieBreak))

  /** [[dedupLatest]] with the recency as an arbitrary expression (the
    * store's manifest-derived min-time rank).
    *
    * Plan altitude (r12): `max_by(struct(row), struct(seq, tie))`
    * carries a STRUCT aggregation buffer, which Spark's UnsafeRow hash
    * map cannot hold — the dedup compiled to a partial SortAggregate
    * that sorts SAMPLE-grain rows (2 of the 3 operators in the
    * ts_bucketed_dedup plan). When every non-key column is a primitive
    * (the store's read path: sample_id/t/v/block ranks), the pick runs
    * through [[graft.catalyst.ArgPick]] instead — flat primitive
    * buffer slots, whole-stage HashAggregate with map-side combine.
    * Non-primitive payloads (ad-hoc frames carrying label maps) keep
    * the max_by form. */
  def dedupLatest(samples: DataFrame, seq: Column, tieBreak: Column): DataFrame = {
    val cols = samples.columns.toIndexedSeq
    val payload = cols.filterNot(c => c == "series_key" || c == "t")
    val primitive = payload.forall(c => samples.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    })
    if (primitive) {
      val picked = graft.catalyst.ArgPick.pick(max = true,
        Seq("__seq" -> seq, "__tie" -> tieBreak) ++
          payload.map(c => c -> col(c)))
      samples
        .groupBy(col("series_key"), col("t"))
        .agg(picked.as("__row"))
        .select(cols.map(c =>
          if (c == "series_key" || c == "t") col(c)
          else col("__row").getField(c).as(c)): _*)
    } else
      samples
        .groupBy(col("series_key"), col("t"))
        .agg(max_by(
          struct(cols.map(col): _*),
          struct(seq, tieBreak)).as("__row"))
        .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }
}
