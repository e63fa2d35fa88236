package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.storage.BlockStore

/** Append-time validation semantics (reference `head.go:1680-1699` +
  * error taxonomy `head.go:43-53`), recast for batch: instead of
  * rejecting samples one at a time behind a per-series lock, classify a
  * whole batch with a per-series window over arrival order.
  *
  * Statuses mirror the reference:
  *   - `ok`            first sample of a series, or t beyond the series max
  *   - `out_of_order`  t < running max of previously-arrived samples
  *                     (`ErrOutOfOrderSample`)
  *   - `amend`         t == running max — a re-append at the newest
  *                     timestamp; the reference accepts it only when the
  *                     value is bitwise-identical (`ErrAmendSample`,
  *                     NaN-safe compare `head.go:1695-1697`)
  *   - `out_of_bounds` t below the global lower bound (`ErrOutOfBounds`,
  *                     `head.go:827-830` — the half-chunk-range
  *                     late-data window, ≡ a streaming watermark)
  *
  * Scale: one window per series over the *batch*, not over history.
  */
object Appender {

  /** Classify a batch. `samples` needs (series_key, t, v, arrival)
    * where `arrival` is the ingest order within the batch. */
  def validate(samples: DataFrame, minValidTime: Long): DataFrame = {
    // Running (max t, its value) over previously-arrived samples of the
    // series: a single struct-max window. The reference validates each
    // append against the last SUCCESSFULLY appended sample
    // (`head.go:1680-1699` — rejected adds never update the memSeries),
    // so the comparison value must be the one that was valid at the max
    // t. Rejected rows can never raise the running max (out_of_order is
    // t < max, amend is t == max, out_of_bounds t < minValidTime ≤ any
    // valid t), so max-t over ALL prior arrivals equals max-t over valid
    // ones — but the VALUE at that t must come from the EARLIEST arrival
    // there (the first append at a new max t is the valid one; later
    // same-t arrivals are dups/amends). Lexicographic max by
    // (t, -arrival) selects exactly that row in the same single window.
    val w = Window
      .partitionBy("series_key")
      .orderBy(col("arrival"))
      .rowsBetween(Window.unboundedPreceding, -1)

    val prevMax = coalesce(col("__mx.t"), lit(Long.MinValue))

    samples
      .withColumn(
        "__mx",
        max(struct(col("t"), (lit(0L) - col("arrival")).as("na"), col("v"))).over(w))
      .withColumn(
        "status",
        when(col("t") < lit(minValidTime), lit("out_of_bounds"))
          .when(prevMax === Long.MinValue || col("t") > prevMax, lit("ok"))
          .when(
            col("t") === prevMax,
            // equal values (Spark's <=> treats NaN as self-equal, the
            // engine-level analogue of the reference's bitwise compare)
            // are an idempotent re-append; anything else is an amend
            when(col("v") <=> col("__mx.v"), lit("ok"))
              .otherwise(lit("amend")))
          .otherwise(lit("out_of_order")))
      .drop("__mx")
  }

  /** Open an append transaction against a store — the reference's
    * `db.Appender()` (`db.go:89-112`). */
  def txn(store: BlockStore, minValidTime: Long = Long.MinValue): Txn =
    new Txn(store, minValidTime)

  /** One append transaction. `add` stages sample frames; `commit`
    * validates the union ([[validate]]) and publishes the accepted
    * samples as one block — per-sample rejection with a committed
    * remainder, exactly the reference's Add-rejects / Commit-persists
    * split. `rollback` (`db.go:100-112`) discards every staged sample
    * but KEEPS the series the transaction introduced: the reference's
    * head retains the `memSeries` entries (and the WAL their series
    * records), so `LabelNames`/`LabelValues`/matcher resolution see a
    * rolled-back series with zero samples. Here that is
    * [[BlockStore.registerSeries]] persisting the label pairs into the
    * store's head dictionary.
    *
    * Frames need `(series_key, t, v, arrival)` and — for the series
    * registration / block index — a `labels` map column. */
  final class Txn private[ingest] (store: BlockStore, minValidTime: Long) {
    private var staged: Option[DataFrame] = None
    private var closed = false

    private def requireOpen(): Unit =
      require(!closed, "transaction already committed or rolled back")

    def add(samples: DataFrame): this.type = {
      requireOpen()
      staged = Some(staged.fold(samples)(_.unionByName(samples)))
      this
    }

    private var stagedByRef: Option[DataFrame] = None

    /** `AddFast` (`db.go:93-99`; `TestDBAppenderAddRef`,
      * `db_test.go:164`): append samples by series ref alone — the
      * canonical key IS the ref here — without re-shipping the label
      * map. At commit the refs must already be known to the store (any
      * block's index or a registered series); an unknown ref fails the
      * commit loudly (the reference's `ErrNotFound`). This is the
      * steady-state ingest shape at scale: label sets ship once when a
      * series first appears, samples thereafter carry only the key. */
    def addRef(samples: DataFrame): this.type = {
      requireOpen()
      stagedByRef = Some(stagedByRef.fold(samples)(_.unionByName(samples)))
      this
    }

    /** Publish accepted samples as one block; None when the txn staged
      * nothing acceptable (the reference commits empty txns as no-ops). */
    def commit(): Option[Long] = {
      requireOpen()
      closed = true
      val resolved = stagedByRef.map { byRef =>
        // take the label maps from the store's index (the relation a
        // labelled read joins, resolved on the store's side of its gate)
        // so the new block's dictionary stays complete: matcher queries
        // must keep working when a block holds only by-ref samples
        val withLabels = byRef.join(store.seriesLabels(byRef.sparkSession), Seq("series_key"), "left")
        val unknown = withLabels.where(col("labels").isNull)
          .select("series_key").distinct().limit(5)
          .collect().map(_.getString(0))
        require(unknown.isEmpty,
          s"addRef with unknown series refs (ErrNotFound): ${unknown.mkString(", ")}")
        withLabels
      }
      val all = (staged ++ resolved).reduceOption(_ unionByName _)
      // the write caches its input, so the validate windows (and
      // addRef's labels join) run once; it publishes nothing when
      // every sample was rejected
      all.flatMap(df => store.write(validate(df, minValidTime)
        .where(col("status") === "ok").drop("status")
        .withColumnRenamed("arrival", "sample_id")))
    }

    /** Drop the staged samples, keep their series (`db.go:100-112`). */
    def rollback(): Unit = {
      requireOpen()
      closed = true
      staged.filter(_.columns.contains("labels")).foreach { df =>
        store.registerSeries(df.select("series_key", "labels"))
      }
    }
  }
}
