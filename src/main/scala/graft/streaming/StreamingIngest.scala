package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.storage.BlockStore

/** The write path as Structured Streaming — the reference's single-writer
  * Head + WAL (SURVEY §2.9) recast:
  *
  *  - Appender transaction (`db.go:89-112`)  ≙ micro-batch: a batch is
  *    all-or-nothing visible once its `foreachBatch` write commits;
  *  - WAL + replay (`wal/wal.go`, `head.go:322-495`) ≙ the streaming
  *    checkpoint: exactly-once recovery is Spark's contract;
  *  - per-series out-of-order/amend rejection (`head.go:1680-1699`) ≙
  *    [[validated]] — `flatMapGroupsWithState` holding (maxT, lastV)
  *    per series. Unlike the batch [[graft.ingest.Appender]], this is
  *    the exact sequential semantic: a rejected sample does NOT advance
  *    the series high-water mark;
  *  - the `minValidTime` late-data bound (`head.go:773-783`, half a
  *    chunk range) ≙ the event-time watermark;
  *  - head→block persistence per chunk range (`db.go:617-665`) ≙
  *    partitionBy(t_bucket) parquet writes per micro-batch.
  *
  * State size is O(#series) — the same bound the reference's in-memory
  * series map has — and the state store shards it by series key across
  * executors.
  */
object StreamingIngest {

  /** `labels` rides along so persisted blocks can build their postings
    * index (S12) — the reference's WAL interleaves series records
    * (label sets) with sample records for exactly this reason
    * (`record.go:26-208`); a stream that omits them (empty maps) still
    * ingests, but its blocks answer only time-range reads, not matcher
    * queries. */
  final case class Sample(
      series_key: String, t: Long, v: Double, arrival: Long,
      labels: Map[String, String] = Map.empty)
  final case class SampleTs(
      series_key: String, t: Long, v: Double, arrival: Long,
      labels: Map[String, String], arrival_ts: java.sql.Timestamp) {
    def sample: Sample = Sample(series_key, t, v, arrival, labels)
  }
  final case class SeriesState(maxT: Long, lastV: Double)
  final case class Validated(
      series_key: String, t: Long, v: Double, arrival: Long, status: String,
      labels: Map[String, String] = Map.empty)

  /** Sequentially validate one series' new samples against its running
    * state (reference `memSeries.appendable`, `head.go:1680-1699`). */
  private[streaming] def validateSeries(
      key: String,
      samples: Iterator[Sample],
      state: GroupState[SeriesState],
      minValidTime: Long): Iterator[Validated] = {
    var st = state.getOption.getOrElse(SeriesState(Long.MinValue, Double.NaN))
    val out = samples.toSeq.sortBy(_.arrival).map { s =>
      val status =
        if (s.t < minValidTime) "out_of_bounds"
        else if (st.maxT == Long.MinValue || s.t > st.maxT) {
          st = SeriesState(s.t, s.v); "ok"
        } else if (s.t == st.maxT) {
          // bitwise value equality incl. NaN payloads (head.go:1695-1697)
          if (java.lang.Double.doubleToRawLongBits(s.v) ==
            java.lang.Double.doubleToRawLongBits(st.lastV)) "ok"
          else "amend"
        } else "out_of_order"
      Validated(key, s.t, s.v, s.arrival, status, s.labels)
    }
    state.update(st)
    out.iterator
  }

  /** Streaming validation operator: per-series state, exact sequential
    * semantics, state carried across micro-batches (≙ WAL replay
    * rebuilding series state on restart — the checkpoint restores it).
    *
    * `stateTtlMs` is the head-GC analogue (ST7, reference
    * `head.go:1036-1097` + checkpoint dead-series drop,
    * `checkpoint.go:102-261`): a series idle for `stateTtlMs` on the
    * arrival axis has its state expired via event-time timeout, so state
    * size tracks *live* series, not all series ever seen — without it,
    * per-series state grows monotonically with churn. An expired series
    * that reappears re-validates from a fresh baseline, exactly like a
    * re-created series after head truncation. The watermark delay IS the
    * TTL, so a straggler up to `stateTtlMs` behind the newest processed
    * arrival is still validated normally (the reference's late-data
    * window, `head.go:773-783`); anything older is dropped by the
    * engine, and an idle series' state expires once the watermark passes
    * its last arrival + TTL. */
  def validated(
      samples: Dataset[Sample],
      minValidTime: Long,
      stateTtlMs: Long = 0L): Dataset[Validated] = {
    import samples.sparkSession.implicits._
    if (stateTtlMs <= 0L)
      samples
        .groupByKey(_.series_key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (key: String, it: Iterator[Sample], state: GroupState[SeriesState]) =>
            validateSeries(key, it, state, minValidTime))
    else
      samples
        .withColumn("arrival_ts", timestamp_millis(col("arrival")))
        .withWatermark("arrival_ts", s"$stateTtlMs milliseconds")
        .as[SampleTs]
        .groupByKey(_.series_key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          (key: String, it: Iterator[SampleTs], state: GroupState[SeriesState]) =>
            if (state.hasTimedOut) {
              // head GC: the idle series' state is dropped wholesale
              state.remove()
              Iterator.empty
            } else {
              val batch = it.map(_.sample).toSeq
              val out = validateSeries(key, batch.iterator, state, minValidTime)
              val maxArr = batch.iterator.map(_.arrival).max
              state.setTimeoutTimestamp(
                math.max(maxArr + stateTtlMs, state.getCurrentWatermarkMs() + 1))
              out
            })
  }

  /** Ingest a stream into block storage: accepted samples only, bucketed
    * into block partitions per micro-batch (ST1 + ST4). Returns the
    * running query; stop it to "close" the appender. Series state
    * expires after two block ranges idle (≙ head truncation window).
    * Each persisted block gets its postings index from the samples'
    * label maps, so matcher/label queries work on streamed stores
    * exactly like batch-written ones — the reference's head serves
    * matchers the same way (`head.go:1292-1295`). */
  def ingest(
      samples: Dataset[Sample],
      store: BlockStore,
      checkpointDir: String,
      minValidTime: Long,
      stateTtlMs: Long = -1L): StreamingQuery = {
    import samples.sparkSession.implicits._
    val ttl = if (stateTtlMs == -1L) 2 * store.blockRangeMs else stateTtlMs
    validated(samples, minValidTime, ttl)
      .where($"status" === "ok")
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Validated], _: Long) =>
        // a micro-batch can be empty (e.g. timeout-only triggers): the
        // write then publishes nothing, like the reference, which never
        // writes empty blocks
        store.write(batch.toDF().withColumnRenamed("arrival", "sample_id").drop("status"))
        ()
      }
      .start()
  }

  /** Salvage a corrupt streaming checkpoint — the reference's
    * `wal.Repair` (`wal/wal.go:702-757`) as an EXPLICIT operator action:
    * scan the offsets log in batch order, and from the first entry that
    * no longer parses, truncate it and everything after it (offsets +
    * commits + their checksum sidecars), so a restart resumes from the
    * last intact batch and re-reads the dropped range from the
    * (replayable) source. Exactly `wal.Repair`'s contract: records
    * before the corruption are kept, the torn tail is discarded, and
    * the re-read is absorbed downstream — here by the store's overlap
    * dedup, which makes re-ingested blocks read exactly-once.
    *
    * Refuse-by-default stands: a restart over a corrupt checkpoint
    * still fails loudly (StreamingSpec pins it); ONLY this call — the
    * operator flag — truncates. Returns the truncated batch ids (empty
    * when the log is intact: calling salvage on a healthy checkpoint is
    * a no-op, it never drops uncommitted-but-parseable progress). */
  def salvage(checkpointDir: String): Seq[Long] = {
    val offsetsDir = new java.io.File(s"$checkpointDir/offsets")
    val entries = Option(offsetsDir.listFiles()).getOrElse(Array())
      .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong)
    def parses(f: java.io.File): Boolean = {
      val lines = try {
        java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
      } catch { case _: Exception => return false }
      // HDFSMetadataLog format: a version tag line, then JSON records
      // (OffsetSeq metadata + one offset per source)
      lines.nonEmpty && lines.head.matches("v\\d+") && lines.tail.forall { l =>
        l.isEmpty || (try {
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(l); true
        } catch { case _: Exception => false })
      }
    }
    val firstBad = entries.find(f => !parses(f)).map(_.getName.toLong)
    firstBad match {
      case None => Nil
      case Some(bad) =>
        val drop = entries.map(_.getName.toLong).filter(_ >= bad).toSeq
        for (id <- drop; sub <- Seq("offsets", "commits")) {
          val f = new java.io.File(s"$checkpointDir/$sub/$id")
          f.delete()
          new java.io.File(f.getParent, "." + id + ".crc").delete()
        }
        // state the truncated batches produced must go with them: batch N
        // writes state version N+1, and a full reset must leave the state
        // dir EMPTY (the engine refuses a non-empty location on batch 0).
        // Covers the default HDFS-backed layout (<op>/<part>/<version>
        // .delta/.snapshot + checksum sidecars).
        val stateDir = new java.io.File(s"$checkpointDir/state")
        if (bad == 0L)
          scala.reflect.io.Directory(stateDir).deleteRecursively()
        else if (stateDir.isDirectory) {
          def walk(f: java.io.File): Unit =
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).foreach(walk)
            else {
              val v = f.getName.stripPrefix(".").takeWhile(_.isDigit)
              if (v.nonEmpty && v.toLong > bad) { f.delete(); () }
            }
          walk(stateDir)
        }
        drop
    }
  }

  /** Live tailer (S8, reference `wal/live_reader.go:70-180`): a
    * streaming view of everything the store persists, for replication /
    * downstream consumers. The file stream source picks up each new
    * block's files as they land — the Spark analogue of incrementally
    * reading WAL segments as the writer appends them. Like the
    * reference's live reader (which tails raw WAL segments ahead of any
    * checkpoint), this reads at the FILE level, before manifest
    * publication — a crashed writer's orphan files can be emitted; use
    * batch `readRange` for manifest-consistent reads. Requires at least
    * one written block (the schema is pinned from current data). */
  def tail(spark: SparkSession, store: BlockStore): DataFrame = {
    val schema = spark.read.parquet(store.dataDir).schema
    spark.readStream
      .schema(schema)
      .option("basePath", store.dataDir)
      .parquet(store.dataDir)
  }

  final case class RateState(
      lastT: Long, lastV: Double,
      bucket: Long, inc: Double, nDeltas: Long, nResets: Long,
      /** The last bucket a TTL flush already emitted as final (MinValue:
        * none). A series resuming with samples still in this bucket
        * folds them (the lastT/lastV chain stays intact) but its close
        * emits nothing — emitted rows stay final. */
      flushedBucket: Long = Long.MinValue)
  final case class BucketIncrease(
      series_key: String, t_bucket: Long,
      increase: Option[Double], n_deltas: Long, n_resets: Long)

  /** Streaming counter `increase` — the W1 rate-family consumer AS a
    * stream, not a rollup of one: per-series sequential state
    * (last sample + the open bucket's accumulators) in ONE
    * `flatMapGroupsWithState`; a bucket row is emitted the moment a
    * sample lands in a LATER bucket (the bucket "closes"), so emitted
    * rows are final — exactly a native streaming engine's bucket-close
    * semantics, and bit-compatible with the batch
    * [[graft.query.Rate.increase]] on the same samples (same
    * reset-replaces-delta rule, same cross-bucket first delta, same
    * 2dp rounding at emission; the one divergence is by construction:
    * the still-open last bucket of each series has not closed and is
    * not emitted until a later sample closes it — or, with
    * `flushTtlMs > 0`, until the series has been idle on the arrival
    * axis for that long, at which point the open bucket flushes as
    * final and the state shrinks to a high-water tombstone (the
    * flushed bucket id) kept for ONE more idle TTL — so a series that
    * resumes with samples still in the flushed bucket folds them into
    * the delta chain but never re-emits that bucket; only after a
    * second full idle TTL with nothing new does the state drop
    * entirely — the same event-time-timeout mechanics as
    * [[validated]]'s TTL, so an idle/decommissioned series cannot
    * strand its last bucket forever, and cannot double-publish it
    * either).
    *
    * State is O(#series) like [[validated]]; out-of-order samples
    * within a micro-batch are ordered by `t` before folding (the batch
    * iterator is unordered), across batches ordering is the ingest
    * contract ([[validated]] upstream rejects regressions). */
  def streamingIncrease(
      samples: Dataset[Sample],
      bucketMs: Long,
      flushTtlMs: Long = 0L): Dataset[BucketIncrease] = {
    import samples.sparkSession.implicits._
    def initial = RateState(Long.MinValue, Double.NaN, Long.MinValue, 0.0, 0L, 0L)
    // a bucket the TTL already published is never re-emitted, even if
    // the series resumed into it and went idle again
    def flush(key: String, st: RateState): Iterator[BucketIncrease] =
      if (st.bucket == Long.MinValue || st.bucket == st.flushedBucket) Iterator.empty
      else Iterator(BucketIncrease(key, st.bucket,
        if (st.nDeltas == 0L) None
        else Some(java.math.BigDecimal.valueOf(st.inc)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()),
        st.nDeltas, st.nResets))
    if (flushTtlMs <= 0L)
      samples
        .groupByKey(_.series_key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (key: String, it: Iterator[Sample], state: GroupState[RateState]) => {
            val (out, st1) = foldIncrease(
              key, it.toSeq.sortBy(s => (s.t, s.arrival)).map(s => (s.t, s.v)),
              state.getOption.getOrElse(initial), bucketMs)
            state.update(st1)
            out.iterator
          })
    else
      samples
        .withColumn("arrival_ts", timestamp_millis(col("arrival")))
        .withWatermark("arrival_ts", s"$flushTtlMs milliseconds")
        .as[SampleTs]
        .groupByKey(_.series_key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          (key: String, it: Iterator[SampleTs], state: GroupState[RateState]) =>
            if (state.hasTimedOut) {
              val st = state.get
              if (st.bucket == Long.MinValue) {
                // second idle TTL with nothing new since the flush: the
                // dedup tombstone has served its window — drop for real
                state.remove()
                Iterator.empty
              } else {
                // idle series: flush the open bucket as final, then keep
                // a high-water tombstone (not remove()) for one more TTL
                // so a series resuming with samples still in the flushed
                // bucket cannot re-emit it. Residual (documented): a
                // resume after BOTH TTLs whose event time still lands in
                // the flushed bucket would duplicate — bounded by the
                // ingest contract's per-series t monotonicity.
                val out = flush(key, st)
                state.update(st.copy(bucket = Long.MinValue, inc = 0.0,
                  nDeltas = 0L, nResets = 0L,
                  flushedBucket = math.max(st.bucket, st.flushedBucket)))
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + flushTtlMs)
                out
              }
            } else {
              val batch = it.map(_.sample).toSeq
              val (out, st1) = foldIncrease(
                key, batch.sortBy(s => (s.t, s.arrival)).map(s => (s.t, s.v)),
                state.getOption.getOrElse(initial), bucketMs)
              state.update(st1)
              val maxArr = batch.iterator.map(_.arrival).max
              state.setTimeoutTimestamp(
                math.max(maxArr + flushTtlMs, state.getCurrentWatermarkMs() + 1))
              out.iterator
            })
  }

  /** The pure per-series fold [[streamingIncrease]] runs per
    * micro-batch: closed-bucket rows out, carry-over state back.
    * Extracted so the batch-equivalence property (any split of a
    * series' ordered samples into batches folds to the same closed
    * buckets as [[graft.query.Rate.increase]]) is testable without an
    * engine in the loop (StreamingRateProperty). */
  private[streaming] def foldIncrease(
      key: String,
      ordered: Seq[(Long, Double)],
      st0: RateState,
      bucketMs: Long): (Seq[BucketIncrease], RateState) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[BucketIncrease]
    ordered.foreach { case (t, v) =>
      val b = graft.functions.rangeForTimestampMs(t, bucketMs)
      if (st.bucket != Long.MinValue && b != st.bucket) {
        // bucket closes: emit its final row — exact Spark round(_, 2)
        // semantics (BigDecimal HALF_UP); a delta-less bucket is None,
        // like the batch SUM of an empty increment set — so rows
        // compare bit-equal to Rate.increase. A bucket the TTL flush
        // already published closes SILENTLY (emitted rows are final;
        // its late deltas are dropped by that contract).
        if (st.bucket != st.flushedBucket)
          out += BucketIncrease(key, st.bucket,
            if (st.nDeltas == 0L) None
            else Some(java.math.BigDecimal.valueOf(st.inc)
              .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()),
            st.nDeltas, st.nResets)
        st = st.copy(bucket = b, inc = 0.0, nDeltas = 0L, nResets = 0L)
      } else if (st.bucket == Long.MinValue) {
        st = st.copy(bucket = b)
      }
      if (st.lastT != Long.MinValue) {
        val reset = v < st.lastV
        st = st.copy(
          inc = st.inc + (if (reset) v else v - st.lastV),
          nDeltas = st.nDeltas + 1,
          nResets = st.nResets + (if (reset) 1L else 0L))
      }
      st = st.copy(lastT = t, lastV = v)
    }
    (out.toSeq, st)
  }

  /** Windowed observability aggregation with a watermark — the
    * `rate()`-style rollup consumers build on the stream (ST3). */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      watermark: String = "1 hour",
      window_ : String = "6 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("series_key"))
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
}
