package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, map_contains_key, map_keys}

import graft.ingest.Appender
import graft.matchers.Matcher
import graft.storage.{BlockMeta, BlockStore, Compaction}
import graft.streaming.StreamingIngest

/** The top-level handle — the reference's `tsdb.Open`/`DB` surface
  * (`db.go:213-318`) as one object tying the pieces together, so a
  * reference user maps their call sites one-for-one:
  *
  * | reference (`db.go`)        | here                                  |
  * |----------------------------|---------------------------------------|
  * | `Open(dir, …)`             | `Db.open(spark, dir, opts)`           |
  * | `db.Appender()`            | [[appender]] (txn: add/commit/rollback) |
  * | `db.Querier(mint, maxt)`   | [[query]] (matcher select, one call)  |
  * | `LabelNames/LabelValues`   | [[labelNames]] / [[labelValues]]      |
  * | `LabelValuesFor(n, ms…)`   | [[labelValues]] with selectors        |
  * | `db.Delete(mint,maxt,ms…)` | [[delete]]                            |
  * | `db.Blocks()`              | [[blocks]]                            |
  * | `db.Snapshot(dir)`         | [[snapshot]]                          |
  * | `db.CleanTombstones()`     | [[cleanTombstones]]                   |
  * | background compactor tick  | [[maintain]] (one explicit pass)      |
  * | `db.Close()`               | nothing to close — state is on disk   |
  *
  * One deliberate divergence: the reference runs compaction on an
  * internal goroutine loop (`db.go:324-361`). A Spark deployment owns
  * its own scheduling (Airflow/cron/stream trigger), so background work
  * is an explicit idempotent [[maintain]] pass the scheduler calls —
  * same state machine, externally clocked. Streaming ingest is
  * [[graft.streaming.StreamingIngest.ingest]] against [[store]].
  */
final class Db private (
    val store: BlockStore,
    spark: SparkSession,
    compactionRanges: Seq[Long],
    retentionMs: Long,
    retentionBytes: Long) {

  /** Open an append transaction (`db.Appender()`, `db.go:89-112`).
    * The default lower bound is the store's head-init semantics
    * ([[BlockStore.minValidTime]], `db.go:514-519`): samples at
    * timestamps a live block already covers are rejected as
    * out-of-bounds. Pass an explicit bound (e.g. `Long.MinValue`) for
    * deliberate backfill writes into covered ranges. */
  def appender(minValidTime: Long = store.minValidTime): Appender.Txn =
    Appender.txn(store, minValidTime)

  /** Matcher select over a closed time range — the `Querier(mint,
    * maxt).Select(ms…)` round trip in one call; resolution runs in the
    * postings index, never on sample rows: on the driver, against the
    * store's resident per-block postings, while the manifest's series
    * total is within [[BlockStore.broadcastLimit]] (the scan gets a
    * literal key filter, no Spark job resolves it), and as a Spark
    * aggregate over the unioned dictionaries above it
    * ([[BlockStore.readRange]]). [[delete]] and by-ref appends resolve
    * through the same gate. */
  def query(mint: Long, maxt: Long, matchers: Matcher*): DataFrame =
    store.readRange(spark, mint, maxt, matchers: _*)

  /** [[query]] with each series' label map attached — the reference's
    * `Series.Labels()` (`querier.go:50-57`); the map comes from the
    * postings index (the resident index's local relation under the
    * gate, one Spark pivot above it), not from sample rows. */
  def query(mint: Long, maxt: Long, withLabels: Boolean, matchers: Matcher*): DataFrame =
    store.readRange(spark, mint, maxt, withLabels, matchers: _*)

  /** Point lookup of one series by its FULL label set over a closed
    * range — the dashboard-panel seek shape (`querier_test.go:
    * 1555-1644`): canonical key computed driver-side, literal-equality
    * scan, no index touch ([[BlockStore.seek]]). */
  def seek(labels: Map[String, String], mint: Long, maxt: Long): DataFrame =
    store.seek(spark, labels, mint, maxt)

  def labelNames(): DataFrame = store.labelNames(spark)
  def labelValues(name: String): DataFrame = store.labelValues(spark, name)

  /** Sorted distinct label names of the series any of `selectors`
    * matches with a sample in `[mint, maxt]` — the HTTP API's
    * `labels?match[]=…`. */
  def labelNames(selectors: Seq[Seq[Matcher]], mint: Long, maxt: Long): DataFrame =
    matching(selectors, mint, maxt)
      .select(explode(map_keys(col("labels"))).as("label_name"))
      .distinct().orderBy("label_name")

  /** Sorted distinct values of label `name` over the series any of
    * `selectors` matches with a sample in `[mint, maxt]` — the HTTP
    * API's `label/<name>/values?match[]=…`, and the reference's
    * `LabelValuesFor` (`querier.go:110-112`, declared but not
    * implemented there). Series without the label contribute nothing. */
  def labelValues(name: String, selectors: Seq[Seq[Matcher]], mint: Long, maxt: Long): DataFrame =
    matching(selectors, mint, maxt)
      .where(map_contains_key(col("labels"), lit(name)))
      .select(col("labels").getItem(name).as("label_value"))
      .distinct().orderBy("label_value")

  /** The labelled rows in `[mint, maxt]` of the series any of
    * `selectors` matches: the union of one [[query]] per selector over
    * one manifest state, the read behind the HTTP API's `match[]`. */
  def matching(selectors: Seq[Seq[Matcher]], mint: Long, maxt: Long): DataFrame = {
    val st = store.manifest
    selectors.map(store.readAt(spark, st, mint, maxt, withLabels = true, _)).reduce(_ unionByName _)
  }

  /** Record deletion intervals for matching series (`db.go:1203-1232`),
    * resolved through [[query]]'s gate: on the driver below it, with no
    * Spark job for an inline record ([[BlockStore.delete]]). */
  def delete(mint: Long, maxt: Long, matchers: Matcher*): Unit =
    store.delete(spark, mint, maxt, matchers: _*)

  /** Apply pending tombstones physically NOW, without waiting for the
    * compaction plan's >5% trigger — the reference's explicit
    * `db.CleanTombstones()` (`db.go:1234-1261`). Returns the rewritten
    * block ids. [[maintain]] subsumes this for scheduled maintenance. */
  def cleanTombstones(): Seq[Long] = store.cleanTombstones(spark)

  /** Live block metas, mint-ordered (`db.Blocks()`). */
  def blocks: Seq[BlockMeta] = store.manifest.blocks.sortBy(_.mint)

  /** One maintenance pass — what the reference's background loop does
    * per tick (`db.go:324-361`): compact to a fixpoint (overlap runs
    * first, then range ladder, then tombstone-heavy blocks), apply
    * retention, reclaim disk. Idempotent; returns the compactions run.
    * Callers clock it (per micro-batch, per cron tick). */
  def maintain(): Int = {
    var passes = 0
    var plan = store.planCompaction(compactionRanges)
    // fixpoint with a hard bound: each compaction strictly reduces the
    // block count, so #blocks passes is a terminating worst case
    var guard = store.manifest.blocks.size
    while (plan.nonEmpty && guard > 0) {
      store.compact(spark, plan)
      passes += 1
      guard -= 1
      plan = store.planCompaction(compactionRanges)
    }
    if (retentionMs > 0 || retentionBytes > 0)
      store.applyRetention(retentionMs, retentionBytes)
    store.vacuum()
    passes
  }

  /** The optional native-histogram channel: a samples frame
    * `(series_key, labels, t, h)` ([[graft.query.PromQl.HistType]]
    * structs — `NativeHistogram.observe`+pack or the streaming observe
    * produce one) that [[promql]] unions onto every read, activating
    * the PromQL corridor and the HTTP API's histogram envelope. This is
    * the serving seam until store-native histogram chunks land: the
    * float store's layout, pushdown and lifecycle stay untouched. */
  @volatile private var histChannel: Option[DataFrame] = None
  def registerHistograms(frame: DataFrame): Unit =
    histChannel = Some(frame.select("series_key", "labels", "t", "h"))

  /** Evaluate a PromQL range query over this store — the full language
    * front-end ([[graft.query.PromQl]]) on the label-carrying read
    * path: each selector resolves through [[query]]'s postings path and
    * the store read attaches each series' label map from the postings
    * index, all at one manifest state per request. `nameLabel` defaults
    * to `__name__`, the Prometheus convention. The frame is unordered;
    * [[graft.query.ResultJson.render]] orders what it serves. */
  def promql(
      query: String,
      startMs: Long,
      endMs: Long,
      stepMs: Long,
      lookbackMs: Long = 300000L,
      nameLabel: String = "__name__"): DataFrame = {
    // bound the scan to exactly what the expression can reach —
    // lookbacks/ranges/offsets behind the window AND any @-pinned
    // absolute instants — then block pruning and t pushdown apply like
    // any readRange; each SELECTOR fetches through the pushdown hook,
    // so its matchers resolve in the postings index (never on sample
    // rows) like every other read
    import org.apache.spark.sql.functions.{col, lit, map}
    val (mint, maxt) =
      graft.query.PromQl.scanBoundsMs(query, startMs, endMs, lookbackMs)
    val st = store.manifest
    // float rows gain a typed-null h / histogram rows a null v, so the
    // union is the canonical mixed frame the corridor reads
    def mixed(floats: DataFrame, hist: DataFrame): DataFrame =
      floats.select(col("series_key"), col("labels"), col("t"), col("v"))
        .withColumn("h", lit(null).cast(graft.query.PromQl.HistType))
        .unionByName(hist.select(col("series_key"), col("labels"), col("t"),
          lit(null).cast("double").as("v"), col("h")))
    def histIn(ms: Seq[Matcher]): Option[DataFrame] = histChannel.map(hf =>
      hf.where(col("t").between(mint, maxt) &&
        Matcher.conjunction(ms, k => col("labels").getItem(k))))
    // every selector reads through `pushdown`: the compiler takes only
    // the session and row schema of `samples`, which reads no store
    val shape = spark.emptyDataFrame.select(lit(null).cast("string").as("series_key"),
      map().cast("map<string,string>").as("labels"), lit(null).cast("long").as("t"),
      lit(null).cast("double").as("v"))
    val samples = histChannel.fold(shape)(mixed(shape, _))
    val params = graft.query.PromQl.Params(startMs, endMs, stepMs, lookbackMs,
      nameLabel = nameLabel,
      // the float half keeps its postings-index pushdown; the
      // histogram channel filters its (corridor-sized) frame on the
      // labels map with the same matcher set
      pushdown = Some { ms =>
        val floats = store.readAt(spark, st, mint, maxt, withLabels = true, ms)
        histIn(ms) match {
          case None => floats
          case Some(hf) => mixed(floats, hf)
        }
      },
      // the compiler's per-series dims broadcast exactly when the
      // store's postings are driver-resident: the same gate every
      // labelled store read uses
      broadcastDims = store.resident(st))
    if (histChannel.nonEmpty) graft.query.PromQl.evalMixed(query, samples, params)
    else graft.query.PromQl.eval(query, samples, params)
  }

  /** Consistent snapshot into `destRoot` (`db.go:1108-1146`). */
  def snapshot(destRoot: String): Unit = store.snapshot(destRoot)

  /** Structured-Streaming ingest into this store (the Head+WAL path). */
  def ingest(
      samples: org.apache.spark.sql.Dataset[StreamingIngest.Sample],
      checkpointDir: String,
      minValidTime: Long): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingIngest.ingest(samples, store, checkpointDir, minValidTime)
}

object Db {
  /** Options mirror `tsdb.Options` (`db.go:64-82`): block range =
    * `MinBlockDuration`, ranges = the exponential ladder, retention =
    * `RetentionDuration`/`MaxBytes`. */
  final case class Options(
      blockRangeMs: Long = 2 * 3600 * 1000L,
      compactionSteps: Int = 3,
      retentionMs: Long = 0L,
      retentionBytes: Long = 0L,
      seriesBuckets: Int = 8)

  def open(spark: SparkSession, root: String, opts: Options = Options()): Db = {
    // An EXISTING store's block range is physical layout, not an opener
    // preference: t_bucket partition values are multiples of the
    // creation-time range, and pruning with any other value silently
    // drops rows. The range recorded at first write wins (the reference
    // likewise reads block ranges back from meta.json, not Options);
    // opts.blockRangeMs applies to stores that don't have one yet.
    val rangeMs = BlockStore.recordedRange(root).getOrElse(opts.blockRangeMs)
    new Db(
      new BlockStore(root, rangeMs, opts.seriesBuckets),
      spark,
      Compaction.exponentialRanges(rangeMs, opts.compactionSteps),
      opts.retentionMs,
      opts.retentionBytes)
  }
}
