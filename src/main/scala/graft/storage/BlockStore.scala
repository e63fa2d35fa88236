package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.functions.rangeForTimestamp
import graft.matchers.Matcher

/** Physical block storage with a versioned manifest — the Spark-native
  * reading of the reference's block lifecycle:
  *
  *  - a *block* is one immutable write: `data/block_id=<n>/t_bucket=<b>/`
  *    parquet, sorted by (series_key, t). Parquet row groups play the
  *    chunk role (min/max skip-scan); `t_bucket` partition dirs give
  *    time pruning; the `block_id` dir is the unit of publication and
  *    deletion (reference block dirs, `block.go:266-289`);
  *  - the [[Manifest]] is the atomically-swapped block list + tombstone
  *    set (reference `db.reload` block-list swap `db.go:775-779` +
  *    `tombstones` files). Readers see only manifest-listed blocks, so a
  *    half-written block dir is invisible until published — the tmp +
  *    rename discipline of `compact.go:634-639` at list granularity;
  *  - every block has a dictionary under `dict/block_id=<n>/` — the
  *    postings index of the reference (`index/index.go:113-147`): one
  *    parquet row `(series_key, s_mint, s_maxt, label_name,
  *    label_value)` per label pair of each series the block holds, with
  *    `[s_mint, s_maxt]` the series' exact sample bounds in the block.
  *    It is derived from the block's own rows: empty-valued labels are
  *    stripped (the reference's append-time invariant,
  *    `head.go:832-833`), and a compaction lists only the series with
  *    surviving samples (`compact.go:729-872`). Series registered
  *    without samples ([[registerSeries]]) keep the same format, with
  *    null bounds, under `dict/head/`. One writer
  *    ([[BlockStore.writeDict]]) and one reader ([[BlockStore.readDict]])
  *    own the format. Selectors, label maps, label metadata, deletes
  *    and by-ref appends resolve against it, never against sample
  *    rows, by one resolver on each side of a gate taken in one place
  *    ([[residentIndex]]): while the manifest's series total is at most
  *    [[broadcastLimit]], a driver-resident [[SeriesIndex]] that loads
  *    each block's dictionary once per JVM (no Spark job on a warm
  *    cache); above it, Spark jobs over the unioned dictionaries
  *    ([[postingsIndex]], [[graft.query.Postings.seriesFor]]). Both
  *    apply one matcher rule, the label-less `"{}"` included.
  *
  * One manifest state per call: each public entry loads [[manifest]]
  * once (a writer under the lock) and passes it to every helper, so a
  * read takes blocks, tombstones, matched keys and label maps from one
  * version and one [[residentIndex]] refresh (the reference's querier
  * over one block set, `db.go:1150-1196`); [[graft.Db]] gives all reads
  * of a request one state ([[readAt]]). States are not leased: [[vacuum]]
  * may delete an older state's blocks while a frame still reads them.
  *
  * Scale notes: the manifest is O(#blocks) driver-side metadata (the
  * reference holds the same list in memory); retention and compaction
  * planning read ONLY the manifest, never the data. Reads prune on the
  * (block_id, t_bucket) partition columns. Overlap handling is decided
  * per query from manifest intervals — the reference's automatic
  * vertical-querier selection (`db.go:1185-1195`) — so the dedup window
  * (one shuffle on series_key) is paid only when overlap exists.
  */
final class BlockStore(
    val root: String,
    val blockRangeMs: Long,
    /** Series bucket count W: block data is a Spark bucketed table
      * `CLUSTERED BY (series_key) INTO W BUCKETS`, so one series always
      * lands in the same bucket file of every block — the reference's
      * series-major block layout (`compact.go:645-873` writes sorted
      * series runs once) as Spark-native bucketing. The bucketed scan
      * merges bucket i of EVERY block into one partition and reports
      * `HashPartitioning(series_key, W)`, so vertical dedup-merge, ooo
      * validation and per-series windows consume the scan with NO
      * exchange. W also bounds writer parallelism and files per
      * t_bucket; size it so blockBytes/W fits one task (thousands on a
      * real cluster). Fixed at table creation: reopening an existing
      * store with a different value keeps the table's original W. */
    val seriesBuckets: Int = 8,
    /** A delete matching more series than this spills its intervals to
      * a parquet side table instead of inlining T records — a 10⁶-series
      * delete must not become a multi-GB manifest parsed on every load
      * (the reference's in-memory tombstone list is single-node by
      * design; this is the distributed replacement). */
    val tombstoneSpillThreshold: Int = 10000,
    /** The most series the driver holds: under this manifest-derived
      * worst case (every series matched) the postings index is resident
      * on the driver ([[SeriesIndex]]) — selectors, label maps, deletes
      * and by-ref appends resolve there — and matched-series /
      * tombstone sets are broadcast; past it all of them resolve as
      * Spark jobs, the hints are dropped and AQE picks the join
      * strategy from actual runtime sizes — a matcher like `Re(".*")`
      * over 10⁸ series must never force a driver-side build (the
      * reference streams postings lazily, `index/postings.go:297-368`,
      * and never materializes them). */
    val broadcastLimit: Long = 2000000L) {
  def dataDir = s"$root/data"
  private[storage] def dictDir = s"$root/dict"
  private[storage] def tombsDir = s"$root/tombs"
  /** Label pairs of series registered without samples (rolled-back
    * appends, [[registerSeries]]) — the head's series map entries that
    * survive an `Appender.Rollback` (`db.go:100-112`). */
  private[storage] def headDictDir = s"$dictDir/head"
  /** [[headDictDir]] when some series are registered there. */
  private def headDict = Some(headDictDir).filter(d => Files.isDirectory(Paths.get(d)))
  private def blockPath(id: Long) = s"$dataDir/block_id=$id"
  private def dictPath(id: Long) = s"$dictDir/block_id=$id"
  private def tombPath(id: Long) = s"$tombsDir/ts_id=$id"

  /** Current published state (block list + tombstones). */
  def manifest: ManifestState = Manifest.load(root)

  /** Record the store's block range on first write (meta/BLOCK_RANGE)
    * and refuse a writer opened with a DIFFERENT range: `t_bucket`
    * partition values are multiples of the creation-time range, so a
    * mismatched range mis-prunes reads (silently dropping rows) and
    * writes misaligned buckets. Read-only tools use
    * [[BlockStore.recordedRange]] to open any store correctly without
    * knowing its configuration. */
  private def persistRange(): Unit = {
    BlockStore.recordedRange(root) match {
      case Some(r) => require(r == blockRangeMs,
        s"store at $root was created with blockRangeMs=$r, opened with $blockRangeMs")
      case None =>
        Files.createDirectories(Paths.get(root, "meta"))
        Files.writeString(Paths.get(root, "meta", "BLOCK_RANGE"), blockRangeMs.toString)
        ()
    }
  }

  /** The head's lower append bound for this store — the reference
    * initializes a reopened head with the mint-ordered last block's
    * (exclusive) maxt, so a sample at a timestamp the block layer
    * already covers is rejected as out-of-bounds rather than silently
    * shadowed (`db.go:514-519`; `TestInitializeHeadTimestamp`
    * db_test.go:1438 "with blocks: set to the last block maxT";
    * `TestBlockRanges` db_test.go:2185-2193 "appending a sample with a
    * timestamp covered by a previous block shouldn't be possible").
    * `Long.MinValue` on an empty store: no bound until data exists, the
    * first appended sample initializes the writable range. */
  def minValidTime: Long = {
    val bs = manifest.blocks
    if (bs.isEmpty) Long.MinValue
    else bs.maxBy(b => (b.mint, b.blockId)).maxt
  }

  /** Catalog name of this store's bucketed data table: stable per
    * store path, safe to register in any session. */
  private[storage] val tableName: String = {
    val abs = Paths.get(root).toAbsolutePath.normalize.toString
    val md = java.security.MessageDigest.getInstance("MD5").digest(abs.getBytes("UTF-8"))
    "graft_store_" + md.take(8).map("%02x".format(_)).mkString
  }

  /** The store's data as a bucketed catalog table (registered on first
    * use per session; partitions recovered from disk so a fresh session
    * sees previously-written blocks). The bucketed scan is what deletes
    * the exchange before every per-series operator — Spark's honest
    * equivalent of the reference's series-major blocks.
    *
    * Cross-process visibility: the manifest's file lock explicitly
    * allows a second driver to publish blocks into the same store, but
    * a partition registered in *that* driver's catalog does not exist in
    * this one. So every access compares the on-disk manifest version
    * against the last version this JVM synced its catalog at; when it
    * advanced through someone else's publish, the partition list is
    * re-recovered and the cached relation refreshed before reading —
    * the reference's `db.reload` picking up externally-created block
    * dirs (`db.go:712-779`). Our own mutations mark the new version
    * synced at publish time, so the steady single-driver path never
    * pays a directory re-listing. */
  private[storage] def storeTable(spark: SparkSession): DataFrame = {
    // A store dir wiped OUT-OF-BAND (rm -rf instead of destroy(), e.g. a
    // bench scratch path reused across passes, or a tmp-cleaner sweep
    // that took data but left the catalog entry) leaves a registered
    // table whose LOCATION no longer exists — RECOVER PARTITIONS then
    // throws FileNotFound and every read looks like a store bug. Treat
    // missing dataDir as "destroyed behind our back": drop the stale
    // catalog entry (and its registered partitions) and re-register from
    // the current on-disk state.
    if (spark.catalog.tableExists(tableName) &&
        !Files.isDirectory(Paths.get(dataDir))) Manifest.withLock(root) {
      if (!Files.isDirectory(Paths.get(dataDir))) {
        spark.sql(s"DROP TABLE IF EXISTS $tableName")
        BlockStore.syncedVersions.remove(tableName)
      }
    }
    if (!spark.catalog.tableExists(tableName)) Manifest.withLock(root) {
      if (!spark.catalog.tableExists(tableName)) {
        Files.createDirectories(Paths.get(dataDir))
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $tableName (
             |  sample_id BIGINT, series_key STRING, t BIGINT, v DOUBLE,
             |  block_id BIGINT, t_bucket BIGINT)
             |USING PARQUET
             |OPTIONS (${BlockStore.parquetOptionsSql})
             |PARTITIONED BY (block_id, t_bucket)
             |CLUSTERED BY (series_key) SORTED BY (series_key, t)
             |INTO $seriesBuckets BUCKETS
             |LOCATION '$dataDir'""".stripMargin)
      }
    }
    val v = Manifest.currentVersion(root)
    if (BlockStore.syncedVersions.getOrDefault(tableName, -1L) != v) {
      spark.sql(s"ALTER TABLE $tableName RECOVER PARTITIONS")
      spark.catalog.refreshTable(tableName)
      BlockStore.syncedVersions.put(tableName, v)
    }
    spark.table(tableName)
  }

  /** Record that this JVM's catalog is in sync with the manifest as of
    * its current version — called after our own publishes (insertInto
    * registered the new partitions itself). */
  private def markSynced(): Unit =
    BlockStore.syncedVersions.put(tableName, Manifest.currentVersion(root))

  private def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Append one immutable block; returns its id, or None when `samples`
    * holds no row (nothing is published — the reference never writes
    * an empty block). Runs as the store's exclusive writer (≙ the
    * reference's `db.mtx`-serialized appends): two concurrent writers
    * can never claim the same block id/dir.
    *
    * Two writes, one for an empty input: [[insertBlock]] writes the
    * samples, then the dictionary is written from the SAME
    * materialization (the input is cached for the pair), so a
    * non-deterministic source can never persist an index disagreeing
    * with the written samples. Per-series bounds and the series count
    * ride that job's per-series aggregate. The input of one block is
    * one head-window of data (≪ total corpus), so caching it is
    * bounded. Input columns: `(sample_id, series_key, t, v)` and,
    * optionally, a `labels` map (a label-less input indexes its series
    * without label pairs). */
  def write(samples: DataFrame): Option[Long] = {
    val cached = samples.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels =
      if (cached.columns.contains("labels")) graft.functions.canonicalLabelEntries(col("labels"))
      else lit(null).cast(BlockStore.LabelEntries)
    try Manifest.withLock(root) {
      val st = manifest
      appendBlock(st, cached) { _ =>
        // labels ride as a GROUPING KEY (sorted entry array — constant
        // per series_key), not a first(map) buffer: the map buffer demoted
        // this sample-grain aggregate to a partial SortAggregate (r12)
        cached.groupBy(col("series_key"), labels.as("labels"))
          .agg(min(col("t").cast("long")).as("s_mint"), max(col("t").cast("long")).as("s_maxt"))
      }.map(_ => st.nextBlockId)
    } finally cached.unpersist()
  }

  /** Publish `rows` as the next block of `st`, the state its caller
    * loaded under the store's lock, its dictionary written from
    * `series(id)` (per-series rows, [[BlockStore.writeDict]]'s input);
    * the published state, or None, publishing nothing, when `rows` is
    * empty. */
  private def appendBlock(st: ManifestState, rows: DataFrame)(
      series: Long => DataFrame): Option[ManifestState] = {
    persistRange()
    val id = st.nextBlockId
    storeTable(rows.sparkSession)
    insertBlock(id, rows).map { case (mint, maxt, n) =>
      val numSeries = BlockStore.writeDict(series(id), dictPath(id), SaveMode.Overwrite)
      val next = st.copy(blocks = st.blocks :+
        BlockMeta(id, mint, maxt, n, numSeries, numTombstones = 0L, bytes = du(blockPath(id))))
      Manifest.publish(root, next)
      markSynced()
      next
    }
  }

  /** Insert `rows` into the bucketed table as block `id`: one shuffle
    * keyed on (t_bucket, spark-bucket-id) so every executor writes and
    * each t_bucket dir gets ≤ W bucket files; the writer applies the
    * table's `SORTED BY (series_key, t)` inside each file, which is
    * what keeps parquet row-group stats tight. Returns the block's
    * half-open `[mint, maxt)` and sample count, observed by the write
    * itself (no post-hoc re-scan); None when no row was written. */
  private def insertBlock(id: Long, rows: DataFrame): Option[(Long, Long, Long)] = {
    // a writer that crashed after claiming this id may have left
    // debris; the dir is unpublished by definition (the caller holds
    // the lock), so clear it wholesale before inserting
    scala.reflect.io.Directory(new java.io.File(blockPath(id))).deleteRecursively()
    // Normalized storage, like the reference's series dictionary
    // (`index/index.go:113-137`): the per-row labels map is redundant —
    // label pairs live once per series in the block's postings index,
    // sample rows carry only the series key (dictionary-encoded by
    // parquet) + (t, v). Cuts block bytes ~2-3× and every downstream
    // shuffle of read samples.
    val obs = Observation(s"graft-block-$id")
    rows
      .select(
        col("sample_id").cast("long"), col("series_key"),
        col("t").cast("long"), col("v").cast("double"))
      .withColumn("block_id", lit(id))
      .withColumn("t_bucket", rangeForTimestamp(col("t"), blockRangeMs))
      .observe(obs,
        min(col("t")).as("mint"), max(col("t")).as("maxt"),
        count(lit(1)).as("n"))
      // pmod(hash, W) IS Spark's bucket-id expression, so each task
      // holds whole buckets and writes one file per (t_bucket, bucket)
      .repartition(col("t_bucket"),
        pmod(hash(col("series_key")), lit(seriesBuckets)))
      .write.mode(SaveMode.Append)
      // no _SUCCESS markers at the table root: readers trust only the
      // manifest, and stray marker files would pollute partition
      // discovery and survive vacuum
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .insertInto(tableName)
    val stats = obs.get
    // a zero-row write may run zero tasks, leaving the observation unfired
    stats.get("n").map(_.asInstanceOf[Long]).filter(_ > 0L).map(n =>
      (stats("mint").asInstanceOf[Long], stats("maxt").asInstanceOf[Long] + 1, n)) // half-open (db.go:634-641)
  }

  /** Per-series rows of block `id` as written — `(series_key, s_mint,
    * s_maxt)` from one column-pruned scan of its `(series_key, t)`,
    * grouped on the bucketed scan — with each series' label entries
    * taken from the dictionaries under `labelDirs` (the blocks it was
    * made from). A series with no surviving sample is not listed. One
    * aggregate over both inputs is the left join at series grain: a
    * broadcast join's driver-side hash relation outlived a forced GC
    * right after the compaction (ingest_compact, 3 GB heap, 4 cores:
    * 89 MB used with it, 73 MB without), and a sort-merge join made
    * the compaction slower. */
  private def writtenSeries(spark: SparkSession, id: Long, labelDirs: Seq[String]): DataFrame =
    readBlocks(spark, Seq(id))
      .groupBy("series_key").agg(min("t").as("s_mint"), max("t").as("s_maxt"))
      .withColumn("e", lit(null).cast(BlockStore.LabelEntries.elementType))
      .unionByName(BlockStore.readDict(spark, labelDirs).select(col("series_key"),
        lit(null).cast("long").as("s_mint"), lit(null).cast("long").as("s_maxt"),
        struct(col("label_name").as("key"), col("label_value").as("value")).as("e")))
      .groupBy("series_key")
      .agg(min("s_mint").as("s_mint"), max("s_maxt").as("s_maxt"), collect_set("e").as("labels"))
      .where(col("s_mint").isNotNull)

  private def readBlocks(spark: SparkSession, ids: Seq[Long]): DataFrame =
    storeTable(spark).where(col("block_id").isin(ids: _*))

  /** All live samples, raw (no dedup/tombstone application). */
  def read(spark: SparkSession): DataFrame = {
    val ids = manifest.blocks.map(_.blockId)
    require(ids.nonEmpty, s"block store at $root has no published blocks")
    readBlocks(spark, ids)
  }

  /** Tombstones of `st` as a DataFrame: inline T-record intervals plus
    * any spilled side tables (wide deletes). */
  private[storage] def tombstoneTable(spark: SparkSession, st: ManifestState): DataFrame = {
    import spark.implicits._
    val inline = st.tombstones
      .map(t => (t.seriesKey, t.mint, t.maxt))
      .toDF("series_key", "mint", "maxt")
    st.tombstoneFiles.foldLeft(inline) { (acc, f) =>
      acc.unionByName(
        spark.read.parquet(tombPath(f.fileId)).select("series_key", "mint", "maxt"))
    }
  }

  /** `rows` without the samples `st`'s tombstones cover, the tombstone
    * side broadcast while its interval count (inline and spilled) is
    * within [[broadcastLimit]]. */
  private def withoutTombstones(spark: SparkSession, st: ManifestState, rows: DataFrame): DataFrame = {
    val n = st.tombstones.size.toLong + st.tombstoneFiles.map(_.count).sum
    if (n == 0L) rows
    else Tombstones.applyTo(rows, tombstoneTable(spark, st), broadcastTombstones = n <= broadcastLimit)
  }

  /** The read path (reference `db.Querier`, `db.go:1150-1196`): select
    * manifest blocks overlapping the closed `[mint, maxt]`, and apply
    * vertical dedup-merge iff those blocks overlap *each other* — the
    * automatic `verticalQuerier` switch (`db.go:1185-1195`) that makes
    * re-ingested/backfilled data read correctly with later-block-wins
    * semantics. Tombstoned intervals are filtered via broadcast range
    * anti-join when any exist. */
  def readRange(spark: SparkSession, mint: Long, maxt: Long, matchers: Matcher*): DataFrame =
    readAt(spark, manifest, mint, maxt, withLabels = false, matchers)

  /** Both [[readRange]] forms over `st`, a state the caller loaded once:
    * blocks, tombstones, matched keys and label maps all come from `st`
    * and from one refresh of its resident index. */
  private[graft] def readAt(spark: SparkSession, st: ManifestState, mint: Long, maxt: Long,
      withLabels: Boolean, matchers: Seq[Matcher]): DataFrame = {
    lazy val ix = residentIndex(spark, st)
    // matcher selection resolves ENTIRELY in the postings index — the
    // reference's Select never evaluates matchers on sample data
    // (`querier.go:326-396`). Under the gate the keys resolve on the
    // driver and reach the scan as a literal `In` (a broadcast
    // semi-join against a local relation past the literal bound);
    // above it they resolve as a Spark aggregate and the fact side
    // gets one semi-join, hinted broadcast only when the blocks in
    // range bound the matched set safely (a broad matcher over 10⁸
    // series must not OOM the driver), otherwise AQE picks the
    // strategy from runtime sizes
    val rows = readSelected(spark, st, mint, maxt) { (raw0, live) =>
      if (matchers.isEmpty) raw0
      else ix match {
        case Some(resident) =>
          val keys = resident.resolve(matchers)
          if (keys.size <= BlockStore.literalLimit)
            raw0.where(col("series_key").isin(keys: _*))
          else {
            import spark.implicits._
            raw0.join(broadcast(keys.toDF("series_key")), Seq("series_key"), "left_semi")
          }
        case None =>
          val keys = graft.query.Postings.seriesFor(postingsIndex(spark, st), matchers)
          val totalSeries = live.map(_.numSeries).sum // upper bound on |keys|
          val hinted = if (totalSeries <= broadcastLimit) broadcast(keys) else keys
          raw0.join(hinted, Seq("series_key"), "left_semi")
      }
    }
    if (!withLabels) rows
    else rows.join(seriesLabels(spark, st, ix), Seq("series_key"), "left")
      .withColumn("labels",
        org.apache.spark.sql.functions.coalesce(col("labels"), map().cast("map<string,string>")))
  }

  /** Point lookup — the reference's seek shape
    * (`querier_test.go:1555-1644`, the narrow-range single-series read
    * every dashboard panel issues). The series is identified by its
    * FULL label set, so the canonical key is computed driver-side
    * ([[graft.model.Labels.canonical]]) and the scan carries a literal
    * `series_key` equality: no index touch, no join — the manifest +
    * t_bucket bounds prune partitions outside the range, and the pushed
    * key filter over the `SORTED BY (series_key, t)` layout skips every
    * non-matching bucket file at row-group-stats grain (a footer-only
    * touch; Spark's planner additionally prunes whole buckets when it
    * retains the bucketed scan). The 100 TB cost is O(blocks-in-range)
    * file reads of one series' row groups — the latency floor of the
    * layout (plan-asserted in BlockStoreSpec, measured as the `ts_seek`
    * bench row). */
  def seek(spark: SparkSession, labels: Map[String, String], mint: Long, maxt: Long): DataFrame = {
    val key = graft.model.Labels.fromMap(labels).canonical
    readSelected(spark, manifest, mint, maxt)((raw0, _) => raw0.where(col("series_key") === lit(key)))
  }

  /** Shared read-path scaffolding over `st`: block pruning, t_bucket
    * bounds, sample-grain time clamp, then `select` (the series
    * restriction, given the blocks in range), then overlap dedup +
    * tombstones. */
  private def readSelected(spark: SparkSession, st: ManifestState, mint: Long, maxt: Long)(
      select: (DataFrame, Seq[BlockMeta]) => DataFrame): DataFrame = {
    val live = st.blocks.filter(_.overlaps(mint, maxt))
    // no overlapping block — including a store with no published blocks
    // at all (e.g. only rolled-back txns): an empty result, not an
    // error, matching a fresh reference DB's Querier (`db.go:1150-1196`)
    if (live.isEmpty)
      return storeTable(spark).where(lit(false)).drop("block_id", "t_bucket")
    // t_bucket bounds derived from the query range: partition pruning at
    // the chunk grain (P9, reference `populatedChunkSeries` chunk drops)
    // on top of the row-group stats the t filter gives (P10)
    def bucketOf(ms: Long): Option[Long] = {
      val b = math.floorDiv(ms, blockRangeMs) * blockRangeMs
      if (b > Long.MaxValue - blockRangeMs) None else Some(b + blockRangeMs)
    }
    val raw0 = readBlocks(spark, live.map(_.blockId))
      .where((bucketOf(mint), bucketOf(maxt)) match {
        case (Some(lo), Some(hi)) => col("t_bucket").between(lo, hi)
        case (Some(lo), None) => col("t_bucket") >= lo
        case _ => lit(true)
      })
      .where(col("t") >= lit(mint) && col("t") <= lit(maxt))
    val raw = select(raw0, live)
    val vertical = Compaction.overlappingGroups(live).nonEmpty
    val merged =
      if (vertical) Merge.dedupLatest(raw, blockRecency(live), col("sample_id"))
      else raw
    withoutTombstones(spark, st, merged).drop("block_id", "t_bucket")
  }

  /** [[readRange]] with each series' label map re-attached — the
    * reference's `Series.Labels()` (`querier.go:50-57`): storage is
    * normalized (sample rows carry only the series key; label pairs
    * live once per series in the postings index), so consumers doing
    * per-label grouping downstream (the PromQL `by (label)` shape) get
    * the map back from [[seriesLabels]] joined to the read once. The
    * label-less series `"{}"` owns no index rows and surfaces an empty
    * map, the reference's `labels.Labels{}`. */
  def readRange(spark: SparkSession, mint: Long, maxt: Long, withLabels: Boolean,
      matchers: Matcher*): DataFrame = readAt(spark, manifest, mint, maxt, withLabels, matchers)

  /** [[seriesLabels]] of the current state: the label maps a by-ref
    * append ([[graft.ingest.Appender.Txn.addRef]]) joins. */
  private[graft] def seriesLabels(spark: SparkSession): DataFrame = {
    val st = manifest
    seriesLabels(spark, st, residentIndex(spark, st))
  }

  /** `(series_key, labels)` of every series indexed at `st`, `ix` its
    * [[residentIndex]]: the one relation that a labelled read
    * ([[readAt]]) and a by-ref append join. Under the gate it is the
    * [[SeriesIndex]]'s local relation, broadcast (built once per index,
    * reused by every query); above it, one pivot of the index —
    * `map_from_entries` over a per-series collect — left to AQE. */
  private def seriesLabels(spark: SparkSession, st: ManifestState, ix: Option[SeriesIndex]): DataFrame =
    ix.map(resident => broadcast(resident.labelsFrame(spark)))
      .getOrElse(postingsIndex(spark, st).groupBy("series_key").agg(map_from_entries(
        collect_list(struct(col("label_name"), col("label_value")))).as("labels")))

  /** The gate between the two resolution paths: the manifest's series
    * total (an upper bound on live series, one count per block) within
    * [[broadcastLimit]] — the size the Spark path already builds on the
    * driver, as a broadcast, for every labelled read. */
  private[graft] def resident(st: ManifestState): Boolean =
    st.blocks.map(_.numSeries).sum <= broadcastLimit

  /** The gate, taken here for every postings consumer — reads, label
    * maps, label metadata, [[delete]] and by-ref appends. While
    * [[resident]], this store's driver-resident [[SeriesIndex]] as of
    * `st`, shared by every `BlockStore` on the same root in this JVM:
    * reused while its dictionaries' part files are unchanged, refreshed
    * (reading only the new dictionaries, dropping the retired ones)
    * otherwise. None above it, where the consumer runs its Spark path. */
  private[storage] def residentIndex(spark: SparkSession, st: ManifestState): Option[SeriesIndex] =
    if (!resident(st)) None
    else {
      val blockDirs = indexedBlocks(st).map(id => id -> dictPath(id))
      BlockStore.seriesIndexes.synchronized {
        val ix = SeriesIndex.refresh(spark, BlockStore.seriesIndexes.get(tableName), blockDirs, headDict)
        BlockStore.seriesIndexes(tableName) = ix
        Some(ix)
      }
    }

  /** Register series WITHOUT samples — the persistence behind a
    * rolled-back append transaction ([[graft.ingest.Appender.txn]]):
    * the reference's `Rollback` drops the txn's samples but keeps the
    * series it created in the head's series map (`db.go:100-112` — the
    * WAL even logs their series records so a replay recreates them), so
    * label names/values and matcher resolution see the new series while
    * no sample exists yet. Input needs `(series_key, labels)`; entries
    * become redundant (and are absorbed by the index distinct) once a
    * real block first persists the series. */
  def registerSeries(labelled: DataFrame): Unit = Manifest.withLock(root) {
    BlockStore.writeDict(
      labelled.dropDuplicates("series_key").select(col("series_key"),
        map_entries(col("labels")).as("labels"),
        lit(null).cast("long").as("s_mint"), lit(null).cast("long").as("s_maxt")),
      headDictDir, SaveMode.Append)
    ()
  }

  /** Head truncation's series GC (reference `Head.gc`,
    * `head.go:1036-1097`): a series that was registered without samples
    * ([[registerSeries]]) disappears from label metadata once the head
    * truncates — it has no chunks anywhere, so the reference drops its
    * `memSeries` entry. Series that later gained a real block keep
    * answering from that block's own index, so clearing the whole head
    * dictionary is exactly the reference's post-truncation state. */
  def truncateHead(): Unit = Manifest.withLock(root) {
    scala.reflect.io.Directory(new java.io.File(headDictDir)).deleteRecursively()
    ()
  }

  /** Union of the live blocks' persisted inverted indexes (S12,
    * reference `index/index.go:140-147`): one `(label_name, label_value,
    * series_key)` row per label pair per series — the postings table
    * [[graft.query.Postings.seriesFor]] resolves selectors over above
    * the [[broadcastLimit]] gate.
    * Sample-less registered series ([[registerSeries]]) ride along like
    * the reference's head series map entries. */
  def postingsIndex(spark: SparkSession): DataFrame = postingsIndex(spark, manifest)

  /** [[postingsIndex]] of the blocks `st` lists. */
  private def postingsIndex(spark: SparkSession, st: ManifestState): DataFrame =
    BlockStore.readDict(spark, indexedBlocks(st).map(dictPath) ++ headDict)
      .select("label_name", "label_value", "series_key").distinct()

  /** The live block ids whose dictionaries make up the postings index,
    * refusing a state the index cannot answer for. A store whose only
    * activity is a rolled-back txn has series but no blocks: the index
    * is the head dictionary alone — the reference's fresh DB after
    * Rollback still answers LabelNames / matcher resolution from its
    * head series map (`db.go:100-112`). A store EMPTIED by delete +
    * tombstone clean (manifest published, zero live blocks) answers with
    * the empty label set, like the reference's head after a full-range
    * delete drops the series' labels and symbols (head_test.go:393-396)
    * — only a store with no manifest at all (wrong path / never written)
    * fails loudly. So does a live block whose dictionary is missing:
    * label/matcher queries are refused rather than answered from a
    * partial index. */
  private def indexedBlocks(st: ManifestState): Seq[Long] = {
    val ids = st.blocks.map(_.blockId)
    if (ids.isEmpty && headDict.isEmpty)
      require(Manifest.currentVersion(root) > 0L,
        s"block store at $root has no published blocks")
    val missing = ids.filterNot(id => Files.isDirectory(Paths.get(dictPath(id))))
    require(missing.isEmpty,
      s"store at $root has no label dictionary for blocks ${missing.mkString(",")}")
    ids
  }

  /** One block's postings dictionary, raw (the format of the class
    * doc). The `tsdb analyze` CLI's input (reference reads the same
    * per-block index, `cmd/tsdb/main.go:464-616`). */
  def blockIndex(spark: SparkSession, blockId: Long): DataFrame = {
    require(manifest.blocks.exists(_.blockId == blockId),
      s"block $blockId is not live in the store at $root")
    BlockStore.readDict(spark, Seq(dictPath(blockId)))
  }

  /** A1 over the store: distinct label names from the index alone
    * (reference `querier.go:70-89` reads only index sections) — under
    * the gate a local relation from the [[SeriesIndex]], whose
    * `collect()` starts no Spark job. */
  def labelNames(spark: SparkSession): DataFrame =
    labelColumn(spark, manifest, "label_name")(_.labelNames, identity)

  /** A2 over the store: sorted distinct values of one label, index-only
    * (reference `querier.go:91-108`), gated like [[labelNames]]. */
  def labelValues(spark: SparkSession, name: String): DataFrame =
    labelColumn(spark, manifest, "label_value")(_.labelValues(name), _.where(col("label_name") === name))

  /** The sorted distinct `column` of `st`'s postings: under the gate
    * `resident`'s answer as a one-column local relation (`isLocal`:
    * `collect()` runs no job), above it `rows` of the Spark index. */
  private def labelColumn(spark: SparkSession, st: ManifestState, column: String)(
      resident: SeriesIndex => Seq[String], rows: DataFrame => DataFrame): DataFrame =
    residentIndex(spark, st).map(ix => spark.createDataFrame(
      java.util.Arrays.asList(resident(ix).map(Row(_)): _*),
      StructType(Seq(StructField(column, StringType)))))
      .getOrElse(rows(postingsIndex(spark, st)).select(col(column)).distinct().orderBy(column))

  /** Record deletion intervals for every series matching the conjunction
    * over `[mint, maxt]` (reference `DB.Delete`, `db.go:1203-1232`):
    * series resolve in the postings index alone — no sample data is
    * read; under the gate on the resident index with no Spark job for
    * an inline record, above it as Spark jobs — then the intervals
    * (coalesced per series) publish in the next manifest version.
    * Per-block tombstone counters feed the compaction planner's >5%
    * trigger (`compact.go:211-220`).
    *
    * A matches-empty matcher (neq/notRe/empty-eq) also records an
    * interval for the label-less series `"{}"` whether or not it exists
    * (the index can't tell): a tombstone for a nonexistent series
    * filters nothing and retires with the blocks it spans — same
    * harmless debris as a tombstone whose series was later compacted
    * away. */
  def delete(spark: SparkSession, mint0: Long, maxt0: Long, matchers: Matcher*): Unit =
    Manifest.withLock(root) {
      // Clamp the interval to the store's CURRENT time range first — the
      // reference's `Head.Delete` clampInterval (head.go:957-958): a
      // delete must never reach beyond data that exists at delete time,
      // so samples appended LATER inside the requested-but-unpopulated
      // range survive (TestDeleteUntilCurMax, head_test.go:530-568) —
      // then per SERIES (head.go:972-977): each matched series clamps
      // to its own [s_mint, s_maxt] recorded in the block dictionaries
      // at write time, so a later append beyond a series' old max also
      // survives even when it lands inside the store-wide range. Only
      // block dictionaries record bounds: head-only series and the
      // phantom "{}" record, which the index can't see, keep the
      // store-level clamp — wider, but never past the request. Under the
      // gate the keys and bounds come from the resident index, on the
      // driver; above it from Spark jobs over the dictionaries.
      val st = manifest
      val bs = st.blocks
      val mint = if (bs.isEmpty) mint0 else math.max(mint0, bs.map(_.mint).min)
      val maxt = if (bs.isEmpty) maxt0 else math.min(maxt0, bs.map(_.maxt).max - 1)
      if (bs.isEmpty || mint > maxt) return
      val clamped = (residentIndex(spark, st) match {
        case Some(ix) =>
          import spark.implicits._
          ix.resolve(matchers).map { k =>
            val (lo, hi) = ix.bounds(k).getOrElse((mint, maxt))
            (k, math.max(mint, lo), math.min(maxt, hi))
          }.toDF("series_key", "mint", "maxt")
        case None =>
          val keys = graft.query.Postings.seriesFor(postingsIndex(spark, st), matchers)
          val bounds = BlockStore.readDict(spark, bs.map(b => dictPath(b.blockId)))
            .groupBy("series_key").agg(min("s_mint").as("s_mint"), max("s_maxt").as("s_maxt"))
          keys.join(bounds, Seq("series_key"), "left").select(col("series_key"),
            greatest(lit(mint), col("s_mint")).as("mint"), least(lit(maxt), col("s_maxt")).as("maxt"))
      })
        // a matched series wholly outside the request records nothing
        // (the reference's `continue` on an empty clamp)
        .where(col("mint") <= col("maxt"))
      // probe at most threshold+1 keys: a narrow delete inlines T
      // records; a wide one NEVER materializes its series set on the
      // driver — it spills to a parquet side table referenced by one
      // manifest F record (count via observe, no extra job). On a local
      // relation (under the gate) the probe starts no job
      val probe = clamped.limit(tombstoneSpillThreshold + 1).collect()
      if (probe.length <= tombstoneSpillThreshold) {
        val added = probe.map(r =>
          TombstoneInterval(r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        Manifest.publish(root, recount(st.copy(tombstones = coalesce(st.tombstones ++ added))))
      } else {
        val fid = st.nextBlockId
        val obs = Observation(s"graft-tomb-$fid")
        clamped
          // the file's manifest record carries the COVERING interval of
          // its per-series rows (recount/retention reason over it)
          .observe(obs, count(lit(1)).as("n"),
            min(col("mint")).as("lo"), max(col("maxt")).as("hi"))
          .write.mode(SaveMode.Overwrite)
          .options(BlockStore.parquetWriteOptions)
          .parquet(tombPath(fid))
        // zero matched keys → zero write tasks → observation may not fire
        val stats = obs.get
        val n = stats.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
        val lo = stats.get("lo").map(_.asInstanceOf[Long]).getOrElse(mint)
        val hi = stats.get("hi").map(_.asInstanceOf[Long]).getOrElse(maxt)
        Manifest.publish(root, recount(st.copy(highWater = math.max(st.highWater, fid),
          tombstoneFiles = st.tombstoneFiles :+ TombstoneFile(fid, lo, hi, n))))
      }
      markSynced()
    }

  /** `st` with its per-block tombstone counters, which feed the
    * planner's >5% trigger (`compact.go:211-220`), counted from its own
    * tombstones. Spilled side tables count via their covering interval
    * × row count — an upper bound, which only makes the trigger
    * conservative-eager, never blind. */
  private def recount(st: ManifestState): ManifestState =
    st.copy(blocks = st.blocks.map { b =>
      val inline = st.tombstones.count(t => b.overlaps(t.mint, t.maxt))
      val spilled = st.tombstoneFiles.filter(f => b.overlaps(f.mint, f.maxt)).map(_.count).sum
      b.copy(numTombstones = inline + spilled)
    })

  /** `st` with `keep` as its block list and without the tombstone
    * records that touch none of those blocks: fully applied by a
    * rewrite, or retired with the blocks they covered. */
  private def retaining(st: ManifestState, keep: Seq[BlockMeta]): ManifestState = {
    def touches(mint: Long, maxt: Long) = keep.exists(_.overlaps(mint, maxt))
    st.copy(blocks = keep, tombstones = st.tombstones.filter(t => touches(t.mint, t.maxt)),
      tombstoneFiles = st.tombstoneFiles.filter(f => touches(f.mint, f.maxt)))
  }

  /** Driver-side interval coalescing per series (reference
    * `Intervals.add`, `tombstones.go:259-304`) — the tombstone set is
    * small metadata, so this needs no Spark job. */
  private def coalesce(ts: Seq[TombstoneInterval]): Seq[TombstoneInterval] =
    ts.groupBy(_.seriesKey).toSeq.sortBy(_._1).flatMap { case (key, ivs) =>
      val sorted = ivs.sortBy(t => (t.mint, t.maxt))
      sorted.tail.foldLeft(List(sorted.head)) { (acc, iv) =>
        val h = acc.head
        if (iv.mint <= h.maxt + 1) h.copy(maxt = math.max(h.maxt, iv.maxt)) :: acc.tail
        else iv :: acc
      }.reverse.map(i => TombstoneInterval(key, i.mint, i.maxt))
    }

  /** Overlap-dedup recency of each live block — its rank in the
    * reference's query order, which is MIN-TIME order re-imposed on
    * every reload (`db.go:386-388`): the overlapping block with the
    * greatest `mint` wins duplicate timestamps, with `block_id`
    * breaking exact-mint ties deterministically (the reference's
    * unstable sort leaves them unspecified). Pinned by the ported
    * `TestVerticalCompaction` table (`db_test.go:1793`, case 4: a
    * later-created backfill block with an earlier mint loses). ONE
    * map literal probed per row — a CASE chain here would codegen an
    * O(#blocks)-deep expression tree and stop scaling past a few
    * hundred blocks of manifest; the literal map is a single constant
    * whatever the retention window holds, so a store whose compaction
    * lags by thousands of blocks still plans and codegens. Unknown
    * block ids (impossible from our own scan) rank -1, matching the
    * CASE chain's old else-branch. */
  private[storage] def blockRecency(blocks: Seq[BlockMeta]): Column = {
    val rank = blocks.sortBy(b => (b.mint, b.blockId)).map(_.blockId)
      .zipWithIndex.map { case (id, r) => id -> r }.toMap
    org.apache.spark.sql.functions
      .coalesce(element_at(typedLit(rank), col("block_id")), lit(-1))
  }

  /** Compaction plan over the current manifest (reference `Plan`,
    * `compact.go:190-254`): block ids to merge next, or empty. */
  def planCompaction(ranges: Seq[Long]): Seq[Long] =
    Compaction.plan(manifest.blocks, ranges).map(_.blockId)

  /** Apply pending tombstones physically by rewriting ONLY the blocks
    * that carry them, each by itself — the reference's
    * `db.CleanTombstones()` (`db.go:1234-1261`): block boundaries are
    * preserved (no merging — that's [[planCompaction]]'s job), fully
    * deleted blocks vanish, untouched blocks are not rewritten, and
    * the applied intervals leave the manifest. Returns the new block
    * ids (one per surviving rewritten block). */
  def cleanTombstones(spark: SparkSession): Seq[Long] = Manifest.withLock(root) {
    val st0 = manifest
    val entryTombs = st0.tombstones.toSet
    val entryFiles = st0.tombstoneFiles.map(_.fileId).toSet
    val (st1, rewritten) = st0.blocks.filter(_.numTombstones > 0).map(_.blockId)
      .foldLeft((st0, Seq.empty[Long])) { case ((st, done), id) =>
        val (next, newId) = compactAt(spark, st, Seq(id))
        (next, done ++ newId)
      }
    // Every interval present at entry has now been physically applied to
    // every block that carried it (numTombstones is a time-overlap upper
    // bound, so numTombstones == 0 blocks carry none). compact()'s own
    // retention check keeps intervals that merely time-overlap the fresh
    // rewrites, so drop the entry set explicitly — without this, a
    // multi-block clean never clears the manifest and re-rewrites the
    // same blocks on the next call.
    if (entryTombs.nonEmpty || entryFiles.nonEmpty) {
      Manifest.publish(root, recount(st1.copy(tombstones = st1.tombstones.filterNot(entryTombs),
        tombstoneFiles = st1.tombstoneFiles.filterNot(f => entryFiles(f.fileId)))))
      markSynced()
    }
    rewritten
  }

  /** Merge the given blocks into one new block (reference `Compact`,
    * `compact.go:373-464` + `populateBlock`): vertical dedup
    * (min-time-order recency, [[blockRecency]]), physical tombstone
    * drop, one sorted write,
    * then an atomic manifest swap that retires the inputs. Tombstone
    * intervals that no longer touch any remaining block are dropped
    * (`CleanTombstones`, `db.go:1234-1261`). */
  def compact(spark: SparkSession, ids: Seq[Long]): Option[Long] = Manifest.withLock(root) {
    if (ids.isEmpty) None else compactAt(spark, manifest, ids)._2
  }

  /** [[compact]] over `st`, the current state its caller loaded under
    * the lock: the published state and the new block's id. */
  private def compactAt(
      spark: SparkSession, st: ManifestState, ids: Seq[Long]): (ManifestState, Option[Long]) = {
    val newId = st.nextBlockId
    val inputs = st.blocks.filter(b => ids.contains(b.blockId))
    require(inputs.size == ids.size, s"unknown block ids in $ids")
    val cleaned = withoutTombstones(spark, st,
      Merge.dedupLatest(readBlocks(spark, ids), blockRecency(inputs), col("sample_id")))
    // None: everything tombstoned away. Otherwise the new block's
    // dictionary comes from the rows it holds, so its series, bounds
    // and count are exact however much the tombstones removed
    val meta = insertBlock(newId, cleaned).map { case (mint, maxt, n) =>
      val numSeries = BlockStore.writeDict(
        writtenSeries(spark, newId, ids.map(dictPath)), dictPath(newId), SaveMode.Overwrite)
      BlockMeta(newId, mint, maxt, n, numSeries, numTombstones = 0L, bytes = du(blockPath(newId)))
    }
    // drop intervals/side tables now fully applied (touch no surviving
    // block). newId enters the high-water even if the compacted block
    // came out empty (everything tombstoned): it must never be reused
    val kept = retaining(st, st.blocks.filterNot(b => ids.contains(b.blockId)))
    val next = recount(kept.copy(blocks = kept.blocks ++ meta, highWater = math.max(st.highWater, newId)))
    Manifest.publish(root, next)
    markSynced()
    (next, meta.map(_.blockId))
  }

  /** Manifest-only retention (reference `db.go:847-906`): blocks wholly
    * older than `keepMs` behind the newest block, then — newest first —
    * blocks past the `maxBytes` budget. Reads NO data (the round-1
    * driver-side max(t) scan is gone); publishing the shrunken list is
    * the atomic delete, [[vacuum]] reclaims disk later. Returns dropped
    * metas. */
  def applyRetention(keepMs: Long = 0L, maxBytes: Long = 0L): Seq[BlockMeta] = Manifest.withLock(root) {
    val st = manifest
    if (st.blocks.isEmpty) return Nil
    val newestFirst = st.blocks.sortBy(-_.maxt)
    val maxT = newestFirst.head.maxt
    val byTime =
      if (keepMs <= 0) Set.empty[Long]
      else newestFirst.dropWhile(b => maxT - b.maxt <= keepMs).map(_.blockId).toSet
    val bySize =
      if (maxBytes <= 0) Set.empty[Long]
      else {
        val sizes = newestFirst.scanLeft(0L)(_ + _.bytes).tail
        newestFirst.zip(sizes).dropWhile(_._2 <= maxBytes).map(_._1.blockId).toSet
      }
    val drop = byTime ++ bySize
    if (drop.isEmpty) Nil
    else {
      val (gone, keep) = st.blocks.partition(b => drop.contains(b.blockId))
      // retire tombstones that touched only the dropped blocks
      Manifest.publish(root, recount(retaining(st, keep)))
      markSynced()
      gone
    }
  }

  /** Physically delete, at once, the block, dictionary and tombstone
    * dirs the current manifest no longer lists, and trim old manifest
    * versions. Unlike the reference, which removes a retired block only
    * after its pending readers drain (`db.go:908-940`), nothing here
    * waits for readers: a frame built over an older state and run after
    * a maintain pass can answer empty, until reads lease their state. */
  def vacuum(): Unit = Manifest.withLock(root) {
    val st = manifest
    val live = st.blocks.map(_.blockId).toSet
    for (d <- Seq(dataDir, dictDir); f <- Option(new java.io.File(d).listFiles()).getOrElse(Array())) {
      val name = f.getName
      if (name.startsWith("block_id=") &&
        name.stripPrefix("block_id=").toLongOption.exists(!live.contains(_)))
        scala.reflect.io.Directory(f).deleteRecursively()
      // job markers a pre-marker-suppression writer left at the table root
      else if (name == "_SUCCESS" || name == "._SUCCESS.crc") f.delete()
    }
    val liveTombs = st.tombstoneFiles.map(_.fileId).toSet
    for (f <- Option(new java.io.File(tombsDir).listFiles()).getOrElse(Array())) {
      val name = f.getName
      if (name.startsWith("ts_id=") &&
        name.stripPrefix("ts_id=").toLongOption.exists(!liveTombs.contains(_)))
        scala.reflect.io.Directory(f).deleteRecursively()
    }
    Manifest.trim(root)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.sorted(Comparator.naturalOrder[Path]()).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }

  /** Rewrite this store into `destRoot` with a different bucket count —
    * the documented escape hatch for [[seriesBuckets]] being fixed at
    * table creation: a store that grew 100× re-buckets by compacting
    * into a NEW store (fresh table, new W), not by rewriting in place.
    * Blocks are replayed in recency order (fresh contiguous ids keep
    * later-block-wins intact), each block's dictionary is rewritten from
    * its replayed rows and its source dictionary's labels (the head
    * dictionary from itself), and tombstones (inline + spilled)
    * re-publish under the destination manifest — so `readRange` over
    * the destination is row-identical while every per-series stage now
    * runs `newBuckets` wide. The source store is untouched; cutover is
    * pointing readers at `destRoot`. Per block, a bucketed write at the
    * new W and its dictionary write — the same cost shape as a full
    * compaction. */
  def rebucket(spark: SparkSession, destRoot: String, newBuckets: Int): BlockStore =
    Manifest.withLock(root) {
      require(!Files.exists(Paths.get(destRoot, "meta")),
        s"rebucket destination $destRoot is already an initialized store")
      val dest = new BlockStore(destRoot, blockRangeMs, newBuckets,
        tombstoneSpillThreshold, broadcastLimit)
      val st = manifest
      Manifest.withLock(destRoot) {
        val copied = st.blocks.sortBy(_.blockId).foldLeft(dest.manifest) { (d, b) =>
          dest.appendBlock(d,
            storeTable(spark).where(col("block_id") === b.blockId).drop("block_id", "t_bucket"))(
            dest.writtenSeries(spark, _, Seq(dictPath(b.blockId)))).getOrElse(d)
        }
        headDict.foreach(d =>
          BlockStore.writeDict(BlockStore.dictSeries(spark, Seq(d)), dest.headDictDir, SaveMode.Overwrite))
        // spilled tombstone side tables get fresh ids in the destination's
        // id space (they share it with block ids)
        var nextId = copied.nextBlockId
        val newFiles = st.tombstoneFiles.map { f =>
          val nid = nextId
          nextId += 1
          copyTree(Paths.get(tombPath(f.fileId)), Paths.get(dest.tombsDir, s"ts_id=$nid"))
          f.copy(fileId = nid)
        }
        Manifest.publish(destRoot, recount(copied.copy(tombstones = st.tombstones, tombstoneFiles = newFiles,
          highWater = newFiles.map(_.fileId).foldLeft(copied.highWater)(math.max))))
      }
      dest.markSynced()
      dest
    }

  /** Destroy the store wholesale: data, manifest, and this JVM's
    * catalog registration — so the same root can be rebuilt from
    * scratch without stale catalog partitions pointing at deleted
    * files. */
  def destroy(spark: SparkSession): Unit = Manifest.withLock(root) {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    BlockStore.syncedVersions.remove(tableName)
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    ()
  }

  /** Consistent snapshot (reference `DB.Snapshot`, `db.go:1108-1146`):
    * copy the live blocks' immutable dirs + a manifest listing exactly
    * them. No Spark job — a filesystem copy, like the reference's
    * hardlink tree. */
  def snapshot(destRoot: String): Unit = Manifest.withLock(root) {
    val st = manifest
    val destData = Paths.get(destRoot, "data")
    Files.createDirectories(destData)
    st.blocks.foreach { b =>
      copyTree(Paths.get(blockPath(b.blockId)),
        destData.resolve(s"block_id=${b.blockId}"))
      val dict = Paths.get(s"$dictDir/block_id=${b.blockId}")
      if (Files.isDirectory(dict))
        copyTree(dict, Paths.get(destRoot, "dict", s"block_id=${b.blockId}"))
    }
    st.tombstoneFiles.foreach { f =>
      copyTree(Paths.get(tombPath(f.fileId)),
        Paths.get(destRoot, "tombs", s"ts_id=${f.fileId}"))
    }
    headDict.foreach(d => copyTree(Paths.get(d), Paths.get(destRoot, "dict", "head")))
    // the range marker rides along so the snapshot opens correctly
    val rangeFile = Paths.get(root, "meta", "BLOCK_RANGE")
    if (Files.exists(rangeFile)) {
      Files.createDirectories(Paths.get(destRoot, "meta"))
      Files.copy(rangeFile, Paths.get(destRoot, "meta", "BLOCK_RANGE"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Manifest.publish(destRoot, st)
  }
}

object BlockStore {
  /** The most series keys a selector resolved on the driver hands the
    * scan as a literal `In` ([[BlockStore.readRange]]); past it the read
    * semi-joins against the keys as a broadcast local relation. Measured
    * against a 100k-value label (the 5M-series matcher bench), a
    * 100k-literal `isin` costs seconds of analysis/codegen and beats
    * the semi-join at nothing. */
  private[storage] val literalLimit: Int = 1000

  /** The block range the store recorded at first write
    * (meta/BLOCK_RANGE) — how read-only tools ([[graft.Main]], a
    * querying session) open an existing store without knowing its
    * creation-time configuration. None for a store that predates the
    * marker (or was never written): callers fall back to their own
    * default, the pre-r7 behavior. */
  def recordedRange(root: String): Option[Long] = {
    val p = java.nio.file.Paths.get(root, "meta", "BLOCK_RANGE")
    if (!java.nio.file.Files.exists(p)) None
    else scala.util.Try(java.nio.file.Files.readString(p).trim.toLong).toOption
  }

  /** Parquet options for every file the store writes. The reference
    * packs chunks with Gorilla delta-of-delta timestamps + XOR values
    * (`chunkenc/xor.go:51-106`); the parquet equivalents are the v2
    * data pages — DELTA_BINARY_PACKED on the sorted `t`/`sample_id`
    * longs where the v1 writer stored them plain — with zstd over the
    * residual double payload. Applied as table storage properties
    * (so `insertInto` block writes pick them up) and as writer options
    * on the side files (dict/tombstones). Stores created before this
    * existed keep their original table options; mixed codecs per file
    * are fine for readers. */
  private[storage] val parquetWriteOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    // Pin the codec level explicitly (3 is parquet-java's default): the
    // write-throughput row is a cross-round record, and an ambient
    // default change would silently move it.
    "parquet.compression.codec.zstd.level" -> "3",
    "parquet.writer.version" -> "v2")

  /** A series' label pairs as [[writeDict]] takes them: the entry array
    * of [[graft.functions.canonicalLabelEntries]]. */
  private[storage] val LabelEntries: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("value", StringType))))

  /** The dictionary format of the class doc, declared: a read that names
    * its schema starts no schema-inference job. */
  private val DictSchema = StructType(Seq(
    StructField("series_key", StringType), StructField("s_mint", LongType),
    StructField("s_maxt", LongType), StructField("label_name", StringType),
    StructField("label_value", StringType)))

  /** The one reader of the dictionary format: the union of the
    * dictionary directories (or part files) at `paths`. */
  private[storage] def readDict(spark: SparkSession, paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), DictSchema)
    else spark.read.schema(DictSchema).parquet(paths: _*)

  /** The one writer of the dictionary format: `series` holds one row per
    * series, `(series_key, labels, s_mint, s_maxt)` with `labels` in
    * [[LabelEntries]] form (null for none). Empty-valued labels are
    * stripped here. Returns the number of series rows — a block's
    * `numSeries`, counted by the write job itself. */
  private[storage] def writeDict(series: DataFrame, dir: String, mode: SaveMode): Long = {
    val obs = Observation()
    series
      .observe(obs, count(lit(1)).as("n"))
      .select(col("series_key"), col("s_mint"), col("s_maxt"),
        explode(filter(col("labels"), e => e("value").isNotNull && e("value") =!= "")).as("e"))
      .select(col("series_key"), col("s_mint"), col("s_maxt"),
        col("e.key").as("label_name"), col("e.value").as("label_value"))
      .write.mode(mode).options(parquetWriteOptions).parquet(dir)
    obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** The dictionaries at `paths` as [[writeDict]]'s per-series rows:
    * a series listed by several keeps the union of their pairs and the
    * hull of their bounds. */
  private[storage] def dictSeries(spark: SparkSession, paths: Seq[String]): DataFrame =
    readDict(spark, paths).groupBy("series_key").agg(
      collect_set(struct(col("label_name").as("key"), col("label_value").as("value"))).as("labels"),
      min("s_mint").as("s_mint"), max("s_maxt").as("s_maxt"))

  /** [[parquetWriteOptions]] rendered for a `CREATE TABLE ... OPTIONS`
    * clause. */
  private[storage] def parquetOptionsSql: String =
    parquetWriteOptions.map { case (k, v) => s"'$k' '$v'" }.mkString(", ")

  /** Exponential compaction ranges 2h × 3^k (reference
    * `ExponentialBlockRanges`, `compact.go:41-50`; defaults `db.go:51`). */
  def exponentialRanges(minMs: Long, steps: Int, factor: Int = 3): Seq[Long] =
    Compaction.exponentialRanges(minMs, steps, factor)

  /** Manifest version each store table's catalog partitions were last
    * synced at, per JVM (the catalog is JVM-shared state; the manifest
    * is the cross-process truth). */
  private[storage] val syncedVersions =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Each store's driver-resident postings ([[BlockStore.residentIndex]]),
    * per JVM, by catalog table name (one per store root). */
  private[storage] val seriesIndexes =
    scala.collection.mutable.HashMap.empty[String, SeriesIndex]
}
