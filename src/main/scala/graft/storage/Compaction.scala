package graft.storage

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-block metadata — the reference's `BlockMeta` (`block.go:152-200`):
  * half-open time range `[mint, maxt)`, stats, and on-disk size. The
  * `blockId` is a monotone write sequence, which doubles as the vertical
  * merge recency ("later block wins", `querier.go:1039-1042`) the way the
  * reference uses ULID ordering.
  */
final case class BlockMeta(
    blockId: Long,
    mint: Long,
    maxt: Long, // exclusive
    numSamples: Long,
    numSeries: Long,
    numTombstones: Long,
    bytes: Long) {

  /** Closed-interval overlap vs a query range (reference
    * `OverlapsClosedInterval`, `block.go:636-641`: blocks are half-open). */
  def overlaps(qmint: Long, qmaxt: Long): Boolean =
    mint <= qmaxt && maxt > qmint
}

/** A deletion interval for one series: closed `[mint, maxt]`
  * (`tombstones.go:237-257`). Persisted inside the manifest version so
  * tombstones and the block list swap atomically together. */
final case class TombstoneInterval(seriesKey: String, mint: Long, maxt: Long)

/** A spilled tombstone side table: a delete wide enough that inlining
  * one `T` record per series would bloat the manifest (parsed on every
  * load) keeps only this pointer — `fileId` names a parquet dir of
  * `(series_key, mint, maxt)` rows under the store's `tombs/` tree,
  * with the covering interval and row count as planning metadata. The
  * reference never needs this because its tombstone list is in-memory
  * single-node; at 10⁶+ matched series the driver must not hold it. */
final case class TombstoneFile(fileId: Long, mint: Long, maxt: Long, count: Long)

/** One immutable published state of the store: live blocks + tombstones.
  * The reference's equivalent is the block list swapped under `db.mtx`
  * plus per-block tombstone files (`db.go:775-779`). `highWater` is the
  * largest block/tombstone-file id ever published — ids are NEVER reused
  * even after retention/compaction retires blocks, so a stale on-disk
  * dir (not yet vacuumed) can never be mistaken for a new block's data
  * or index. */
final case class ManifestState(
    blocks: Seq[BlockMeta],
    tombstones: Seq[TombstoneInterval],
    highWater: Long = 0L,
    tombstoneFiles: Seq[TombstoneFile] = Nil) {
  def nextBlockId: Long =
    (blocks.map(_.blockId) ++ tombstoneFiles.map(_.fileId))
      .foldLeft(highWater)(math.max) + 1
}

/** Versioned, atomically-published manifest — the reference's
  * `meta.json` tmp+fsync+rename pattern (`block.go:207-264`,
  * `compact.go:634-639`) applied to the whole block list: each publish
  * writes `MANIFEST-<n+1>` via a temp file + atomic rename; readers use
  * the highest complete version. Tab-separated text, longs only plus the
  * series key (which never contains tabs/newlines by construction).
  */
object Manifest {
  private val Prefix = "MANIFEST-"

  private def dir(root: String): Path = Paths.get(root, "meta")

  // ---- store writer lock ------------------------------------------------
  // The reference serializes every mutation under `db.mtx`/`db.cmtx` and
  // holds a directory lock file against other processes (`db.go:554-560`).
  // Same here: a reentrant per-store JVM lock, plus an OS file lock taken
  // while the outermost section is held, so two drivers can't interleave
  // read-modify-write cycles (both computing version n+1 / the same block
  // id) and silently lose one of the updates.
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private val fileLocks =
    new java.util.concurrent.ConcurrentHashMap[String, (java.nio.channels.FileChannel, java.nio.channels.FileLock)]()
  private def lockKey(root: String): String =
    Paths.get(root).toAbsolutePath.normalize.toString

  /** Run `body` as the store's exclusive writer (reentrant). */
  def withLock[A](root: String)(body: => A): A = {
    val k = lockKey(root)
    val l = jvmLocks.computeIfAbsent(k, _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try {
      if (l.getHoldCount == 1) {
        val d = dir(root)
        Files.createDirectories(d)
        val ch = java.nio.channels.FileChannel.open(d.resolve("LOCK"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try fileLocks.put(k, (ch, ch.lock()))
        catch { case e: Throwable => ch.close(); throw e }
      }
      try body
      finally if (l.getHoldCount == 1) {
        val (ch, fl) = fileLocks.remove(k)
        try fl.release() finally ch.close()
      }
    } finally l.unlock()
  }

  /** Atomic read-modify-write of the store state — the only safe way to
    * mutate a shared store (every [[graft.storage.BlockStore]] mutation
    * goes through here or runs under the same [[withLock]]). */
  def update(root: String)(f: ManifestState => ManifestState): ManifestState =
    withLock(root) {
      val next = f(load(root))
      publish(root, next)
      next
    }

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getFileName.toString
    if (n.startsWith(Prefix)) n.stripPrefix(Prefix).toLongOption else None
  }

  /** ASCII digits whatever the JVM's default locale, so a store written
    * under one locale opens under any other. */
  private def fileOf(v: Long): String = Prefix + "%09d".formatLocal(java.util.Locale.ROOT, v)

  def currentVersion(root: String): Long = {
    val d = dir(root)
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.list(d)
      try s.iterator.asScala.flatMap(versionOf).foldLeft(0L)(math.max)
      finally s.close()
    }
  }

  def load(root: String): ManifestState = {
    val v = currentVersion(root)
    if (v == 0L) ManifestState(Nil, Nil)
    else {
      val lines = Files.readAllLines(dir(root).resolve(fileOf(v))).asScala
      val blocks = Seq.newBuilder[BlockMeta]
      val tombs = Seq.newBuilder[TombstoneInterval]
      val files = Seq.newBuilder[TombstoneFile]
      var hw = 0L
      lines.foreach { line =>
        line.split('\t') match {
          case Array("B", id, mint, maxt, ns, nser, nt, by) =>
            blocks += BlockMeta(id.toLong, mint.toLong, maxt.toLong,
              ns.toLong, nser.toLong, nt.toLong, by.toLong)
          case Array("T", key, mint, maxt) =>
            tombs += TombstoneInterval(key, mint.toLong, maxt.toLong)
          case Array("F", id, mint, maxt, n) =>
            files += TombstoneFile(id.toLong, mint.toLong, maxt.toLong, n.toLong)
          case Array("H", id) => hw = id.toLong
          case rec if rec.headOption.exists(Set("B", "T", "F", "H")) =>
            // a KNOWN record kind with the wrong shape is corruption, not
            // forward compat — a torn/truncated manifest must never parse
            // as a valid smaller state (that would silently drop blocks)
            throw new IllegalStateException(
              s"corrupt manifest record in MANIFEST-$v at $root: '$line'")
          case _ => // genuinely unknown record tag: skip (forward compat)
        }
      }
      val bs = blocks.result()
      val fs = files.result()
      ManifestState(bs, tombs.result(),
        (bs.map(_.blockId) ++ fs.map(_.fileId)).foldLeft(hw)(math.max), fs)
    }
  }

  private def fsyncDir(d: Path): Unit = {
    val ch = java.nio.channels.FileChannel.open(d, java.nio.file.StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** Publish the next version: temp file, fsync, then an atomic
    * CREATE-NEW link into place — the reference's tmp+fsync+rename
    * discipline (`block.go:207-264`, `compact.go:634-639`), except a
    * plain rename silently *replaces* an existing version, so a racing
    * unlocked writer could erase another's publish; a hard link fails on
    * collision instead and we advance to the next free version. The
    * directory is forced to disk after, so a crash can't lose the entry. */
  def publish(root: String, state: ManifestState): Long = withLock(root) {
    val d = dir(root)
    Files.createDirectories(d)
    val body = new StringBuilder
    val hw = (state.blocks.map(_.blockId) ++ state.tombstoneFiles.map(_.fileId))
      .foldLeft(state.highWater)(math.max)
    body ++= s"H\t$hw\n"
    state.blocks.sortBy(_.blockId).foreach { b =>
      body ++= s"B\t${b.blockId}\t${b.mint}\t${b.maxt}\t${b.numSamples}\t${b.numSeries}\t${b.numTombstones}\t${b.bytes}\n"
    }
    state.tombstones.foreach { t =>
      require(!t.seriesKey.exists(c => c == '\t' || c == '\n'),
        s"series key not manifest-safe: ${t.seriesKey}")
      body ++= s"T\t${t.seriesKey}\t${t.mint}\t${t.maxt}\n"
    }
    state.tombstoneFiles.sortBy(_.fileId).foreach { f =>
      body ++= s"F\t${f.fileId}\t${f.mint}\t${f.maxt}\t${f.count}\n"
    }
    val tmp = Files.createTempFile(d, ".tmp-manifest", "")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        ch.write(java.nio.ByteBuffer.wrap(
          body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      var v = currentVersion(root) + 1
      var done = false
      while (!done) {
        try {
          Files.createLink(d.resolve(fileOf(v)), tmp)
          done = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => v += 1
        }
      }
      fsyncDir(d)
      v
    } finally Files.deleteIfExists(tmp)
  }

  /** Drop manifest versions older than the newest `keep` (bounded
    * metadata growth; the current version is never touched). */
  def trim(root: String, keep: Int = 10): Unit = withLock(root) {
    val d = dir(root)
    if (Files.isDirectory(d)) {
      val cutoff = currentVersion(root) - keep + 1
      val s = Files.list(d)
      try s.iterator.asScala
        .filter(p => versionOf(p).exists(_ < cutoff))
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

/** Compaction planning — the reference's `LeveledCompactor.plan`
  * (`compact.go:211-329`) over block metas: overlapping blocks first,
  * then exponential-range grouping, then large blocks with >5%
  * tombstones. Pure functions over [[BlockMeta]]; the Spark rewrite that
  * consumes a plan lives in [[BlockStore.compact]].
  */
object Compaction {

  /** Exponential block ranges (reference `ExponentialBlockRanges`,
    * `compact.go:41-50`; defaults 2h × 3^k, `db.go:48-55`). */
  def exponentialRanges(minMs: Long, steps: Int, factor: Int = 3): Seq[Long] =
    Iterator.iterate(minMs)(_ * factor).take(steps).toSeq

  /** The plan: which blocks to compact into one, or empty for "nothing
    * to do" (`compact.go:190-254`). Input order is irrelevant; output is
    * mint-ordered. */
  def plan(metas: Seq[BlockMeta], ranges: Seq[Long]): Seq[BlockMeta] = {
    val dms = metas.sortBy(m => (m.mint, m.maxt, m.blockId))

    val overlapping = selectOverlapping(dms)
    if (overlapping.nonEmpty) return overlapping

    if (dms.isEmpty) return Nil
    // Skip the freshest block (max mint): gives writers a full block's
    // window to backfill without racing compaction (`compact.go:199-202`).
    val settled = dms.dropRight(1)

    val ranged = selectRanges(settled, ranges)
    if (ranged.nonEmpty) return ranged

    // Large blocks with >5% tombstoned series (`compact.go:211-220`).
    settled.reverseIterator
      .takeWhile(m => m.maxt - m.mint >= ranges(ranges.length / 2))
      .find(m => m.numTombstones.toDouble / (m.numSeries + 1) > 0.05)
      .toSeq
  }

  /** First run of time-overlapping blocks, in mint order (reference
    * `selectOverlappingDirs`, `compact.go:264-286`). */
  def selectOverlapping(sorted: Seq[BlockMeta]): Seq[BlockMeta] = {
    if (sorted.length < 2) return Nil
    val out = Seq.newBuilder[BlockMeta]
    var n = 0
    var globalMaxt = sorted.head.maxt
    var i = 1
    var done = false
    while (i < sorted.length && !done) {
      val d = sorted(i)
      if (d.mint < globalMaxt) {
        if (n == 0) { out += sorted(i - 1); n += 1 }
        out += d; n += 1
      } else if (n > 0) done = true
      if (d.maxt > globalMaxt) globalMaxt = d.maxt
      i += 1
    }
    out.result()
  }

  /** Range-grouping selection (reference `selectDirs`,
    * `compact.go:227-262`): walk the range ladder coarse-ward, pick the
    * first multi-block group that either fills its range exactly or lies
    * wholly before the most recent block. */
  def selectRanges(ds: Seq[BlockMeta], ranges: Seq[Long]): Seq[BlockMeta] = {
    if (ranges.length < 2 || ds.isEmpty) return Nil
    val highTime = ds.last.mint
    ranges.tail.foreach { iv =>
      splitByRange(ds, iv).foreach { p =>
        val mint = p.head.mint
        val maxt = p.last.maxt
        if ((maxt - mint == iv || maxt <= highTime) && p.length > 1)
          return p
      }
    }
    Nil
  }

  /** Partition mint-sorted blocks into aligned windows of size `tr`,
    * skipping blocks that straddle a window boundary (reference
    * `splitByRange`, `compact.go:289-329`). */
  def splitByRange(ds: Seq[BlockMeta], tr: Long): Seq[Seq[BlockMeta]] = {
    val out = Seq.newBuilder[Seq[BlockMeta]]
    var i = 0
    while (i < ds.length) {
      val m = ds(i)
      val t0 =
        if (m.mint >= 0) tr * (m.mint / tr)
        else tr * ((m.mint - tr + 1) / tr)
      if (m.maxt > t0 + tr) i += 1
      else {
        val group = Seq.newBuilder[BlockMeta]
        while (i < ds.length && ds(i).maxt <= t0 + tr) {
          group += ds(i)
          i += 1
        }
        val g = group.result()
        if (g.nonEmpty) out += g
      }
    }
    out.result()
  }

  /** All maximal groups of mutually-overlapping blocks (reference
    * `OverlappingBlocks`, `db.go:942-990`; test
    * `db_test.go:1250` TestOverlappingBlocksDetectsAllOverlaps). Used by
    * the read path to decide vertical-merge querying. */
  def overlappingGroups(metas: Seq[BlockMeta]): Seq[Seq[BlockMeta]] = {
    val sorted = metas.sortBy(m => (m.mint, m.maxt, m.blockId))
    val groups = Seq.newBuilder[Seq[BlockMeta]]
    var cur = List.empty[BlockMeta]
    var curMax = Long.MinValue
    sorted.foreach { m =>
      if (cur.nonEmpty && m.mint < curMax) {
        cur = m :: cur
        if (m.maxt > curMax) curMax = m.maxt
      } else {
        if (cur.length > 1) groups += cur.reverse
        cur = List(m)
        curMax = m.maxt
      }
    }
    if (cur.length > 1) groups += cur.reverse
    groups.result()
  }
}
