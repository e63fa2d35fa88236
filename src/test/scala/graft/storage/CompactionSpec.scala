package graft.storage

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Planner semantics ported from the reference's table-driven tests
  * (`compact_test.go:164-371` TestLeveledCompactor_plan and the
  * overlapping-block cases; `db_test.go:1250`
  * TestOverlappingBlocksDetectsAllOverlaps). Pure — no Spark session. */
class CompactionSpec extends AnyFunSuite {

  // mimics the reference test config: ExponentialBlockRanges with min 20
  private val ranges = Seq(20L, 60L, 180L, 540L, 1620L)

  private def m(id: Long, mint: Long, maxt: Long,
      series: Long = 0, tombs: Long = 0): BlockMeta =
    BlockMeta(id, mint, maxt, 0, series, tombs, 0)

  private def planIds(metas: BlockMeta*): Seq[Long] =
    Compaction.plan(metas, ranges).map(_.blockId)

  test("outside range: single block is never compacted") {
    assert(planIds(m(1, 0, 20)) == Nil)
  }

  test("waits for four size-20 blocks before compacting") {
    assert(planIds(m(1, 0, 20), m(2, 20, 40)) == Nil)
    // three present but the freshest is ignored (WAL window)
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 40, 60)) == Nil)
  }

  test("block filling the parent range appeared -> compact") {
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 40, 60), m(4, 60, 80)) ==
      Seq(1, 2, 3))
  }

  test("gap ahead, still ignoring the fresh block -> no compaction") {
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 60, 80)) == Nil)
  }

  test("gap closed over: compact the stranded pair") {
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 60, 80), m(4, 80, 100)) ==
      Seq(1, 2))
  }

  test("20,20,20,60,60 with fresh 5 -> compact the 20s") {
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 40, 60),
      m(4, 60, 120), m(5, 120, 180)) == Seq(1, 2, 3))
  }

  test("20+60+60 selected at the 180 range (fresh one far ahead)") {
    assert(planIds(m(2, 20, 40), m(4, 60, 120), m(5, 960, 980),
      m(6, 120, 180), m(7, 720, 960)) == Seq(2, 4, 6))
  }

  test("tombstone trigger: only with a fresh block present, only for large blocks") {
    // no fresh block -> the large tombstoned block IS the fresh one -> nil
    assert(planIds(m(1, 0, 540, series = 10, tombs = 3)) == Nil)
    // fresh appears -> >5% tombstoned large block selected
    assert(planIds(m(1, 0, 540, series = 10, tombs = 3), m(2, 540, 560)) == Seq(1))
    // small block: never tombstone-compacted
    assert(planIds(m(1, 0, 60, series = 10, tombs = 3), m(2, 60, 80)) == Nil)
    // zero series / zero tombstones regression: no compact loop
    assert(planIds(m(1, 0, 540, series = 0, tombs = 0), m(2, 540, 560)) == Nil)
  }

  test("freshness is by max time, not id (compact_test.go regression)") {
    assert(planIds(m(5, 0, 360), m(6, 540, 560), m(7, 360, 420), m(8, 420, 540)) ==
      Seq(7, 8))
  }

  test("overlapping blocks take priority over range plans") {
    assert(planIds(m(1, 0, 20), m(2, 19, 40), m(3, 40, 60)) == Seq(1, 2))
    assert(planIds(m(1, 0, 20), m(2, 20, 40), m(3, 30, 50)) == Seq(2, 3))
    assert(planIds(m(1, 0, 20), m(2, 10, 40), m(3, 30, 50)) == Seq(1, 2, 3))
    assert(planIds(m(5, 0, 360), m(6, 340, 560), m(7, 360, 420), m(8, 420, 540)) ==
      Seq(5, 6, 7, 8))
    // only the FIRST overlapping run is returned
    assert(planIds(m(1, 0, 10), m(2, 9, 20), m(3, 30, 40), m(4, 39, 50)) ==
      Seq(1, 2))
  }

  test("splitByRange aligns windows and skips straddlers (compact.go:289-329)") {
    val ds = Seq(m(1, 0, 10), m(2, 10, 20), m(3, 50, 60), m(4, 90, 100))
    assert(Compaction.splitByRange(ds, 30).map(_.map(_.blockId)) ==
      Seq(Seq(1L, 2L), Seq(3L), Seq(4L)))
    // negative-time alignment
    val neg = Seq(m(1, -30, -20), m(2, -20, -10))
    assert(Compaction.splitByRange(neg, 30).map(_.map(_.blockId)) == Seq(Seq(1L, 2L)))
  }

  test("splitByRange: the full TestSplitByRange case table (compact_test.go:36)") {
    def split(tr: Long, ranges: (Long, Long)*): Seq[Seq[(Long, Long)]] =
      Compaction.splitByRange(
        ranges.zipWithIndex.map { case ((lo, hi), i) => m(i.toLong, lo, hi) }.toSeq, tr)
        .map(_.map(b => (b.mint, b.maxt)))
    assert(split(60, (0L, 10L)) == Seq(Seq((0L, 10L))))
    assert(split(60, (0L, 60L)) == Seq(Seq((0L, 60L)))) // exact fit stays
    assert(split(60, (0L, 10L), (9L, 15L), (30L, 60L)) ==
      Seq(Seq((0L, 10L), (9L, 15L), (30L, 60L))))
    assert(split(60, (70L, 90L), (125L, 130L), (130L, 180L), (1000L, 1001L)) ==
      Seq(Seq((70L, 90L)), Seq((125L, 130L), (130L, 180L)), Seq((1000L, 1001L))))
    // mis-aligned or too-large blocks are ignored
    assert(split(60, (50L, 70L), (70L, 80L)) == Seq(Seq((70L, 80L))))
    assert(split(72, (0L, 144L), (144L, 216L), (216L, 288L)) ==
      Seq(Seq((144L, 216L)), Seq((216L, 288L))))
    // awkward negative-number edges
    assert(split(60, (-10L, -5L)) == Seq(Seq((-10L, -5L))))
    assert(split(60, (-60L, -50L), (-10L, -5L)) ==
      Seq(Seq((-60L, -50L), (-10L, -5L))))
    assert(split(60, (-60L, -50L), (-10L, -5L), (0L, 15L)) ==
      Seq(Seq((-60L, -50L), (-10L, -5L)), Seq((0L, 15L))))
  }

  test("overlappingGroups finds all maximal overlap groups (db_test.go:1250)") {
    val metas = Seq(
      m(1, 0, 10), m(2, 9, 15), m(3, 14, 20), // one chained group
      m(4, 30, 40), // alone
      m(5, 50, 60), m(6, 55, 58)) // contained
    assert(Compaction.overlappingGroups(metas).map(_.map(_.blockId)) ==
      Seq(Seq(1L, 2L, 3L), Seq(5L, 6L)))
    assert(Compaction.overlappingGroups(Seq(m(1, 0, 10), m(2, 10, 20))).isEmpty)
  }

  test("exponential ranges (compact.go:41-50)") {
    assert(Compaction.exponentialRanges(7200000L, 3) ==
      Seq(7200000L, 21600000L, 64800000L))
  }
}

class ManifestSpec extends AnyFunSuite {
  test("manifest round-trips blocks + tombstones with atomic versions") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    assert(Manifest.load(root) == ManifestState(Nil, Nil))
    val st1 = ManifestState(
      Seq(BlockMeta(1, 0, 100, 10, 2, 0, 1234)),
      Seq(TombstoneInterval("{a=\"b\",c=\"d\"}", 5, 9)))
    assert(Manifest.publish(root, st1) == 1L)
    assert(Manifest.load(root) == st1.copy(highWater = 1)) // hw tracks max id
    val st2 = st1.copy(blocks = st1.blocks :+ BlockMeta(2, 100, 200, 5, 2, 1, 99))
    assert(Manifest.publish(root, st2) == 2L)
    assert(Manifest.load(root) == st2.copy(highWater = 2))
    assert(st2.nextBlockId == 3L)
    // ids of retired blocks are never reused: dropping the highest block
    // keeps the high-water, so the next id moves past it
    assert(Manifest.publish(root, Manifest.load(root).copy(blocks = st1.blocks)) == 3L)
    assert(Manifest.load(root).highWater == 2L)
    assert(Manifest.load(root).nextBlockId == 3L)
  }

  test("manifest load survives crash debris: stray tmp files and unparsable names") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-crash").toString
    val st = ManifestState(Seq(BlockMeta(1, 0, 10, 1, 1, 0, 1)), Nil)
    Manifest.publish(root, st)
    // a writer that died mid-publish leaves a temp file; unrelated junk too
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", ".tmp-manifest-dead"), "B\tgarbage")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", "MANIFEST-notanumber"), "junk")
    assert(Manifest.load(root) == st.copy(highWater = 1))
    assert(Manifest.publish(root, st) == 2L) // versioning unaffected
  }

  test("torn/truncated known records fail loudly; unknown tags stay forward-compatible") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-torn").toString
    Manifest.publish(root, ManifestState(Seq(BlockMeta(1, 0, 10, 1, 1, 0, 1)), Nil))
    // a truncated B record (e.g. torn write on a non-atomic filesystem)
    // must NOT parse as a valid smaller block list
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", "MANIFEST-%09d".format(2L)),
      "H\t1\nB\t1\t0\t10\n")
    assertThrows[IllegalStateException](Manifest.load(root))
    // but a genuinely unknown record tag is skipped (forward compat)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", "MANIFEST-%09d".format(3L)),
      "H\t1\nB\t1\t0\t10\t1\t1\t0\t1\nX\tfuture-record\n")
    assert(Manifest.load(root) == ManifestState(Seq(BlockMeta(1, 0, 10, 1, 1, 0, 1)), Nil, 1))
  }

  test("tombstone side-table F records round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-f").toString
    val st = ManifestState(
      Seq(BlockMeta(1, 0, 100, 10, 2, 5, 1234)), Nil,
      tombstoneFiles = Seq(TombstoneFile(7, 10, 20, 100000)))
    Manifest.publish(root, st)
    val back = Manifest.load(root)
    assert(back.tombstoneFiles == st.tombstoneFiles)
    assert(back.highWater == 7L) // file ids share the never-reused id space
    assert(back.nextBlockId == 8L)
  }

  test("publish never replaces an existing version; collisions advance (lost-update safety)") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-race").toString
    val st1 = ManifestState(Seq(BlockMeta(1, 0, 10, 1, 1, 0, 1)), Nil)
    assert(Manifest.publish(root, st1) == 1L)
    // an unlocked/foreign writer dropped version 2 in between
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", "MANIFEST-%09d".format(2L)), "H\t9\n")
    // our publish lands at 3, never clobbering 2
    assert(Manifest.publish(root, st1) == 3L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "meta", "MANIFEST-%09d".format(2L))) == "H\t9\n")
  }

  test("concurrent read-modify-write updates serialize under the store lock") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-lock").toString
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        // the store's mutation shape: load and publish inside the lock
        Manifest.withLock(root) {
          val st = Manifest.load(root)
          Manifest.publish(root, st.copy(highWater = st.highWater + 1))
        }; ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // all 8 increments land (none lost to a racing read-modify-write)
    assert(Manifest.load(root).highWater == 8L)
    assert(Manifest.currentVersion(root) == 8L)
  }

  test("trim keeps the newest versions only") {
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-trim").toString
    (1 to 15).foreach(i =>
      Manifest.publish(root, ManifestState(Nil, Nil, highWater = i)))
    Manifest.trim(root, keep = 10)
    assert(Manifest.currentVersion(root) == 15L)
    assert(Manifest.load(root).highWater == 15L)
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(root, "meta"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("MANIFEST-")).toSeq
    assert(names.size == 10)
  }
}
