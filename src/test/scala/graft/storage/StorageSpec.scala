package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.query.TsdbSource

class TombstonesSpec extends SparkSuite {
  import spark.implicits._

  def iv(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("series_key", "mint", "maxt")

  def coalesced(rows: (String, Long, Long)*): Set[(String, Long, Long)] =
    Tombstones.coalesceIntervals(iv(rows: _*))
      .as[(String, Long, Long)].collect().toSet

  test("interval coalescing matches reference semantics (tombstones_test.go:60-128)") {
    // overlapping
    assert(coalesced(("s", 1, 4), ("s", 5, 6)) == Set(("s", 1L, 6L))) // adjacent merges
    assert(coalesced(("s", 1, 10), ("s", 12, 20), ("s", 25, 30), ("s", 21, 23)) ==
      Set(("s", 1L, 10L), ("s", 12L, 23L), ("s", 25L, 30L)))
    assert(coalesced(("s", 1, 10), ("s", 12, 20), ("s", 25, 30), ("s", 9, 230)) ==
      Set(("s", 1L, 230L)))
    assert(coalesced(("s", 5, 10), ("s", 12, 20), ("s", 25, 30), ("s", 1, 4)) ==
      Set(("s", 1L, 10L), ("s", 12L, 20L), ("s", 25L, 30L)))
    assert(coalesced(("s", 5, 10), ("s", 12, 20), ("s", 25, 30), ("s", 11, 14)) ==
      Set(("s", 5L, 20L), ("s", 25L, 30L)))
    // distinct series never merge
    assert(coalesced(("a", 1, 5), ("b", 4, 9)) == Set(("a", 1L, 5L), ("b", 4L, 9L)))
  }

  test("interval coalescing: the remaining TestAddingNewIntervals rows " +
    "(tombstones_test.go:60-128)") {
    // add to empty / exact duplicate
    assert(coalesced(("s", 1, 2)) == Set(("s", 1L, 2L)))
    assert(coalesced(("s", 1, 2), ("s", 1, 2)) == Set(("s", 1L, 2L)))
    // DOCUMENTED DIVERGENCE: the reference's incremental Intervals.add
    // only merges intervals the NEW one touches, so it answers
    // {1,2},{3,7} here — leaving the pre-existing adjacent pair {1,2},
    // {3,5} unmerged. Our set-level coalescing normalizes those too
    // ({1,7}). Sample visibility is identical: closed intervals over
    // integer ms, so adjacency means no gap.
    assert(coalesced(("s", 1, 2), ("s", 3, 5), ("s", 7, 7), ("s", 6, 7)) ==
      Set(("s", 1L, 7L)))
    // new end exactly touching the next island's start merges both
    assert(coalesced(("s", 1, 10), ("s", 12, 20), ("s", 25, 30), ("s", 21, 25)) ==
      Set(("s", 1L, 10L), ("s", 12L, 30L)))
    // new overlapping one island extends it without reaching the next
    assert(coalesced(("s", 1, 10), ("s", 12, 20), ("s", 25, 30), ("s", 18, 23)) ==
      Set(("s", 1L, 10L), ("s", 12L, 23L), ("s", 25L, 30L)))
    // new spanning two islands merges them, third survives
    assert(coalesced(("s", 1, 10), ("s", 12, 20), ("s", 25, 30), ("s", 9, 23)) ==
      Set(("s", 1L, 23L), ("s", 25L, 30L)))
  }

  test("applyTo drops samples inside deleted intervals, closed bounds (querier.go:1166-1204)") {
    val samples = (0L to 9L).map(t => (t, "{a=\"b\"}", t, t.toDouble))
      .toDF("sample_id", "series_key", "t", "v")
    val tombs = iv(("{a=\"b\"}", 1, 3), ("{a=\"b\"}", 6, 6))
    val left = Tombstones.applyTo(samples, tombs)
      .select("t").as[Long].collect().sorted
    assert(left.toSeq == Seq(0L, 4L, 5L, 7L, 8L, 9L))
  }
}

class MergeSpec extends SparkSuite {
  import spark.implicits._

  test("vertical dedup: later block wins on duplicate t (querier.go:1039-1042)") {
    val a = Seq((1L, "s1", 10L, 1.0, 1), (2L, "s1", 20L, 2.0, 1), (3L, "s2", 10L, 3.0, 1))
      .toDF("sample_id", "series_key", "t", "v", "block_seq")
    val b = Seq((4L, "s1", 20L, 99.0, 2), (5L, "s1", 30L, 5.0, 2))
      .toDF("sample_id", "series_key", "t", "v", "block_seq")
    val got = Merge.dedupLatest(a.unionByName(b))
      .select("series_key", "t", "v").as[(String, Long, Double)]
      .collect().toSet
    assert(got == Set(("s1", 10L, 1.0), ("s1", 20L, 99.0), ("s1", 30L, 5.0), ("s2", 10L, 3.0)))
  }

  test("horizontal chaining: same-label series interleave samples, others " +
    "pass through (TestMergedSeriesSet querier_test.go:60-163)") {
    // set b's samples are strictly after set a's (the chained-blocks shape)
    def series(rows: (String, Long, Double)*): DataFrame =
      rows.zipWithIndex.map { case ((k, t, v), i) => (i.toLong, k, t, v) }
        .toDF("sample_id", "series_key", "t", "v")
    def merged(a: DataFrame, b: DataFrame): Map[String, Seq[(Long, Double)]] =
      a.unionByName(b).select("series_key", "t", "v")
        .as[(String, Long, Double)].collect().toSeq
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(r => (r._2, r._3)).sorted }
    // case 1: {a=a} in both sets chains; {b=b} only in b passes through
    val m1 = merged(
      series(("{a=\"a\"}", 1L, 1.0)),
      series(("{a=\"a\"}", 2L, 2.0), ("{b=\"b\"}", 1L, 1.0)))
    assert(m1 == Map(
      "{a=\"a\"}" -> Seq((1L, 1.0), (2L, 2.0)),
      "{b=\"b\"}" -> Seq((1L, 1.0))))
    // case 2: identity is the FULL label set — handler=prometheus with
    // different instance values stays three distinct series
    val h1 = "{handler=\"prometheus\",instance=\"127.0.0.1:9090\"}"
    val h2 = "{handler=\"prometheus\",instance=\"localhost:9090\"}"
    val h3 = "{handler=\"query\",instance=\"localhost:9090\"}"
    val m2 = merged(
      series((h1, 1L, 1.0), (h2, 1L, 2.0)),
      series((h1, 2L, 1.0), (h3, 2L, 2.0)))
    assert(m2 == Map(
      h1 -> Seq((1L, 1.0), (2L, 1.0)),
      h2 -> Seq((1L, 2.0)),
      h3 -> Seq((2L, 2.0))))
  }
}

class BlockStoreSpec extends SparkSuite {

  val DAY = 86400000L
  val T0 = 1704067200000L

  def freshStore(): BlockStore = new BlockStore(
    Files.createTempDirectory("graft-blocks").toString, 7 * DAY)

  lazy val samples: DataFrame = TsdbSource.events(spark, sf).samples

  /** Registers `body` twice: on the store it builds, and on the same
    * root opened with `broadcastLimit = 0L`, so its deletes resolve
    * through the Spark postings path instead of the resident index. */
  private def bothGates(name: String)(body: (BlockStore => BlockStore) => Unit): Unit = {
    test(name)(body(identity))
    test(s"$name, above the gate")(body(s => new BlockStore(s.root, s.blockRangeMs,
      s.seriesBuckets, s.tombstoneSpillThreshold, broadcastLimit = 0L)))
  }

  test("write publishes a block with manifest stats; read round-trips") {
    val store = freshStore()
    val id = store.write(samples)
    assert(id == Some(1L))
    val Seq(meta) = store.manifest.blocks
    assert(meta.numSamples == samples.count())
    assert(meta.numSeries == samples.select("series_key").distinct().count())
    assert(meta.bytes > 0)
    val (mint, maxt) = {
      val r = samples.agg(min("t"), max("t")).head(); (r.getLong(0), r.getLong(1))
    }
    assert(meta.mint == mint && meta.maxt == maxt + 1) // half-open
    assert(store.read(spark).count() == samples.count())
  }

  test("readRange prunes via manifest + partitions; no dedup when no overlap") {
    val store = freshStore()
    store.write(samples.where(col("t") < T0 + 10 * DAY))
    store.write(samples.where(col("t") >= T0 + 10 * DAY))
    val mint = T0 + 11 * DAY
    val maxt = T0 + 13 * DAY
    val got = store.readRange(spark, mint, maxt)
    val want = samples.where(col("t").between(mint, maxt))
    assert(got.count() == want.count() && got.count() > 0)
    // adjacent (non-overlapping) blocks: plain union, no dedup window
    assert(!got.queryExecution.executedPlan.toString.contains("Window"))
    // t_bucket partition pruning shows in the scan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(1500))
  }

  test("seek: point lookup prunes to one bucket, the range's partitions, no join (querier_test.go:1555-1644)") {
    val store = freshStore()
    store.write(samples.where(col("t") < T0 + 10 * DAY))
    store.write(samples.where(col("t") >= T0 + 10 * DAY))
    val mint = T0 + 11 * DAY
    val maxt = T0 + 13 * DAY
    val got = store.seek(spark, Map("name" -> "click", "user" -> "7"), mint, maxt)
    val want = samples.where(col("t").between(mint, maxt) &&
      col("series_key") === """{name="click",user="7"}""")
    assert(got.count() == want.count() && got.count() > 0)
    val plan = got.queryExecution.executedPlan
    val scan = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.size == 1, plan.toString.take(2000))
    // the literal key reaches the scan as a pushed filter — over the
    // SORTED BY (series_key, t) files that's a row-group-stats skip of
    // every non-matching bucket file (footer-only touch)
    assert(scan.head.metadata("PushedFilters").contains("EqualTo(series_key,"),
      scan.head.metadata("PushedFilters"))
    // manifest + t_bucket bounds prune to the range's partition dirs
    assert(scan.head.partitionFilters.nonEmpty, plan.toString.take(2000))
    // no index resolution, no join, no dedup window on adjacent blocks
    val ps = plan.toString
    assert(!ps.contains("Join") && !ps.contains("Window"), ps.take(2000))
  }

  test("query ranges at exact block boundaries select only the overlapping blocks " +
    "(TestQuerierWithBoundaryChunks db_test.go:1399-1430, TestChunkAtBlockBoundary db_test.go:1343)") {
    import spark.implicits._
    val br = 1000L
    val store = new BlockStore(
      Files.createTempDirectory("graft-boundary").toString, br)
    def rows(ts: Long*): DataFrame =
      ts.map(t => ("s", t, 0.0, t, Map("foo" -> "bar")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    // five adjacent blocks, each exactly one half-open range [i*br, (i+1)*br)
    // — the reference's appends at i*blockRange after head compaction
    for (i <- 0L until 5L)
      store.write(rows(i * br, i * br + 500, (i + 1) * br - 1))
    // every block's samples stay inside its aligned window — the
    // TestChunkAtBlockBoundary invariant (no block spans a range border)
    for (b <- store.manifest.blocks)
      assert(b.mint % br == 0 && b.maxt == b.mint + br,
        s"block ${b.blockId} [${b.mint}, ${b.maxt}) crosses a $br-aligned border")
    // the closed query [br, 2br] must touch exactly two blocks: block 1's
    // exclusive maxt == br keeps it OUT at the left edge, while block 3's
    // mint == 2br is IN at the right edge (closed query bounds)
    val live = store.manifest.blocks.filter(_.overlaps(br, 2 * br)).map(_.blockId)
    assert(live == Seq(2L, 3L), s"expected 2 blocks in querier, got $live")
    // and the samples agree: both boundary samples included, br-1 excluded
    assert(store.readRange(spark, br, 2 * br)
      .select("t").as[Long].collect().sorted.toSeq ==
      Seq(br, br + 500, 2 * br - 1, 2 * br))
  }

  test("overlapping writes are auto-deduped at read: later block wins (db.go:1185-1195)") {
    val store = freshStore()
    store.write(samples)
    val lo = T0 + 7 * DAY
    val hi = T0 + 11 * DAY - 1
    store.write(samples.where(col("t").between(lo, hi)).withColumn("v", col("v") + 100))
    // dedup engaged: totals match the single-copy count
    val got = store.readRange(spark, T0, T0 + 40 * DAY)
    assert(got.count() == samples.count())
    // later block's values win inside the overlap window
    val inWin = got.where(col("t").between(lo, hi))
    val orig = samples.where(col("t").between(lo, hi))
    assert(inWin.count() == orig.count())
    val sumGot = inWin.agg(sum("v")).head().getDouble(0)
    val sumOrig = orig.agg(sum("v")).head().getDouble(0)
    val want = sumOrig + 100.0 * orig.count()
    assert(math.abs(sumGot - want) < 1e-6 * math.max(1.0, math.abs(want)))
  }

  bothGates("delete records coalesced tombstones; readRange filters them (db.go:1203-1232)") { side =>
    val store = side(freshStore())
    store.write(samples)
    val lo = T0 + 2 * DAY
    val hi = T0 + 5 * DAY
    store.delete(spark, lo, hi, graft.matchers.Eq("name", "click"))
    // adjacent second delete coalesces into one interval per series
    store.delete(spark, hi + 1, hi + DAY, graft.matchers.Eq("name", "click"))
    val st = store.manifest
    assert(st.tombstones.nonEmpty)
    // r7: intervals clamp per series (head.go:972-977) — contained in
    // the request, and the adjacent deletes still coalesce to ONE
    // interval per series
    assert(st.tombstones.forall(t => t.mint >= lo && t.maxt <= hi + DAY))
    assert(st.tombstones.groupBy(_.seriesKey).values.forall(_.size == 1))
    assert(st.blocks.head.numTombstones == st.tombstones.size)
    val got = store.readRange(spark, T0, T0 + 40 * DAY)
    val want = samples.where(
      !(col("series_key").startsWith("{name=\"click\"") &&
        col("t").between(lo, hi + DAY)))
    assert(got.count() == want.count())
  }

  bothGates("stacked deletes over one series: the TestHeadDeleteSimple table " +
    "(head_test.go:362-397)") { side =>
    import spark.implicits._
    def rows(ts: Seq[Long]): DataFrame =
      ts.map(i => ("{a=\"b\"}", i, i * 1.0, i, Map("a" -> "b")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    val cases: Seq[(Seq[(Long, Long)], Seq[Long])] = Seq(
      Seq(0L -> 3L) -> Seq(4L, 5L, 6L, 7L, 8L, 9L),
      Seq(1L -> 3L) -> Seq(0L, 4L, 5L, 6L, 7L, 8L, 9L),
      Seq(1L -> 3L, 4L -> 7L) -> Seq(0L, 8L, 9L),
      // past-the-end interval clamps to the data that exists
      Seq(1L -> 3L, 4L -> 700L) -> Seq(0L),
      Seq(0L -> 9L) -> Seq())
    for (((dranges, exp), i) <- cases.zipWithIndex) {
      val store = side(new BlockStore(
        Files.createTempDirectory(s"graft-headdel$i").toString, 1000L))
      store.write(rows(0L to 9L))
      for ((lo, hi) <- dranges)
        store.delete(spark, lo, hi, graft.matchers.Eq("a", "b"))
      val got = store.readRange(spark, 0L, 1000L)
        .select("t").as[Long].collect().sorted.toSeq
      assert(got == exp, s"case $i dranges=$dranges")
      if (exp.isEmpty) {
        // the "labels and symbols are deleted" half: once the full-range
        // tombstone is physically applied, the empty block is dropped
        // (no-empty-blocks invariant) and the series leaves label metadata
        store.cleanTombstones(spark)
        assert(store.readRange(spark, 0L, 1000L).count() == 0)
        assert(store.labelValues(spark, "a").count() == 0)
        assert(store.manifest.tombstones.isEmpty)
      }
    }
  }

  bothGates("delete clamps to the store's current range: later appends inside the " +
    "requested range survive (TestDeleteUntilCurMax head_test.go:530-568)") { side =>
    import spark.implicits._
    val store = side(new BlockStore(
      Files.createTempDirectory("graft-delclamp").toString, 1000L))
    def rows(ts: Seq[Long]): DataFrame =
      ts.map(i => ("s", i, i * 1.0, i, Map("a" -> "b")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    store.write(rows(0L until 10L))
    store.delete(spark, 0, 10000, graft.matchers.Eq("a", "b"))
    assert(store.readRange(spark, 0, 100000).count() == 0)
    // the recorded tombstone is clamped to the data that existed
    assert(store.manifest.tombstones.forall(t => t.mint == 0 && t.maxt == 9))
    // an append at t=11 — inside the REQUESTED range, beyond the
    // clamped one — is visible
    store.write(rows(Seq(11L)))
    assert(store.readRange(spark, 0, 100000)
      .select("t").as[Long].collect().toSeq == Seq(11L))
    // delete on an empty store records nothing
    val empty = side(new BlockStore(
      Files.createTempDirectory("graft-delempty").toString, 1000L))
    empty.delete(spark, 0, 100, graft.matchers.Eq("a", "b"))
    assert(empty.manifest.tombstones.isEmpty)
  }

  bothGates("delete clamps per SERIES: an append beyond one series' old max " +
    "survives even inside the store-wide range (head.go:972-977)") { side =>
    // Reference semantics: Head.Delete clamps each matched series to its
    // own [minTime, maxTime], not just the store's. Pre-r7 this was a
    // documented divergence (store-level only); the bounds now ride the
    // block dictionaries.
    import spark.implicits._
    val store = side(new BlockStore(
      Files.createTempDirectory("graft-delseries").toString, 1000L))
    def rows(key: String, ts: Seq[Long]): DataFrame =
      ts.map(i => (key, i, i * 1.0, i, Map("job" -> "x", "inst" -> key)))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    store.write(rows("a", 0L until 10L).unionByName(rows("b", 0L until 5L)))
    store.delete(spark, 0, 10000, graft.matchers.Eq("job", "x"))
    // each series' tombstone is clamped to ITS extent
    val tombs = store.manifest.tombstones.map(t => t.seriesKey -> (t.mint, t.maxt)).toMap
    assert(tombs("a") == ((0L, 9L)), tombs)
    assert(tombs("b") == ((0L, 4L)), tombs)
    // b resumes at t=6: inside the store-wide [0,9] (the pre-r7 clamp
    // would delete it) but beyond b's own old max — must survive
    store.write(rows("b", Seq(6L)))
    assert(store.readRange(spark, 0, 100000)
      .select("series_key", "t").as[(String, Long)].collect().toSeq == Seq(("b", 6L)))
    // ...and survives the physical rewrite too
    store.cleanTombstones(spark)
    assert(store.readRange(spark, 0, 100000)
      .select("series_key", "t").as[(String, Long)].collect().toSeq == Seq(("b", 6L)))
  }

  bothGates("delete interval table: unions, beyond-range clamp, full deletion " +
    "(TestDeleteSimple db_test.go:242-346)") { side =>
    import spark.implicits._
    val cases = Seq(
      Seq((0L, 3L)) -> Seq(4L, 5L, 6L, 7L, 8L, 9L),
      Seq((1L, 3L)) -> Seq(0L, 4L, 5L, 6L, 7L, 8L, 9L),
      Seq((1L, 3L), (4L, 7L)) -> Seq(0L, 8L, 9L),
      Seq((1L, 3L), (4L, 700L)) -> Seq(0L),
      Seq((0L, 9L)) -> Seq.empty[Long])
    for ((ivs, remain) <- cases) {
      val store = side(new BlockStore(
        Files.createTempDirectory("graft-delsimple").toString, 1000L))
      val rows = (0L until 10L).map(i =>
        ("s", i, i * 1.5, i, Map("a" -> "b")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
      store.write(rows)
      for ((lo, hi) <- ivs)
        store.delete(spark, lo, hi, graft.matchers.Eq("a", "b"))
      val got = store.readRange(spark, 0, 9)
        .select("t").as[Long].collect().sorted.toSeq
      assert(got == remain, s"intervals=$ivs")
      // deletes survive physical compaction identically (db_test.go:318)
      val plan = store.planCompaction(BlockStore.exponentialRanges(2000L, 3))
      store.compact(spark, plan)
      val afterCompact = store.readRange(spark, 0, 9)
        .select("t").as[Long].collect().sorted.toSeq
      assert(afterCompact == remain, s"post-compact intervals=$ivs")
      if (remain.isEmpty) {
        // TestNoEmptyBlocks (db_test.go:1550): force-compacting the
        // fully-deleted store publishes NO empty block — and the block
        // id high-water still advances (ids are never reused)
        val ids = store.manifest.blocks.map(_.blockId)
        val before = store.manifest.highWater
        if (ids.nonEmpty) {
          assert(store.compact(spark, ids).isEmpty)
          assert(store.manifest.highWater > before)
        }
        assert(store.manifest.blocks.isEmpty)
      }
    }
  }

  test("cleanTombstones rewrites only tombstone-carrying blocks, preserves " +
    "boundaries, clears the manifest (TestTombstoneClean db_test.go:875-969)") {
    import spark.implicits._
    val store = new BlockStore(
      Files.createTempDirectory("graft-cleantombs").toString, 1000L)
    def rows(ts: Seq[Long]): DataFrame =
      ts.map(i => ("s", i, i * 1.0, i, Map("a" -> "b")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    store.write(rows(0L until 10L))     // block 1
    store.write(rows(100L until 110L))  // block 2
    store.write(rows(200L until 210L))  // block 3 — never touched
    // one delete spanning blocks 1 AND 2: the interval must still leave
    // the manifest after the per-block rewrites (compact()'s own
    // retention check alone would keep it — it time-overlaps the fresh
    // rewrites)
    store.delete(spark, 4, 103, graft.matchers.Eq("a", "b"))
    assert(store.manifest.blocks.count(_.numTombstones > 0) == 2)
    val newIds = store.cleanTombstones(spark)
    assert(newIds.size == 2) // blocks 1, 2 rewritten; block 3 untouched
    val st = store.manifest
    assert(st.tombstones.isEmpty && st.tombstoneFiles.isEmpty)
    assert(st.blocks.forall(_.numTombstones == 0))
    // boundaries preserved: still three blocks, block 3 kept by id
    assert(st.blocks.size == 3)
    assert(st.blocks.map(_.blockId).contains(3L))
    assert(store.readRange(spark, 0, 1000)
      .select("t").as[Long].collect().sorted.toSeq ==
      ((0L to 3L) ++ (104L to 109L) ++ (200L to 209L)))
    // idempotent: a second clean rewrites nothing
    assert(store.cleanTombstones(spark).isEmpty)
    assert(store.manifest.blocks.map(_.blockId).toSet ==
      st.blocks.map(_.blockId).toSet)
    // a fully-deleted block vanishes instead of being rewritten empty
    store.delete(spark, 104, 109, graft.matchers.Eq("a", "b"))
    store.cleanTombstones(spark)
    assert(store.manifest.blocks.size == 2)
    assert(store.manifest.tombstones.isEmpty)
    assert(store.readRange(spark, 0, 1000)
      .select("t").as[Long].collect().sorted.toSeq ==
      ((0L to 3L) ++ (200L to 209L)))
  }

  bothGates("a labelled read at a state taken before cleanTombstones answers from that " +
    "state: its tombstones, its blocks, its label maps") { side =>
    import spark.implicits._
    val store = side(new BlockStore(Files.createTempDirectory("graft-onestate").toString, 1000L))
    def rows(job: String, ts: Seq[Long]): DataFrame =
      ts.map(i => (s"{job=\"$job\"}", i, i * 1.0, i, Map("job" -> job)))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    store.write(Seq("a", "b", "c").map(rows(_, 0L until 10L)).reduce(_ unionByName _))
    store.delete(spark, 0, 9, graft.matchers.Eq("job", "b"))
    store.delete(spark, 0, 3, graft.matchers.Eq("job", "a"))
    val st = store.manifest
    // after the state: c is deleted, and the clean rewrites block 1 into
    // one holding a's 4..9 alone, whose manifest lists no tombstone and
    // whose dictionary lists neither b nor c; no vacuum runs
    store.delete(spark, 0, 9, graft.matchers.Eq("job", "c"))
    store.cleanTombstones(spark)
    assert(store.manifest.blocks.map(_.blockId) == Seq(2L) && store.manifest.tombstones.isEmpty)
    val got = store.readAt(spark, st, 0, 1000, withLabels = true, Seq(graft.matchers.Re("job", ".+")))
      .select("series_key", "t", "labels").as[(String, Long, Map[String, String])].collect()
    // st's tombstones hide b and a's 0..3; c, live at st, keeps every
    // sample, and every row carries the label map st's dictionaries give it
    assert(got.map(r => (r._1, r._2)).sorted.toSeq ==
      (4L until 10L).map("{job=\"a\"}" -> _) ++ (0L until 10L).map("{job=\"c\"}" -> _))
    assert(got.forall(r => r._3 == Map("job" -> r._1.stripPrefix("{job=\"").stripSuffix("\"}"))))
  }

  test("labelNames unions blocks with later writes, sorted distinct " +
    "(TestDB_LabelNames db_test.go:1655-1753)") {
    import spark.implicits._
    val cases = Seq(
      (Seq("name1" -> "1", "name3" -> "3", "name2" -> "2"),
        Seq("name4" -> "4", "name1" -> "1"),
        Seq("name1", "name2", "name3"),
        Seq("name1", "name2", "name3", "name4")),
      (Seq("name2" -> "2", "name1" -> "1", "name2" -> "2"),
        Seq("name6" -> "6", "name0" -> "0"),
        Seq("name1", "name2"),
        Seq("name0", "name1", "name2", "name6")))
    for ((ls1, ls2, exp1, exp2) <- cases) {
      val store = new BlockStore(
        Files.createTempDirectory("graft-labelnames").toString, 1000L)
      def rows(ls: Seq[(String, String)], t0: Long): DataFrame =
        ls.zipWithIndex.map { case ((n, v), i) =>
          (s"""{$n="$v"}""", t0 + i, 0.0, t0 + i, Map(n -> v)) }
          .toDF("series_key", "t", "v", "sample_id", "labels")
      store.write(rows(ls1, 0L))
      assert(store.labelNames(spark).as[String].collect().toSeq == exp1)
      // compaction preserves the name set
      store.compact(spark, store.manifest.blocks.map(_.blockId))
      assert(store.labelNames(spark).as[String].collect().toSeq == exp1)
      // a later write with new names: the union, still sorted distinct
      store.write(rows(ls2, 100L))
      assert(store.labelNames(spark).as[String].collect().toSeq == exp2)
    }
  }

  test("uncommitted txn samples survive a head truncation " +
    "(TestUncommittedSamplesNotLostOnTruncate head_test.go:976-1002)") {
    import spark.implicits._
    val store = new BlockStore(
      Files.createTempDirectory("graft-uncommitted").toString, 1000L)
    val txn = graft.ingest.Appender.txn(store, minValidTime = 0)
      .add(Seq(("""{a="1"}""", 2100L, 1.0, 0L, Map("a" -> "1")))
        .toDF("series_key", "t", "v", "arrival", "labels"))
    // head truncation between add and commit must not lose the staged
    // sample (it lives in the txn, not the head)
    store.truncateHead()
    assert(txn.commit().nonEmpty)
    val got = store.readRange(spark, 1500, 2500, graft.matchers.Eq("a", "1"))
      .select("t").as[Long].collect().toSeq
    assert(got == Seq(2100L))
  }

  test("per-block tombstone counters track coalesced deletes " +
    "(TestCorrectNumTombstones db_test.go:1755-1791)") {
    import spark.implicits._
    val store = new BlockStore(
      Files.createTempDirectory("graft-numtombs").toString, 1000L)
    def rows(ts: Seq[Long]): DataFrame =
      ts.map(i => ("s", i, 0.0, i, Map("foo" -> "bar")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    (0L until 3L).foreach(i => store.write(rows((0L until 15L).map(i * 1000L + _))))
    store.compact(spark, store.manifest.blocks.map(_.blockId))
    assert(store.manifest.blocks.size == 1)
    val m = graft.matchers.Eq("foo", "bar")
    store.delete(spark, 0, 1, m)
    assert(store.manifest.blocks.head.numTombstones == 1)
    // {0,1} and {2,3} are adjacent: they merge to ONE tombstone
    store.delete(spark, 2, 3, m)
    assert(store.manifest.blocks.head.numTombstones == 1)
    store.delete(spark, 5, 6, m)
    assert(store.manifest.blocks.head.numTombstones == 2)
    store.delete(spark, 9, 11, m)
    assert(store.manifest.blocks.head.numTombstones == 3)
  }

  test("a failed cleanTombstones leaves the visible store untouched " +
    "(TestTombstoneCleanFail db_test.go:975-1013)") {
    import spark.implicits._
    val store = new BlockStore(
      Files.createTempDirectory("graft-cleanfail").toString, 1000L)
    val rows = (0L until 10L).map(i => ("s", i, i * 1.0, i, Map("a" -> "b")))
      .toDF("series_key", "t", "v", "sample_id", "labels")
    store.write(rows)
    store.delete(spark, 2, 5, graft.matchers.Eq("a", "b"))
    val before = store.manifest
    val versionBefore = Manifest.currentVersion(store.root)
    val preClean = store.readRange(spark, 0, 100)
      .select("t").as[Long].collect().sorted.toSeq
    // inject a failure LATE in the rewrite — after the data write, at
    // the dictionary merge — by planting a garbage parquet in the
    // block's dict dir; publish must never happen
    val garbage = java.nio.file.Paths.get(
      store.dictDir, "block_id=1", "zzz-corrupt.parquet")
    Files.write(garbage, "not a parquet file".getBytes)
    intercept[Exception] { store.cleanTombstones(spark) }
    // the manifest never advanced: same version, same blocks, the
    // tombstones still pending; the half-written rewrite is invisible
    assert(Manifest.currentVersion(store.root) == versionBefore)
    assert(store.manifest.blocks.map(_.blockId) == before.blocks.map(_.blockId))
    assert(store.manifest.tombstones == before.tombstones)
    assert(store.readRange(spark, 0, 100)
      .select("t").as[Long].collect().sorted.toSeq == preClean)
    // operator repairs the corruption; the retry succeeds cleanly
    Files.delete(garbage)
    assert(store.cleanTombstones(spark).size == 1)
    assert(store.manifest.tombstones.isEmpty)
    assert(store.readRange(spark, 0, 100)
      .select("t").as[Long].collect().sorted.toSeq == preClean)
  }

  test("compact merges overlapping blocks, applies deletes physically, swaps atomically") {
    val store = freshStore()
    store.write(samples)
    val lo = T0 + 7 * DAY
    val hi = T0 + 11 * DAY - 1
    store.write(samples.where(col("t").between(lo, hi)).withColumn("v", col("v") + 100))
    store.delete(spark, T0 + 2 * DAY, T0 + 5 * DAY, graft.matchers.Eq("name", "click"))
    val before = store.readRange(spark, T0, T0 + 40 * DAY)
      .orderBy("series_key", "t").collect()

    val plan = store.planCompaction(BlockStore.exponentialRanges(7 * DAY, 3))
    assert(plan == Seq(1L, 2L)) // the overlapping pair
    val versionBefore = Manifest.currentVersion(store.root)
    assert(store.compact(spark, plan).contains(3L))
    assert(Manifest.currentVersion(store.root) == versionBefore + 1)

    val st = store.manifest
    assert(st.blocks.map(_.blockId) == Seq(3L))
    assert(st.tombstones.isEmpty) // fully applied -> cleaned
    val after = store.readRange(spark, T0, T0 + 40 * DAY)
      .orderBy("series_key", "t").collect()
    assert(after.sameElements(before)) // unchanged by compaction
    // vacuum reclaims the retired block dirs
    store.vacuum()
    val dirs = new java.io.File(store.dataDir).listFiles().map(_.getName).toSet
    assert(dirs == Set("block_id=3"))
  }

  test("readRange vertical dedup consumes the bucketed scan with no exchange") {
    val store = freshStore()
    store.write(samples)
    store.write(samples.where(col("t").between(T0 + 7 * DAY, T0 + 11 * DAY - 1))
      .withColumn("v", col("v") + 100))
    val got = store.readRange(spark, T0, T0 + 40 * DAY)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    // overlap engaged the dedup aggregate, and the bucketed scan feeds
    // it directly — the layout's whole point. Since r12 the pick is
    // ArgPick (flat primitive buffer slots), so the aggregate must be
    // a HashAggregate pair, not the partial SortAggregate the old
    // max_by(struct) buffer forced.
    assert(plan.contains("arg_pick_max"), plan.take(3000))
    assert(!plan.contains("SortAggregate"), plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(got.count() == samples.count())
  }

  test("blockRecency plans and dedups over a ~2,000-block manifest") {
    // A store whose compaction lags by thousands of blocks (long
    // retention, slow maintenance) still has to rank the manifest: the
    // rank must be ONE map-literal probe per row, not an O(#blocks)-deep
    // CASE tree that stops planning/codegenning past a few hundred
    // entries. Synthetic metas exercise the real recency expression
    // without writing 2,000 parquet blocks.
    import spark.implicits._
    val store = freshStore()
    val n = 2000
    val metas = (1 to n).map { i =>
      // interleave mints so rank != block_id order: even ids get early
      // mints, odd ids late — rank by (mint, blockId) per db.go:386-388
      BlockMeta(i.toLong, mint = (if (i % 2 == 0) i else n + i).toLong,
        maxt = (2L * n) + i, numSamples = 1, numSeries = 1,
        numTombstones = 0, bytes = 1)
    }
    val expectedRank = metas.sortBy(b => (b.mint, b.blockId))
      .map(_.blockId).zipWithIndex.toMap
    // every block contributes the same (series_key, t) — the winner must
    // be the block with the greatest (mint, blockId), i.e. max rank
    val winner = expectedRank.maxBy(_._2)._1
    val dupes = (1 to n).toSeq.map(i => (i.toLong, "s1", 100L, i.toDouble, i.toLong))
      .toDF("sample_id", "series_key", "t", "v", "block_id")
    val deduped = Merge.dedupLatest(dupes, store.blockRecency(metas), col("sample_id"))
    val Array(row) = deduped.select("block_id", "v").collect()
    assert(row.getLong(0) == winner)
    // rank expression itself: spot-check a handful against the closed form
    val ranks = dupes.select(col("block_id"),
        store.blockRecency(metas).as("rank"))
      .as[(Long, Int)].collect().toMap
    for (id <- Seq(1L, 2L, 999L, 1000L, 1999L, 2000L))
      assert(ranks(id) == expectedRank(id), s"block $id")
  }

  test("blocks published by another driver become visible without a new session") {
    val store = freshStore()
    store.write(samples.where(col("t") < T0 + 10 * DAY))
    assert(store.readRange(spark, T0, T0 + 40 * DAY).count() > 0)
    val v1 = Manifest.currentVersion(store.root)
    // Write block 2 through the normal path so the on-disk state (bucketed
    // files + manifest) is exactly what a second driver's publish produces...
    store.write(samples.where(col("t") >= T0 + 10 * DAY))
    // ...then rewind THIS JVM's catalog to what it knew before the foreign
    // publish: drop block 2's partitions (external table — files stay) and
    // reset the synced-version mark. This is the state a long-lived reader
    // is in after another process publishes.
    val parts = spark.sql(s"SHOW PARTITIONS ${store.tableName}").collect()
      .map(_.getString(0)).filter(_.startsWith("block_id=2/"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val spec = p.split('/').map { kv =>
        val Array(k, v) = kv.split('='); s"$k='$v'"
      }.mkString(", ")
      spark.sql(s"ALTER TABLE ${store.tableName} DROP PARTITION ($spec)")
    }
    spark.catalog.refreshTable(store.tableName)
    BlockStore.syncedVersions.put(store.tableName, v1)
    // the stale reader must notice the manifest advanced and re-sync
    assert(store.readRange(spark, T0, T0 + 40 * DAY).count() == samples.count())
  }

  test("rebucket compacts into a new store at a new W: rows identical, plan property holds") {
    val store = new BlockStore(
      Files.createTempDirectory("graft-rebucket-src").toString, 7 * DAY, seriesBuckets = 2)
    store.write(samples)
    store.write(samples.where(col("t").between(T0 + 7 * DAY, T0 + 11 * DAY - 1))
      .withColumn("v", col("v") + 100))
    store.delete(spark, T0 + 2 * DAY, T0 + 5 * DAY, graft.matchers.Eq("name", "click"))
    val before = store.readRange(spark, T0, T0 + 40 * DAY)
      .orderBy("series_key", "t", "sample_id").collect()

    val dest = store.rebucket(spark,
      Files.createTempDirectory("graft-rebucket-dst").toString, newBuckets = 8)
    assert(dest.seriesBuckets == 8)
    assert(dest.manifest.blocks.size == 2 &&
      dest.manifest.tombstones == store.manifest.tombstones)
    val got = dest.readRange(spark, T0, T0 + 40 * DAY)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    // tombstones add a broadcast anti-join; the per-series dedup must
    // still ride the bucketed scan with no shuffle
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(got.orderBy("series_key", "t", "sample_id").collect().sameElements(before))
    // label index carried over: matcher reads work in the new store
    assert(dest.labelValues(spark, "name").collect().map(_.getString(0)).toSeq ==
      store.labelValues(spark, "name").collect().map(_.getString(0)).toSeq)
  }

  test("time + size retention are manifest-only (db.go:865-906)") {
    val store = freshStore()
    store.write(samples.where(col("t") < T0 + 10 * DAY))
    store.write(samples.where(col("t") >= T0 + 10 * DAY && col("t") < T0 + 20 * DAY))
    store.write(samples.where(col("t") >= T0 + 20 * DAY))
    // time: keep 14d behind the newest block's maxt -> drops only block 1
    val dropped = store.applyRetention(keepMs = 14 * DAY)
    assert(dropped.map(_.blockId) == Seq(1L))
    assert(store.manifest.blocks.map(_.blockId) == Seq(2L, 3L))
    // size: budget fits only the newest block -> drops block 2
    val newestBytes = store.manifest.blocks.maxBy(_.maxt).bytes
    val dropped2 = store.applyRetention(maxBytes = newestBytes)
    assert(dropped2.map(_.blockId) == Seq(2L))
    assert(store.manifest.blocks.map(_.blockId) == Seq(3L))
  }

  test("retention boundaries: the TestTimeRetention / TestSizeRetention " +
    "tables (db_test.go:1057-1139)") {
    import spark.implicits._
    def rows(mint: Long, maxt: Long): DataFrame =
      (mint to maxt by 100L).map(i => ("s", i, i * 1.0, i, Map("a" -> "b")))
        .toDF("series_key", "t", "v", "sample_id", "labels")
    // TestTimeRetention: blocks (500,900) (1000,1500) (1500,2000),
    // duration = newest.maxt - blocks(1).mint = 1000. Boundary is
    // STRICT: drop iff newest.maxt - maxt > duration, so block 1
    // (2000-1500=500) and block 2's left edge survive; only the oldest
    // (2000-900=1100) goes.
    val t = new BlockStore(
      Files.createTempDirectory("graft-timeret").toString, 10000L)
    t.write(rows(500, 900)); t.write(rows(1000, 1500)); t.write(rows(1500, 2000))
    val droppedT = t.applyRetention(keepMs = 1000L)
    // meta maxt is exclusive (data max + 1), differences are unchanged
    assert(droppedT.map(m => (m.mint, m.maxt)) == Seq((500L, 901L)))
    assert(t.manifest.blocks.map(_.maxt).sorted == Seq(1501L, 2001L))
    // exact-boundary: a block whose age EQUALS the duration is kept
    assert(t.applyRetention(keepMs = 500L).isEmpty)
    // TestSizeRetention: five equal blocks; budget = total - first block
    // drops exactly the oldest (drop order is oldest-first)
    val s = new BlockStore(
      Files.createTempDirectory("graft-sizeret").toString, 10000L)
    for (i <- 0 until 5) s.write(rows(100L + i * 100, 200L + i * 100))
    val metas = s.manifest.blocks
    val limit = metas.map(_.bytes).sum - metas.minBy(_.mint).bytes
    val droppedS = s.applyRetention(maxBytes = limit)
    assert(droppedS.map(_.mint) == Seq(100L))
    assert(s.manifest.blocks.map(_.bytes).sum <= limit)
    assert(s.manifest.blocks.map(_.mint).sorted ==
      Seq(200L, 300L, 400L, 500L))
  }

  test("label dictionary is materialized per block and unioned on read") {
    val store = freshStore()
    store.write(samples)
    val ix = store.residentIndex(spark, store.manifest).get
    val dict = for (n <- ix.labelNames; v <- ix.labelValues(n)) yield (n, v)
    val want = samples.select(explode(col("labels"))).distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(dict.size == want.size && dict.toSet == want)
    assert(dict.count(_._1 == "name") ==
      samples.select(col("labels").getItem("name")).distinct().na.drop().count())
  }

  test("store label metadata queries answer from the index alone (A1/A2)") {
    val store = freshStore()
    store.write(samples)
    assert(store.labelNames(spark).collect().map(_.getString(0)).toSeq ==
      Seq("name", "user", "vip"))
    assert(store.labelValues(spark, "name").collect().map(_.getString(0)).toSeq ==
      Seq("click", "error", "purchase", "signup", "view"))
    assert(store.labelValues(spark, "nope").count() == 0)
  }

  test("readRange with matchers resolves selection in the postings index") {
    val store = freshStore()
    store.write(samples)
    val got = store.readRange(spark, T0, T0 + 40 * DAY, graft.matchers.Eq("name", "click"))
    val want = samples.where(col("series_key").startsWith("{name=\"click\""))
    assert(got.count() == want.count() && got.count() > 0)
    // stored rows are normalized: no labels map on disk
    assert(!store.read(spark).columns.contains("labels"))
  }

  test("snapshot copies live blocks + manifest; readable as a store (db.go:1108-1146)") {
    val store = freshStore()
    store.write(samples.where(col("t") < T0 + 10 * DAY))
    store.write(samples.where(col("t") >= T0 + 10 * DAY))
    store.delete(spark, T0, T0 + DAY, graft.matchers.Eq("name", "error"))
    val dest = Files.createTempDirectory("graft-snap").toString
    store.snapshot(dest)
    val snap = new BlockStore(dest, store.blockRangeMs)
    assert(snap.manifest == store.manifest)
    assert(snap.readRange(spark, T0, T0 + 40 * DAY).count() ==
      store.readRange(spark, T0, T0 + 40 * DAY).count())
  }

  test("a manifest published under one JVM locale loads under another") {
    val root = Files.createTempDirectory("graft-locale").toString
    val state = ManifestState(
      Seq(BlockMeta(7L, T0, T0 + DAY, 10L, 2L, 0L, 123L)),
      Seq(TombstoneInterval("{a=\"1\"}", T0, T0 + 5)))
    Manifest.publish(root, state)
    val saved = java.util.Locale.getDefault
    // Thai digits: a default-locale "%09d" names the version MANIFEST-๐๐๐๐๐๐๐๐๑
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("th-TH-u-nu-thai"))
    try {
      val loaded = Manifest.load(root)
      assert(loaded.blocks == state.blocks && loaded.tombstones == state.tombstones)
      assert(Manifest.publish(root, loaded) == 2L)
    } finally java.util.Locale.setDefault(saved)
    assert(Manifest.load(root).blocks == state.blocks)
    val names = new java.io.File(root, "meta").list().filter(_.startsWith("MANIFEST-")).toSet
    assert(names == Set("MANIFEST-000000001", "MANIFEST-000000002"))
  }

  test("half-written blocks are invisible until published (atomic publication)") {
    val store = freshStore()
    store.write(samples)
    // simulate a crashed writer: orphan dir with junk, never published
    val orphan = new java.io.File(s"${store.dataDir}/block_id=99/t_bucket=0")
    orphan.mkdirs()
    assert(store.read(spark).count() == samples.count())
    assert(store.manifest.blocks.map(_.blockId) == Seq(1L))
  }

  test("matched-series broadcast is gated on manifest series count (index/postings.go:297-368)") {
    // small store (default gate): the keys resolve on the driver and
    // reach the one scan as a literal series_key filter — no dict scan
    val store = freshStore()
    store.write(samples)
    val narrow = store.readRange(spark, T0, T0 + 40 * DAY, graft.matchers.Eq("name", "click"))
    val narrowPlan = narrow.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(narrowPlan).size == 1, narrowPlan.take(2000))
    assert(narrow.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case In(a: Attribute, _) => a.name == "series_key"
      case InSet(a: Attribute, _) => a.name == "series_key"
      case _ => false
    })), narrow.queryExecution.optimizedPlan.toString.take(2000))
    // a store whose manifest says the worst case can't be broadcast:
    // no hint — a broad matcher (Re ".*" selects every series) must not
    // force a driver-side build; AQE decides from runtime sizes
    val big = new BlockStore(store.root, store.blockRangeMs, broadcastLimit = 0L)
    val broad = big.readRange(spark, T0, T0 + 40 * DAY, graft.matchers.Re("name", ".*"))
    assert(!broad.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      broad.queryExecution.optimizedPlan.toString.take(2000))
    // both paths return identical results
    assert(broad.count() ==
      store.readRange(spark, T0, T0 + 40 * DAY, graft.matchers.Re("name", ".*")).count())
  }

  bothGates("wide deletes spill to a parquet side table; narrow ones stay inline") { side =>
    val store = side(new BlockStore(
      Files.createTempDirectory("graft-spill").toString, 7 * DAY,
      tombstoneSpillThreshold = 3))
    store.write(samples)
    val nSeries = store.manifest.blocks.head.numSeries
    val lo = T0 + 2 * DAY
    val hi = T0 + 5 * DAY
    // matches every series (>> threshold 3): must spill, never inline.
    // Re(".*") matches "" too, so the phantom label-less series "{}"
    // gets one (harmless, filters-nothing) interval as well: +1. r7's
    // per-series clamp drops matched series whose own [s_mint, s_maxt]
    // misses the request entirely (the reference's `continue`), so the
    // spilled count is the INTERSECTING series, not all of them.
    store.delete(spark, lo, hi, graft.matchers.Re("name", ".*"))
    val st = store.manifest
    assert(st.tombstones.isEmpty)
    val intersecting = samples.groupBy("series_key")
      .agg(min("t").as("lo_t"), max("t").as("hi_t"))
      .where(col("hi_t") >= lo && col("lo_t") <= hi).count()
    assert(intersecting > 3 && intersecting < nSeries) // clamp really bit
    assert(st.tombstoneFiles.map(f => (f.mint, f.maxt, f.count)) ==
      Seq((lo, hi, intersecting + 1)))
    assert(st.blocks.head.numTombstones == intersecting + 1)
    // reads apply the spilled intervals exactly like inline ones
    val got = store.readRange(spark, T0, T0 + 40 * DAY)
    assert(got.count() == samples.where(!col("t").between(lo, hi)).count())
    assert(got.where(col("t").between(lo, hi)).count() == 0)
    // compaction applies them physically and retires the side table
    store.compact(spark, st.blocks.map(_.blockId))
    assert(store.manifest.tombstoneFiles.isEmpty)
    assert(store.readRange(spark, T0, T0 + 40 * DAY).count() ==
      samples.where(!col("t").between(lo, hi)).count())
    store.vacuum()
    assert(Option(new java.io.File(store.tombsDir).listFiles()).getOrElse(Array()).isEmpty)
    // side-table ids share the block id space: the next block skips past
    assert(store.manifest.blocks.map(_.blockId) == Seq(3L))
  }

  test("matches-empty matchers select the label-less series (db_test.go:1165)") {
    import spark.implicits._
    val store = freshStore()
    val rows = Seq(
      ("{a=\"1\"}", Map("a" -> "1"), 1L, 100L, 1.0),
      ("{a=\"1\"}", Map("a" -> "1"), 2L, 200L, 1.5),
      ("{}", Map.empty[String, String], 3L, 100L, 2.0)) // label-less series
      .toDF("series_key", "labels", "sample_id", "t", "v")
    store.write(rows)
    def keysOf(ms: graft.matchers.Matcher*): Set[String] =
      store.readRange(spark, 0, 1000, ms: _*)
        .select("series_key").distinct().as[String].collect().toSet
    // != selects series where the label is unset — including "{}"
    assert(keysOf(graft.matchers.Not(graft.matchers.Eq("a", "1"))) == Set("{}"))
    // empty-value equality means "label absent"
    assert(keysOf(graft.matchers.Eq("a", "")) == Set("{}"))
    // and the positive matcher still excludes it
    assert(keysOf(graft.matchers.Eq("a", "1")) == Set("{a=\"1\"}"))
    // delete through a matches-empty matcher hits the label-less series
    store.delete(spark, 0, 1000, graft.matchers.Not(graft.matchers.Eq("a", "1")))
    assert(store.readRange(spark, 0, 1000).select("series_key").as[String]
      .collect().toSet == Set("{a=\"1\"}"))
  }

  test("snapshot carries spilled tombstone side tables") {
    val store = new BlockStore(
      Files.createTempDirectory("graft-spill-snap").toString, 7 * DAY,
      tombstoneSpillThreshold = 0)
    store.write(samples)
    store.delete(spark, T0, T0 + DAY, graft.matchers.Eq("name", "error"))
    assert(store.manifest.tombstoneFiles.nonEmpty)
    val dest = Files.createTempDirectory("graft-spill-snap-dest").toString
    store.snapshot(dest)
    val snap = new BlockStore(dest, store.blockRangeMs)
    assert(snap.manifest == store.manifest)
    assert(snap.readRange(spark, T0, T0 + 40 * DAY).count() ==
      store.readRange(spark, T0, T0 + 40 * DAY).count())
  }

  test("a corrupted block data file fails reads loudly, never silently drops rows " +
    "(TestCorruptedChunk block_test.go:87-135)") {
    import spark.implicits._
    val store = freshStore()
    val rows = Seq(
      ("{a=\"1\"}", Map("a" -> "1"), 1L, 100L, 1.0),
      ("{a=\"2\"}", Map("a" -> "2"), 2L, 200L, 2.0))
      .toDF("series_key", "labels", "sample_id", "t", "v")
    store.write(rows)
    assert(store.readRange(spark, 0, 1000).count() == 2)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val files = parquetFiles(new java.io.File(store.dataDir))
    assert(files.nonEmpty)
    // zero the footer magic of one published data file — the analogue of
    // the reference's truncated / zeroed chunk segment table
    val raf = new java.io.RandomAccessFile(files.head, "rw")
    try { raf.seek(raf.length() - 4); raf.write(Array[Byte](0, 0, 0, 0)) }
    finally raf.close()
    // ignoreCorruptFiles defaults false: the read must throw, not return
    // a subset (the reference returns "invalid magic number" from open)
    val e = intercept[Exception] { store.readRange(spark, 0, 1000).count() }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n").toLowerCase
    assert(chain.contains("parquet") || chain.contains("footer"), chain.take(500))
    // the failure is read-side only: the manifest still lists the block
    assert(store.manifest.blocks.map(_.numSamples).sum == 2L)
  }

  bothGates("deletes that touch no samples succeed as no-ops " +
    "(TestHeadDeleteSeriesWithoutSamples head_test.go:325-360)") { side =>
    import spark.implicits._
    val store = side(freshStore())
    val rows = Seq(
      ("{a=\"2\"}", Map("a" -> "2"), 50L, 80L, 1.0),
      ("{a=\"2\"}", Map("a" -> "2"), 51L, 90L, 1.0))
      .toDF("series_key", "labels", "sample_id", "t", "v")
    store.write(rows)
    // a matcher matching no series at all
    store.delete(spark, 0, 100, graft.matchers.Eq("a", "1"))
    // a live series, but the requested range clamps to before its samples
    // (store range is [80, 90]; [0, 50] inverts after the clamp)
    store.delete(spark, 0, 50, graft.matchers.Eq("a", "2"))
    assert(store.readRange(spark, 0, 100).count() == 2)
    assert(store.manifest.tombstones.isEmpty && store.manifest.tombstoneFiles.isEmpty)
  }

  test("an empty-valued label is ignored for series identity AND the label index " +
    "(TestAppendEmptyLabelsIgnored db_test.go:219-241, head.go:832-833)") {
    import spark.implicits._
    val in = Seq(
      (Map("a" -> "b"), 123L, 0.0, 1L),
      (Map("a" -> "b", "c" -> ""), 124L, 0.0, 2L))
      .toDF("labels", "t", "v", "sample_id")
      .select(graft.functions.seriesKey(col("labels")).as("series_key"),
        col("labels"), col("sample_id"), col("t"), col("v"))
    val store = freshStore()
    store.write(in)
    // same series: the reference returns the same ref for both appends
    val Seq(meta) = store.manifest.blocks
    assert(meta.numSeries == 1L)
    assert(store.readRange(spark, 0, 1000).select("series_key").distinct()
      .as[String].collect().toSeq == Seq("{a=\"b\"}"))
    // and the postings index never learns the stripped label
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("a"))
  }
}

class AppenderSpec extends SparkSuite {
  import spark.implicits._
  import graft.ingest.Appender

  def batch(rows: (String, Long, Double, Long)*): DataFrame =
    rows.toDF("series_key", "t", "v", "arrival")

  def statuses(df: DataFrame): Seq[String] =
    df.orderBy("arrival").select("status").as[String].collect().toSeq

  test("in-order appends are ok; regressions are out_of_order (head.go:1680-1699)") {
    val got = statuses(Appender.validate(
      batch(("s", 10, 1.0, 1), ("s", 20, 2.0, 2), ("s", 15, 3.0, 3), ("s", 30, 4.0, 4)),
      minValidTime = 0))
    assert(got == Seq("ok", "ok", "out_of_order", "ok"))
  }

  test("amend: same t same v ok; same t different v rejected (db_test.go:348-398)") {
    val got = statuses(Appender.validate(
      batch(("s", 10, 1.0, 1), ("s", 10, 1.0, 2), ("s", 10, 2.0, 3)),
      minValidTime = 0))
    assert(got == Seq("ok", "ok", "amend"))
  }

  test("a rejected amend never becomes the comparison value: re-appending it " +
    "is rejected again (head.go:1680-1699 — rejected adds don't update state)") {
    val got = statuses(Appender.validate(
      batch(("s", 10, 1.0, 1), ("s", 10, 2.0, 2), ("s", 10, 2.0, 3)),
      minValidTime = 0))
    // the valid value at t=10 stays 1.0; both 2.0 appends are amends
    assert(got == Seq("ok", "amend", "amend"))
  }

  test("invalid values are skipped, valid ones in the same txn commit " +
    "(TestSkippingInvalidValuesInSameTxn db_test.go:399-441)") {
    val root = java.nio.file.Files.createTempDirectory("graft-txn-skip").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    // txn 1: amend in the same txn — first value wins, second skipped
    Appender.txn(store, minValidTime = 0)
      .add(labelled(
        ("s", 0, 1.0, 1, Map("a" -> "b")),
        ("s", 0, 2.0, 2, Map("a" -> "b"))))
      .commit()
    assert(store.readRange(spark, 0, 10).select("t", "v").as[(Long, Double)]
      .collect().toSeq.sorted == Seq((0L, 1.0)))
    // txn 2: out-of-order in the same txn — skipped, the rest commits
    Appender.txn(store, minValidTime = 0)
      .add(labelled(
        ("s", 10, 3.0, 1, Map("a" -> "b")),
        ("s", 7, 5.0, 2, Map("a" -> "b"))))
      .commit()
    assert(store.readRange(spark, 0, 10).select("t", "v").as[(Long, Double)]
      .collect().toSeq.sorted == Seq((0L, 1.0), (10L, 3.0)))
  }

  test("NaN re-append is idempotent (db_test.go:366)") {
    val nan = Double.NaN
    val got = statuses(Appender.validate(
      batch(("s", 10, nan, 1), ("s", 10, nan, 2)), minValidTime = 0))
    assert(got == Seq("ok", "ok"))
  }

  test("out_of_bounds below minValidTime (head.go:827-830)") {
    val got = statuses(Appender.validate(
      batch(("s", 5, 1.0, 1), ("s", 50, 2.0, 2)), minValidTime = 10))
    assert(got == Seq("out_of_bounds", "ok"))
  }

  test("series are independent") {
    val got = Appender.validate(
      batch(("a", 10, 1.0, 1), ("b", 5, 1.0, 2), ("a", 5, 1.0, 3)),
      minValidTime = 0)
    assert(got.where($"series_key" === "b").select("status").as[String].head() == "ok")
  }

  def labelled(rows: (String, Long, Double, Long, Map[String, String])*): DataFrame =
    rows.toDF("series_key", "t", "v", "arrival", "labels")

  test("txn commit publishes accepted samples, rejects the rest " +
    "(db.go:89-99; TestDataAvailableOnlyAfterCommit db_test.go:112)") {
    val root = java.nio.file.Files.createTempDirectory("graft-txn-commit").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    val id = Appender.txn(store, minValidTime = 0)
      .add(labelled(
        ("a", 100, 1.0, 1, Map("n" -> "a")),
        ("a", 50, 9.0, 2, Map("n" -> "a")), // regression: rejected
        ("b", 200, 2.0, 3, Map("n" -> "b"))))
      .commit()
    assert(id.nonEmpty)
    assert(store.readRange(spark, 0, 5000).select("t").as[Long].collect().sorted.toSeq ==
      Seq(100L, 200L))
  }

  test("txn rollback keeps created series, drops samples " +
    "(db.go:100-112; TestDataNotAvailableAfterRollback db_test.go:141)") {
    val root = java.nio.file.Files.createTempDirectory("graft-txn-rb").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    store.write(labelled(("a", 100, 1.0, 1, Map("name" -> "cpu", "host" -> "h1")))
      .withColumnRenamed("arrival", "sample_id"))

    val txn = Appender.txn(store, minValidTime = 0)
      .add(labelled(("b", 300, 2.0, 2, Map("name" -> "mem", "host" -> "h2"))))
    txn.rollback()

    // the rolled-back series is visible to label metadata + matchers...
    assert(store.labelValues(spark, "name").as[String].collect().toSeq == Seq("cpu", "mem"))
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("host", "name"))
    // ...but contributes no samples
    assert(store.readRange(spark, 0, 5000, graft.matchers.Eq("name", "mem")).count() == 0)
    assert(store.readRange(spark, 0, 5000).count() == 1)
    // a later real append of the same series absorbs the registration
    Appender.txn(store, minValidTime = 0)
      .add(labelled(("b", 300, 2.0, 2, Map("name" -> "mem", "host" -> "h2"))))
      .commit()
    assert(store.readRange(spark, 0, 5000, graft.matchers.Eq("name", "mem"))
      .select("t").as[Long].collect().toSeq == Seq(300L))
    assert(store.postingsIndex(spark).where($"series_key" === "b").count() == 2)
    // double-close is refused
    assertThrows[IllegalArgumentException](txn.rollback())

    // head truncation GCs sample-less registrations (head.go:1036-1097):
    // a rolled-back-only series vanishes; block-backed series keep
    // answering from their block index
    Appender.txn(store, minValidTime = 0)
      .add(labelled(("c", 400, 3.0, 3, Map("name" -> "disk")))).rollback()
    assert(store.labelValues(spark, "name").as[String].collect().toSeq ==
      Seq("cpu", "disk", "mem"))
    store.truncateHead()
    assert(store.labelValues(spark, "name").as[String].collect().toSeq ==
      Seq("cpu", "mem"))
  }

  test("a store whose only activity is a rolled-back txn answers label queries " +
    "from the head dictionary (db.go:100-112: fresh DB after Rollback)") {
    val root = java.nio.file.Files.createTempDirectory("graft-headonly").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    Appender.txn(store, minValidTime = 0)
      .add(labelled(("x", 100, 1.0, 1, Map("name" -> "cpu", "host" -> "h9"))))
      .rollback()
    // no published blocks — the postings index serves from the head dict
    assert(store.manifest.blocks.isEmpty)
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("host", "name"))
    assert(store.labelValues(spark, "name").as[String].collect().toSeq == Seq("cpu"))
    // reads answer empty, not an error (a fresh reference DB's Querier)
    assert(store.readRange(spark, 0, 5000).count() == 0)
    assert(store.readRange(spark, 0, 5000, graft.matchers.Eq("name", "cpu")).count() == 0)
    // addRef resolves against the head-registered series instead of
    // failing with "no published blocks"
    val id = Appender.txn(store, minValidTime = 0)
      .addRef(batch(("x", 200, 2.0, 1)))
      .commit()
    assert(id.nonEmpty)
    assert(store.readRange(spark, 0, 5000, graft.matchers.Eq("name", "cpu")).count() == 1)
  }

  test("txn commit with nothing acceptable is a no-op (empty commit)") {
    val root = java.nio.file.Files.createTempDirectory("graft-txn-empty").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    val id = Appender.txn(store, minValidTime = 1000)
      .add(labelled(("a", 100, 1.0, 1, Map("n" -> "a")))) // out_of_bounds
      .commit()
    assert(id.isEmpty)
    assert(store.manifest.blocks.isEmpty)
    assert(Appender.txn(store).commit().isEmpty) // nothing staged at all
  }
}
