package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

import graft.matchers.{Eq, Matcher}

/** The reference-user migration path: every `db.go` call site through
  * the [[Db]] facade, one lifecycle end to end. */
class DbSpec extends SparkSuite {
  import spark.implicits._

  private def batch(rows: (String, Long, Double, Long, Map[String, String])*): DataFrame =
    rows.toDF("series_key", "t", "v", "arrival", "labels")

  test("open -> append -> query -> delete -> maintain -> snapshot lifecycle") {
    val root = Files.createTempDirectory("graft-db").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))

    // two committed txns -> two overlapping blocks in one range
    db.appender(minValidTime = 0).add(batch(
      ("a", 100, 1.0, 1, Map("name" -> "cpu", "host" -> "h1")),
      ("b", 200, 2.0, 2, Map("name" -> "mem", "host" -> "h2")))).commit()
    // the h3 series uses its CANONICAL key (what seriesKey() derives)
    // so the by-labels point lookup below can address it
    val cKey = model.Labels("name" -> "cpu", "host" -> "h3").canonical
    db.appender(minValidTime = 0).add(batch(
      ("a", 500, 3.0, 3, Map("name" -> "cpu", "host" -> "h1")),
      (cKey, 150, 4.0, 4, Map("name" -> "cpu", "host" -> "h3")))).commit()
    assert(db.blocks.size == 2) // [100,201) and [150,501): an overlap run

    // matcher query resolves in the index; absent-label rule holds
    assert(db.query(0, 1000, Eq("name", "cpu"))
      .select("t").as[Long].collect().sorted.toSeq == Seq(100L, 150L, 500L))
    // Series.Labels(): the withLabels read re-attaches the full map
    assert(db.query(0, 1000, withLabels = true, Eq("host", "h3"))
      .select("labels").as[Map[String, String]].head() ==
      Map("name" -> "cpu", "host" -> "h3"))
    assert(db.labelNames().as[String].collect().toSeq == Seq("host", "name"))
    assert(db.labelValues("host").as[String].collect().toSeq == Seq("h1", "h2", "h3"))
    // point lookup by FULL label set: the one series, no index touch
    assert(db.seek(Map("name" -> "cpu", "host" -> "h3"), 0, 1000)
      .select("t").as[Long].collect().toSeq == Seq(150L))

    // delete one series' window, then maintenance folds the overlap run
    // and physically drops the tombstoned rows
    db.delete(0, 250, Eq("host", "h2"))
    assert(db.query(0, 1000).count() == 3)
    val compactions = db.maintain()
    assert(compactions >= 1)
    assert(db.blocks.size == 1)
    assert(db.query(0, 1000).count() == 3)
    assert(db.query(0, 1000, Matcher.neq("host", "h1"))
      .select("t").as[Long].collect().toSeq == Seq(150L))
    assert(db.maintain() == 0) // idempotent: nothing left to do

    // snapshot is an openable store with identical answers
    val snap = Files.createTempDirectory("graft-db-snap").toString
    db.snapshot(snap)
    val db2 = Db.open(spark, snap, Db.Options(blockRangeMs = 10000L))
    assert(db2.query(0, 1000).count() == 3)
  }

  test("appender lower bound initializes from the block layer: covered timestamps " +
    "rejected (TestInitializeHeadTimestamp db_test.go:1438, TestBlockRanges db_test.go:2185)") {
    val root = Files.createTempDirectory("graft-db-init").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))

    // empty store: no bound yet — the first appended sample initializes
    // the writable range (the reference's clean-open case)
    assert(db.store.minValidTime == Long.MinValue)
    db.appender().add(batch(
      ("a", 100, 1.0, 1, Map("name" -> "cpu")))).commit()
    // with a block [100, 101): the bound is its exclusive maxt
    assert(db.store.minValidTime == 101L)

    // "appending a sample with a timestamp covered by a previous block
    // shouldn't be possible": t=100 is out of bounds, t=101 is not
    assert(db.appender().add(batch(
      ("a", 100, 9.0, 2, Map("name" -> "cpu")))).commit().isEmpty)
    assert(db.appender().add(batch(
      ("a", 101, 2.0, 3, Map("name" -> "cpu")))).commit().nonEmpty)
    assert(db.query(0, 1000).count() == 2) // the covered re-append never landed

    // the bound follows the mint-ordered LAST block (db.go:514-516): an
    // explicit backfill block with an earlier mint does not lower it
    db.store.write(batch(("b", 50, 5.0, 4, Map("name" -> "mem")))
      .withColumnRenamed("arrival", "sample_id"))
    assert(db.store.minValidTime == 102L)
  }

  test("a second handle on the same root answers identically and its reads mutate " +
    "nothing on disk (TestDBReadOnly db_test.go:2258-2343)") {
    import java.nio.file.{Files => JFiles, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-db-ro").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    db.appender().add(batch(
      ("a", 100, 1.0, 1, Map("name" -> "cpu")),
      ("b", 200, 2.0, 2, Map("name" -> "mem")))).commit()
    db.appender().add(batch(
      ("a", 300, 3.0, 3, Map("name" -> "cpu")))).commit()
    db.delete(0, 150, Eq("name", "cpu"))
    val expBlocks = db.blocks
    val expRows = db.query(0, 100000)
      .select("series_key", "t", "v").as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    // every file under the store root, with size + mtime — the
    // reference's DirHash equality after read-only use
    def dirState(): Set[(String, Long, Long)] = {
      val s = JFiles.walk(Paths.get(root))
      try s.iterator().asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => (p.toString, JFiles.size(p), JFiles.getLastModifiedTime(p).toMillis))
        .toSet
      finally s.close()
    }
    val before = dirState()

    // a second handle on the same root: same blocks, same answers
    val ro = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    assert(ro.blocks == expBlocks, "block meta mismatch")
    val roRows = ro.query(0, 100000)
      .select("series_key", "t", "v").as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(roRows == expRows, "series mismatch")
    assert(ro.labelNames().as[String].collect().toSeq ==
      db.labelNames().as[String].collect().toSeq)
    // after all read operations the store's bytes are untouched
    assert(dirState() == before,
      "read-only use modified files under the store root")
  }

  test("rollback through the facade keeps series, drops samples (db.go:100-112)") {
    val root = Files.createTempDirectory("graft-db-rb").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    db.appender(minValidTime = 0).add(batch(
      ("a", 100, 1.0, 1, Map("name" -> "cpu")))).commit()
    db.appender(minValidTime = 0).add(batch(
      ("b", 200, 2.0, 2, Map("name" -> "mem")))).rollback()
    assert(db.labelValues("name").as[String].collect().toSeq == Seq("cpu", "mem"))
    assert(db.query(0, 1000).count() == 1)
  }

  test("reported block bytes == actual disk size; deletes grow the store, " +
    "compaction shrinks it (TestBlockSize block_test.go:156)") {
    def du(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    }
    val root = Files.createTempDirectory("graft-db-size").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    def rows(t0: Long) = for (s <- 'a' to 'j'; i <- 0 until 10)
      yield (s.toString, t0 + i * 10L, i * 1.0, t0 + i, Map("name" -> s.toString))
    // two overlapping commits (the lifecycle the reference's createBlock
    // + Delete + Compact sequence exercises): an overlap run compaction
    // will fold, applying the tombstones as it rewrites
    db.appender(minValidTime = 0).add(batch(rows(0): _*)).commit()
    db.appender(minValidTime = 0).add(batch(rows(5): _*)).commit()

    // reported size is the actual on-disk size, not an estimate
    val before = db.blocks
    assert(before.size == 2)
    before.foreach(m => assert(m.bytes == du(s"$root/data/block_id=${m.blockId}")))

    // a delete grows what's on disk — the reference grows the block's
    // tombstone file; our tombstones are inline manifest T records (or
    // spilled side tables), so the growth lands in the published
    // manifest version, not the immutable block dir
    val metaBytesBefore = du(s"$root/meta")
    db.delete(0, 49, graft.matchers.Re("name", ".*"))
    assert(du(s"$root/meta") > metaBytesBefore)

    // compaction folds the overlap and drops the tombstoned rows: the
    // replacement block is smaller than its predecessors combined AND
    // its reported bytes still match the disk exactly
    val dataBefore = du(s"$root/data")
    assert(db.maintain() >= 1)
    val Seq(after) = db.blocks
    assert(!before.map(_.blockId).contains(after.blockId))
    assert(after.bytes == du(s"$root/data/block_id=${after.blockId}"))
    assert(after.bytes < before.map(_.bytes).sum,
      s"${after.bytes} !< ${before.map(_.bytes).sum}")
    assert(du(s"$root/data") < dataBefore) // dead predecessor dirs reaped
    assert(db.query(0, 10000).count() == 100)
  }

  test("snapshot with PENDING deletes answers the tombstone-filtered view " +
    "(TestDB_SnapshotWithDelete db_test.go:548)") {
    val root = Files.createTempDirectory("graft-db-snapdel").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    val vals = (0L to 9L).map(t => t -> (t * 1.25 + 0.5)).toMap
    db.appender(minValidTime = 0).add(batch(
      vals.toSeq.map { case (t, v) => ("ab", t, v, t, Map("a" -> "b")) }: _*)).commit()

    // the reference's case: Intervals{{1,3},{4,7}} -> remaining {0, 8, 9}.
    // No maintain() between delete and snapshot: the tombstones are still
    // unapplied interval records, and the snapshot must CARRY them (the
    // reference hard-links tombstone files into the snapshot dir; we
    // publish the manifest state, whose inline T records travel with it).
    db.delete(1, 3, Eq("a", "b"))
    db.delete(4, 7, Eq("a", "b"))
    val snap = Files.createTempDirectory("graft-db-snapdel2").toString
    db.snapshot(snap)

    val db2 = Db.open(spark, snap, Db.Options(blockRangeMs = 10000L))
    val got = db2.query(0, 10, Eq("a", "b"))
      .select("t", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(0L, 8L, 9L).map(t => t -> vals(t)))
    // and the source db answers identically (snapshot changed nothing)
    assert(db.query(0, 10).count() == 3)

    // explicit CleanTombstones (db.go:1234-1261): the pending intervals
    // are applied physically right now, not at the next maintain() tick
    assert(db.cleanTombstones().nonEmpty)
    assert(db.store.manifest.tombstones.isEmpty)
    assert(db.blocks.map(_.numSamples).sum == 3L)
    assert(db.query(0, 10).count() == 3)
  }

  test("promql over the store: the language runs on the label-carrying read path") {
    val root = Files.createTempDirectory("graft-db-promql").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 3600000L))
    val M = 60000L
    // a counter incrementing 10/min for two series
    def key(inst: String) = model.Labels("__name__" -> "req", "inst" -> inst).canonical
    db.appender(minValidTime = 0).add(batch(
      (0 to 10).flatMap(i => Seq(
        (key("0"), i * M, i * 10.0, i * 2L,
          Map("__name__" -> "req", "inst" -> "0")),
        (key("1"), i * M, i * 20.0, i * 2L + 1,
          Map("__name__" -> "req", "inst" -> "1")))): _*)).commit()
    // instant vector at 10m: latest values
    val iv = db.promql("req", 10 * M, 10 * M, M)
    assert(iv.select("v").as[Double].collect().sorted.toSeq == Seq(100.0, 200.0))
    // selector matchers resolve through the index-backed labels
    val sel = db.promql("req{inst=\"1\"}", 10 * M, 10 * M, M)
    assert(sel.select("v").as[Double].head() == 200.0)
    // sum(rate): 10/60 + 20/60 per second over the exactly-linear window
    val sr = db.promql("sum(rate(req[10m]))", 10 * M, 10 * M, M)
    assert(math.abs(sr.select("v").as[Double].head() - 30.0 / 60.0) < 1e-9)
    // @-pinned instant OUTSIDE the window's own lookbehind: the scan
    // bound must widen to the pinned time or the query silently empties
    val pinned = db.promql("req{inst=\"0\"} @ 600", 20 * M, 20 * M, M)
    assert(pinned.select("t", "v").as[(Long, Double)].collect().toSeq ==
      Seq((20 * M, 100.0)))

    // with a registered h channel the eval routes through evalMixed
    val hlbl = Map("__name__" -> "mh")
    val hf = Seq(0L, M, 2 * M).zipWithIndex.map { case (t, k) => (hlbl, t, k) }
      .toDF("labels", "t", "k")
      .withColumn("series_key", graft.functions.seriesKey(col("labels")))
      .withColumn("h", expr(
        "named_struct('schema', 0, 'zt', 0.5D, " +
          "'z_count', cast(k+1 as double), 'count', cast(k+1 as double), " +
          "'sum', cast(k as double), " +
          "'neg', cast(array() as array<struct<i:int,c:double>>), " +
          "'pos', cast(array() as array<struct<i:int,c:double>>))"))
      .select("series_key", "labels", "t", "h")
    db.registerHistograms(hf)
    val hun = db.promql("mh", 2 * M, 2 * M, M)
    assert(hun.where(col("h").isNotNull).count() == 1L)

    // r11 second wave through the serving layer: scalar scale and the
    // == filter comparison route through evalMixed's histogram reading
    val hm2 = db.promql("histogram_count(mh * 2)", 2 * M, 2 * M, M)
    assert(hm2.select("v").as[Double].head() == 6.0)
    val heq = db.promql("histogram_count(mh == mh)", 2 * M, 2 * M, M)
    assert(heq.select("v").as[Double].head() == 3.0)

    // every result is an unordered set, on the float and the histogram
    // channel alike: no global sort on top of any plan (ResultJson
    // orders what it serves)
    Seq(iv, sel, sr, pinned, hun, hm2, heq).foreach { df =>
      val top = df.queryExecution.optimizedPlan.toString.linesIterator.next()
      assert(!top.contains("Sort"), top)
    }
  }
}
