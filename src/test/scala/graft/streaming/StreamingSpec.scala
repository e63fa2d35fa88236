package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.storage.BlockStore
import StreamingIngest.{BucketIncrease, Sample, Validated}

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("stateful validation: exact sequential semantics within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.validated(in.toDS(), minValidTime = 0)
      .writeStream.format("memory").queryName("v1")
      .outputMode(OutputMode.Append).start()

    in.addData(
      Sample("s", 10, 1.0, 1), Sample("s", 20, 2.0, 2),
      Sample("s", 15, 9.0, 3), // regression: rejected
      Sample("s", 20, 2.0, 4), // idempotent re-append of current max: ok
      Sample("s", 20, 3.0, 5), // amend at current max: rejected
      Sample("s", 30, 4.0, 6))
    q.processAllAvailable()
    val got = spark.table("v1").as[Validated].collect()
      .sortBy(_.arrival).map(_.status).toSeq
    q.stop()
    assert(got == Seq("ok", "ok", "out_of_order", "ok", "amend", "ok"))
  }

  test("rejected samples do NOT advance the high-water mark (vs batch Appender)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.validated(in.toDS(), minValidTime = 0)
      .writeStream.format("memory").queryName("v2")
      .outputMode(OutputMode.Append).start()
    // 50 arrives first but is below minValid? no — sequence: 100 ok,
    // 200-amend-shaped regression at t=50 rejected, then t=60 must ALSO be
    // judged against maxT=100 (not 50): out_of_order.
    in.addData(Sample("s", 100, 1.0, 1), Sample("s", 50, 2.0, 2), Sample("s", 60, 3.0, 3))
    q.processAllAvailable()
    val st = spark.table("v2").as[Validated].collect().sortBy(_.arrival).map(_.status).toSeq
    q.stop()
    assert(st == Seq("ok", "out_of_order", "out_of_order"))
  }

  test("state persists across micro-batches (WAL-replay equivalence)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.validated(in.toDS(), minValidTime = 0)
      .writeStream.format("memory").queryName("v3")
      .outputMode(OutputMode.Append).start()
    in.addData(Sample("s", 100, 1.0, 1))
    q.processAllAvailable()
    in.addData(Sample("s", 90, 2.0, 2), Sample("s", 110, 3.0, 3)) // batch 2
    q.processAllAvailable()
    val st = spark.table("v3").as[Validated].collect().sortBy(_.arrival).map(_.status).toSeq
    q.stop()
    assert(st == Seq("ok", "out_of_order", "ok"))
  }

  test("NaN re-append is idempotent, different payload is amend (head.go:1695)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.validated(in.toDS(), minValidTime = 0)
      .writeStream.format("memory").queryName("v4")
      .outputMode(OutputMode.Append).start()
    val nan1 = Double.NaN
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    in.addData(Sample("s", 10, nan1, 1), Sample("s", 10, nan1, 2), Sample("s", 10, nan2, 3))
    q.processAllAvailable()
    q.stop()
    val byArrival = spark.table("v4").as[Validated].collect()
    assert(byArrival.count(_.status == "ok") == 2)
    assert(byArrival.count(_.status == "amend") == 1)
  }

  test("state TTL: idle series expire and re-validate from baseline (ST7, head.go:1036-1097)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.validated(in.toDS(), minValidTime = 0, stateTtlMs = 1000)
      .writeStream.format("memory").queryName("vttl")
      .outputMode(OutputMode.Append).start()
    // b1: series s establishes maxT=100 at arrival 1000
    in.addData(Sample("s", 100, 1.0, 1000))
    q.processAllAvailable()
    // b2: unrelated series pushes the arrival watermark to 20000;
    // s's timeout (1000 + 1000 = 2000) is now in the past
    in.addData(Sample("x", 1, 1.0, 20000))
    q.processAllAvailable()
    // b3: another unrelated batch — s has no data this batch, so its
    // timed-out state is dropped here (head GC of a dead series)
    in.addData(Sample("y", 1, 1.0, 20001))
    q.processAllAvailable()
    // b4: s reappears with t REGRESSING below its old maxT — accepted,
    // because the expired series re-validates from a fresh baseline
    in.addData(Sample("s", 50, 2.0, 20002))
    q.processAllAvailable()
    val got = spark.table("vttl").as[Validated].collect().sortBy(_.arrival)
    q.stop()
    assert(got.map(_.status).toSeq == Seq("ok", "ok", "ok", "ok"))

    // control: with a TTL the watermark never reaches, the same flow
    // rejects the regression — proving expiry (not leniency) above
    val in2 = MemoryStream[Sample]
    val q2 = StreamingIngest.validated(in2.toDS(), minValidTime = 0, stateTtlMs = 10000000L)
      .writeStream.format("memory").queryName("vttl2")
      .outputMode(OutputMode.Append).start()
    in2.addData(Sample("s", 100, 1.0, 1000)); q2.processAllAvailable()
    in2.addData(Sample("x", 1, 1.0, 20000)); q2.processAllAvailable()
    in2.addData(Sample("y", 1, 1.0, 20001)); q2.processAllAvailable()
    in2.addData(Sample("s", 50, 2.0, 20002)); q2.processAllAvailable()
    val got2 = spark.table("vttl2").as[Validated].collect().sortBy(_.arrival)
    q2.stop()
    assert(got2.map(_.status).toSeq == Seq("ok", "ok", "ok", "out_of_order"))
  }

  test("live tailer streams existing and newly published blocks (S8)") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-tail-blocks").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    val first = Seq(("a", 100L, 1.0, 1L), ("a", 1500L, 2.0, 2L))
      .toDF("series_key", "t", "v", "sample_id")
    store.write(first)
    val q = StreamingIngest.tail(spark, store)
      .writeStream.format("memory").queryName("tailed")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(spark.table("tailed").count() == 2)
    // a new block published while tailing is picked up incrementally
    store.write(Seq(("b", 2500L, 3.0, 3L)).toDF("series_key", "t", "v", "sample_id"))
    q.processAllAvailable()
    val got = spark.table("tailed")
    q.stop()
    assert(got.count() == 3)
    assert(got.select("series_key").distinct().count() == 2)
  }

  test("streaming increase: closed buckets match batch Rate.increase, resets included (W1)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val B = 100L // bucket width
    // two series over three buckets; s1 carries a counter reset (5 -> 2)
    val rows = Seq(
      Sample("s1", 10, 1.0, 1), Sample("s1", 60, 5.0, 2),
      Sample("s1", 120, 2.0, 3), // reset: post-reset value IS the increase
      Sample("s1", 180, 4.0, 4),
      Sample("s1", 220, 6.0, 5), // opens bucket 3 -> closes bucket 2
      Sample("s2", 40, 10.0, 6), Sample("s2", 150, 30.0, 7),
      Sample("s2", 260, 31.0, 8)) // opens s2's bucket 3 -> closes bucket 2
    val in = MemoryStream[Sample]
    val q = StreamingIngest.streamingIncrease(in.toDS(), bucketMs = B)
      .writeStream.format("memory").queryName("sinc")
      .outputMode(OutputMode.Append).start()
    // two micro-batches: state (last sample + open bucket) must carry over
    in.addData(rows.take(4): _*)
    q.processAllAvailable()
    in.addData(rows.drop(4): _*)
    q.processAllAvailable()
    val got = spark.table("sinc").as[BucketIncrease].collect()
      .map(b => (b.series_key, b.t_bucket) -> ((b.increase, b.n_deltas, b.n_resets)))
      .toMap
    q.stop()

    // batch twin on the same samples, restricted to the CLOSED buckets
    // (the last open bucket per series is the documented divergence)
    val batch = graft.query.Rate.increase(
        rows.toDF("series_key", "t", "v", "arrival", "labels")
          .withColumnRenamed("arrival", "sample_id"),
        bucketMs = B)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3), r.getLong(4))))
      .toMap
    val open = Set(("s1", 300L), ("s2", 300L)) // still-open buckets
    assert(got.keySet == batch.keySet.diff(open))
    got.foreach { case (k, v) => assert(batch(k) == v, s"$k: $v vs ${batch(k)}") }
    // the reset bucket: post-reset value (2.0) + the next delta (2.0)
    assert(got(("s1", 200L)) == ((Some(4.0), 2L, 1L)))
    // a bucket whose only sample has no in-stream predecessor delta
    assert(got(("s2", 100L)) == ((None, 0L, 0L)))
  }

  test("streaming increase with flush TTL: an idle series' open bucket flushes as final") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.streamingIncrease(in.toDS(), bucketMs = 100L, flushTtlMs = 1000L)
      .writeStream.format("memory").queryName("sincttl")
      .outputMode(OutputMode.Append).start()
    // s establishes an open bucket (one delta) then goes idle
    in.addData(Sample("s", 10, 1.0, 1000), Sample("s", 60, 4.0, 1001))
    q.processAllAvailable()
    assert(spark.table("sincttl").count() == 0) // bucket still open
    // unrelated traffic advances the watermark past s's timeout…
    in.addData(Sample("x", 10, 1.0, 50000))
    q.processAllAvailable()
    // …and the NEXT batch fires the timeout: the open bucket flushes
    in.addData(Sample("y", 10, 1.0, 50001))
    q.processAllAvailable()
    val got = spark.table("sincttl").as[BucketIncrease].collect()
      .filter(_.series_key == "s")
    q.stop()
    assert(got.length == 1)
    assert(got.head.t_bucket == 100L && got.head.increase.contains(3.0) &&
      got.head.n_deltas == 1L)
    // a flushed series that reappears starts a fresh bucket lineage —
    // no double emission of the flushed bucket
    assert(spark.table("sincttl").count() >= 1)
  }

  test("flush TTL: a series resuming into its flushed bucket never re-emits it") {
    // The TTL flush publishes the open bucket as FINAL. A series that
    // resumes with t still inside that bucket (monotone t, per the
    // ingest contract) must fold the late samples into the delta chain
    // but close the bucket silently — one row per (series, bucket),
    // ever. The pre-r7 state.remove() re-opened the bucket and emitted
    // a second 'final' row on close.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingIngest.streamingIncrease(in.toDS(), bucketMs = 100L, flushTtlMs = 1000L)
      .writeStream.format("memory").queryName("sincttl2")
      .outputMode(OutputMode.Append).start()
    in.addData(Sample("s", 10, 1.0, 1000), Sample("s", 60, 4.0, 1001))
    q.processAllAvailable()
    in.addData(Sample("x", 10, 1.0, 50000)) // advance watermark past TTL
    q.processAllAvailable()
    in.addData(Sample("x", 20, 1.0, 50001)) // fire s's timeout: bucket 100 flushes
    q.processAllAvailable()
    // s resumes: t=80 still lands in flushed bucket 100; t=150 closes it
    // (silently); t=250 closes bucket 200 as a normal final row
    in.addData(Sample("s", 80, 9.0, 60000), Sample("s", 150, 11.0, 60001),
      Sample("s", 250, 12.0, 60002))
    q.processAllAvailable()
    val got = spark.table("sincttl2").as[BucketIncrease].collect()
      .filter(_.series_key == "s")
    q.stop()
    // exactly one row per bucket: the TTL flush of 100, the close of 200
    assert(got.map(_.t_bucket).sorted.toSeq == Seq(100L, 200L), got.mkString(", "))
    assert(got.find(_.t_bucket == 100L).get.increase.contains(3.0))
    // bucket 200's chain rides the carried lastV=9.0: (11-9) + (12-11 lands
    // in bucket 300, still open) -> increase 2.0 with 1 delta
    assert(got.find(_.t_bucket == 200L).get.increase.contains(2.0))
  }

  test("windowed rollup with watermark emits closed windows (ST3)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "series_key", "v")
    val q = StreamingIngest.windowedCounts(events, "ts", watermark = "10 seconds", window_ = "1 minute")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    in.addData((t(10), "a", 1.0), (t(20), "a", 2.0), (t(70), "a", 3.0))
    q.processAllAvailable()
    // watermark passes the first window only after later data arrives
    in.addData((t(200), "a", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc")
      .selectExpr("window.start", "series_key", "n", "sum_v").collect()
    assert(rows.exists(r => r.getLong(2) == 2 && r.getDouble(3) == 3.0)) // [0,60) closed
  }

  test("checkpoint recovery: a restarted ingest does not reprocess committed batches (ST5)") {
    val src = Files.createTempDirectory("graft-ingest-src").toString
    val root = Files.createTempDirectory("graft-restart-blocks").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    Seq(Sample("a", 100, 1.0, 1), Sample("a", 1500, 2.0, 2))
      .toDF().write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src).as[Sample]
      val q = StreamingIngest.ingest(stream, store, ckpt, minValidTime = 0)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(store.read(spark).count() == 2)
    val blocksAfterFirst = store.manifest.blocks.size

    // restart with the same checkpoint and unchanged source: the WAL
    // replay equivalent — committed offsets are not re-ingested
    runOnce()
    assert(store.read(spark).count() == 2)
    assert(store.manifest.blocks.size == blocksAfterFirst)

    // new data arriving after the restart IS picked up, state intact:
    // t=1200 regresses below series a's high-water mark (1500) -> dropped
    Seq(Sample("a", 1200, 9.0, 3), Sample("a", 2000, 3.0, 4))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    val vals = store.read(spark).select("t").as[Long].collect().sorted.toSeq
    assert(vals == Seq(100L, 1500L, 2000L))
  }

  test("crash between write and commit: replayed batch is absorbed by overlap dedup (ST5, wal_test.go:32 family)") {
    // Spark's checkpoint commits a batch AFTER foreachBatch ran, so a
    // crash in between (simulated: delete the newest commit-log entry)
    // makes the restart REPLAY that batch — at-least-once block writes.
    // The store's overlap dedup is what upgrades that to exactly-once
    // READS: the replayed block duplicates (series, t) pairs of the
    // original, vertical dedup collapses them, and readRange answers
    // identically — the reference's WAL-replay property (a re-read
    // segment must not duplicate samples).
    val src = Files.createTempDirectory("graft-crash-src").toString
    val root = Files.createTempDirectory("graft-crash-blocks").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    Seq(Sample("a", 100, 1.0, 1), Sample("a", 1500, 2.0, 2), Sample("b", 300, 5.0, 3))
      .toDF().write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src).as[Sample]
      val q = StreamingIngest.ingest(stream, store, ckpt, minValidTime = 0)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val blocksBefore = store.manifest.blocks.size
    val want = store.readRange(spark, 0, 10000)
      .select("series_key", "t", "v").as[(String, Long, Double)].collect().toSeq.sorted

    // tear the tail: the last batch's commit record vanishes, its offset
    // entry (written first) survives — exactly the crash window
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the checksum sidecar the local FS writes must tear with it
    new java.io.File(commits.last.getParent, "." + commits.last.getName + ".crc").delete()

    runOnce() // replays the uncommitted batch
    // the replay wrote a duplicate block (at-least-once)...
    assert(store.manifest.blocks.size > blocksBefore)
    // ...but reads are exactly-once: identical rows, no duplicates
    val got = store.readRange(spark, 0, 10000)
      .select("series_key", "t", "v").as[(String, Long, Double)].collect().toSeq.sorted
    assert(got == want)
  }

  test("corrupted checkpoint offset log fails loudly; the store is untouched (ST5)") {
    // A torn/garbage offset record is unrecoverable state — the contract
    // is recover-or-loud-fail, never silent loss: the restart must throw
    // and the store must be byte-identical to its pre-corruption state
    // (divergence from the reference documented in SURVEY §7.5.7: the
    // reference's wal.Repair truncates to the last good record instead).
    val src = Files.createTempDirectory("graft-corrupt-src").toString
    val root = Files.createTempDirectory("graft-corrupt-blocks").toString
    val ckpt = Files.createTempDirectory("graft-corrupt-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    Seq(Sample("a", 100, 1.0, 1), Sample("a", 1500, 2.0, 2))
      .toDF().write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src).as[Sample]
      val q = StreamingIngest.ingest(stream, store, ckpt, minValidTime = 0)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val versionBefore = graft.storage.Manifest.currentVersion(store.root)

    val offsets = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(offsets.nonEmpty)
    Files.write(offsets.last.toPath, "v1\n{garbage".getBytes)

    // more data is waiting, but the restart must fail loudly...
    Seq(Sample("a", 2500, 3.0, 5)).toDF().write.mode("append").parquet(src)
    intercept[Exception] { runOnce() }
    // ...and the store publish no new state
    assert(graft.storage.Manifest.currentVersion(store.root) == versionBefore)
    assert(store.read(spark).count() == 2)

    // the operator flag: salvage truncates from the corrupt entry (the
    // wal.Repair analogue) and the restart recovers — the truncated
    // range re-reads from the source, re-ingested blocks duplicate the
    // originals at the file level, and overlap dedup makes the
    // PUBLISHED view exactly-once: zero lost, zero duplicated samples
    val truncated = StreamingIngest.salvage(ckpt)
    assert(truncated.nonEmpty)
    // salvage on the now-clean checkpoint is a no-op
    assert(StreamingIngest.salvage(ckpt).isEmpty)
    runOnce()
    val got = store.readRange(spark, 0, 10000)
      .select("series_key", "t", "v").as[(String, Long, Double)]
      .collect().toSeq.sorted
    assert(got == Seq(("a", 100L, 1.0), ("a", 1500L, 2.0), ("a", 2500L, 3.0)))
  }

  test("end-to-end ingest: stream -> validated -> block partitions on disk") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-stream-blocks").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    val in = MemoryStream[Sample]
    // queue data BEFORE starting: AvailableNow snapshots the available
    // offsets at query start, so later addData may fall outside the run
    in.addData(
      Sample("a", 100, 1.0, 1), Sample("a", 1500, 2.0, 2),
      Sample("a", 200, 9.0, 3), // out of order: dropped
      Sample("b", 2500, 3.0, 4))
    val q = StreamingIngest.ingest(in.toDS(), store, ckpt, minValidTime = 0)
    q.processAllAvailable()
    q.stop()
    val back = store.read(spark)
    assert(back.count() == 3) // rejected sample not persisted
    assert(back.select("t_bucket").distinct().count() == 3) // 1s blocks: 1000, 2000, 3000
  }

  test("streamed blocks carry a postings index: matcher reads work (head.go:1292-1295)") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-stream-idx").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-idx").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    val in = MemoryStream[Sample]
    def key(m: Map[String, String]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"""$k="$v"""" }.mkString("{", ",", "}")
    val la = Map("name" -> "cpu", "host" -> "h1")
    val lb = Map("name" -> "mem", "host" -> "h2")
    // queue before start — AvailableNow races addData-after-start
    in.addData(
      Sample(key(la), 100, 1.0, 1, la), Sample(key(la), 1500, 2.0, 2, la),
      Sample(key(lb), 2500, 3.0, 3, lb))
    val q = StreamingIngest.ingest(in.toDS(), store, ckpt, minValidTime = 0)
    q.processAllAvailable()
    q.stop()
    // the streamed store answers matcher + label-metadata queries
    val got = store.readRange(spark, 0, 5000, graft.matchers.Eq("name", "cpu"))
    assert(got.select("t").as[Long].collect().sorted.toSeq == Seq(100L, 1500L))
    assert(store.labelValues(spark, "host").as[String].collect().toSeq == Seq("h1", "h2"))
    assert(store.readRange(spark, 0, 5000, graft.matchers.Not(graft.matchers.Eq("name", "cpu")))
      .select("t").as[Long].collect().toSeq == Seq(2500L))
  }

  test("micro-batch block explosion: compaction folds per-trigger blocks back to one (ST4)") {
    // one block per micro-batch is the streaming write granularity; under
    // frequent triggers that explodes the block count within a single
    // block range. Compaction is the cure: the planner's overlap rule
    // (`compact.go:264-286`) selects the whole run and merges it to one
    // block, after which it reports nothing left to do.
    val src = Files.createTempDirectory("graft-granularity-src").toString
    val root = Files.createTempDirectory("graft-granularity-blocks").toString
    val ckpt = Files.createTempDirectory("graft-granularity-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 10000L)

    // 4 trigger firings, all inside the one [0, 10000) block range: each
    // run appends new files and re-runs with the same checkpoint, so the
    // file source delivers exactly one new micro-batch -> one block
    val batches = Seq(
      Seq(Sample("a", 100, 1.0, 1), Sample("a", 900, 2.0, 2)),
      Seq(Sample("b", 200, 3.0, 3)),
      Seq(Sample("a", 1500, 4.0, 4), Sample("c", 300, 5.0, 5)),
      Seq(Sample("b", 600, 6.0, 6)))
    batches.foreach { b =>
      b.toDF().coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src).as[Sample]
      val q = StreamingIngest.ingest(stream, store, ckpt, minValidTime = 0)
      q.processAllAvailable(); q.stop()
    }
    assert(store.manifest.blocks.size == 4) // block explosion is real
    val before = store.readRange(spark, 0, 10000)
      .select("series_key", "t", "v").collect().map(_.toString).sorted.toSeq

    val ranges = BlockStore.exponentialRanges(10000L, 3)
    val plan = store.planCompaction(ranges)
    assert(plan.toSet == store.manifest.blocks.map(_.blockId).toSet) // overlap rule takes the whole run
    // run plan -> compact to a fixpoint: the planner folds the explosion
    var guard = 0
    var next = plan
    while (next.nonEmpty && guard < 5) {
      store.compact(spark, next)
      next = store.planCompaction(ranges)
      guard += 1
    }
    assert(store.manifest.blocks.size == 1)
    val after = store.readRange(spark, 0, 10000)
      .select("series_key", "t", "v").collect().map(_.toString).sorted.toSeq
    assert(after == before && after.size == 6)
    assert(store.planCompaction(ranges).isEmpty) // the planner kept up
    // matcher reads still served: the merged block carries the merged index
    assert(store.readRange(spark, 0, 10000, graft.matchers.Eq("name", "missing")).count() == 0)
  }

  test("streaming rate: deltas span micro-batch boundaries, resets and stale samples handled") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamingRate.increments(in.toDS())
      .writeStream.format("memory").queryName("rate1")
      .outputMode(OutputMode.Append).start()
    in.addData(Sample("s", 10, 5.0, 1), Sample("s", 20, 9.0, 2))
    q.processAllAvailable()
    // batch 2: the first delta measures against batch 1's last value via
    // state (the batch operator would need the whole history re-sorted);
    // a drop is a reset; a stale t is dropped, never re-counted
    in.addData(Sample("s", 30, 2.0, 3), Sample("s", 15, 100.0, 4), Sample("s", 40, 3.5, 5))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rate1").as[StreamingRate.Increment].collect()
      .sortBy(_.t).map(i => (i.t, i.inc, i.reset)).toSeq
    assert(got == Seq(
      (10L, None, false), // no previous
      (20L, Some(4.0), false),
      (30L, Some(2.0), true), // 9 -> 2: reset, post-reset value counts
      (40L, Some(1.5), false))) // t=15 stale: dropped
  }

  test("streaming alertState matches the batch operator on a micro-batch split") {
    // the nightly rules engine as a continuous query: same frame rows,
    // delivered across three micro-batches, must produce exactly the
    // batch Rules.alertState verdicts — pending until the `for` window
    // fills, firing after, run broken by a condition-false instant AND
    // by a stale (absent) instant
    implicit val sqlCtx = spark.sqlContext
    import StreamingRate.RuleInput
    val STEP = 100L
    val rows = Seq(
      // series a: true at 100..400 -> pending,pending,firing,firing
      RuleInput("a", 100, 15.0), RuleInput("a", 200, 16.0),
      RuleInput("a", 300, 17.0), RuleInput("a", 400, 18.0),
      // series b: true, FALSE breaks the run, true, true -> the post-
      // break run restarts at pending
      RuleInput("b", 100, 20.0), RuleInput("b", 200, 5.0),
      RuleInput("b", 300, 21.0), RuleInput("b", 400, 22.0),
      // series c: true at 100, STALE at 200 (absent), true at 300, 400
      RuleInput("c", 100, 30.0), RuleInput("c", 300, 31.0),
      RuleInput("c", 400, 32.0))
    val FOR = 2 // firing needs 3 consecutive true instants
    val THRESH = 10.0

    // batch twin over the same frame
    val frame = rows.toDF("series_key", "t", "r_v")
    val want = graft.query.Rules
      .alertState(frame,
        org.apache.spark.sql.functions.col("r_v") > THRESH, FOR, STEP)
      .select("series_key", "t", "value", "state")
      .as[(String, Long, Double, String)].collect().toSet

    val in = MemoryStream[RuleInput]
    val q = StreamingRate
      .streamingAlertState(in.toDS(), _ > THRESH, FOR, STEP)
      .writeStream.format("memory").queryName("salert")
      .outputMode(OutputMode.Append).start()
    // split mid-series so runs span batch boundaries through state
    in.addData(rows.take(4): _*); q.processAllAvailable()
    in.addData(rows.slice(4, 8): _*); q.processAllAvailable()
    in.addData(rows.drop(8): _*); q.processAllAvailable()
    // at-least-once upstream: the final firing instant redelivered must
    // re-emit FIRING, not reset the run to pending
    in.addData(RuleInput("a", 400, 18.0)); q.processAllAvailable()
    q.stop()
    val got = spark.table("salert").as[StreamingRate.AlertRow].collect()
      .map(r => (r.series_key, r.t, r.value, r.state)).toSet
    assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
    // spot-pin the interesting verdicts
    assert(got.contains(("a", 300L, 17.0, "firing")))
    assert(got.contains(("b", 400L, 22.0, "pending"))) // run broken at 200
    assert(got.contains(("c", 400L, 32.0, "pending"))) // stale 200 broke it
    assert(!got.contains(("a", 400L, 18.0, "pending"))) // no replay regression
  }

  test("snapshot mid-stream carries every ingested sample; the live store keeps " +
    "moving, the snapshot is frozen (TestDB_Snapshot_ChunksOutsideOfCompactedRange db_test.go:495)") {
    // The reference must special-case head chunks beyond the compacted
    // range (snapshot(withHead) truncates and includes them). Here every
    // micro-batch publishes a durable block before its offsets commit,
    // so there is no in-memory head a snapshot could miss — the only
    // state outside the manifest is the per-series validation high-water
    // mark, which lives in the streaming CHECKPOINT, not the snapshot.
    val src = Files.createTempDirectory("graft-snapstream-src").toString
    val root = Files.createTempDirectory("graft-snapstream-blocks").toString
    val ckpt = Files.createTempDirectory("graft-snapstream-ckpt").toString
    val store = new BlockStore(root, blockRangeMs = 1000L)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src).as[Sample]
      val q = StreamingIngest.ingest(stream, store, ckpt, minValidTime = 0)
      q.processAllAvailable(); q.stop()
    }
    Seq(Sample("a", 100, 1.0, 1), Sample("a", 1500, 2.0, 2))
      .toDF().write.mode("append").parquet(src)
    runOnce()

    val snap = Files.createTempDirectory("graft-snapstream-snap").toString
    store.snapshot(snap)
    val snapStore = new BlockStore(snap, blockRangeMs = 1000L)
    assert(snapStore.read(spark).select("t").as[Long].collect().sorted.toSeq ==
      Seq(100L, 1500L))

    // the live store continues past the snapshot point; the snapshot
    // answers from its frozen manifest (and its own copied files)
    Seq(Sample("a", 2000, 3.0, 3)).toDF().write.mode("append").parquet(src)
    runOnce()
    assert(store.read(spark).count() == 3)
    assert(snapStore.read(spark).count() == 2)
  }

  test("streamingObserve ≡ batch observe on closed buckets, across a micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    // two series, values straddling the zero/positive/negative parts
    // (shift −35 like the suite's native entries), buckets of 1000 ms;
    // a NaN observation drops; the split lands MID-bucket so the open
    // window must carry across micro-batches
    val b1 = Seq(
      Sample("a", 100, 37.0, 1), Sample("a", 200, 34.8, 2),
      Sample("a", 300, 30.0, 3), Sample("b", 150, 70.0, 4),
      Sample("a", 450, Double.NaN, 5))
    val b2 = Seq(
      Sample("a", 900, 44.0, 6), Sample("b", 950, 36.0, 7),
      // bucket 2 opens -> bucket 1 closes for both series
      Sample("a", 1200, 50.0, 8), Sample("b", 1300, 20.0, 9),
      // bucket 3 opens -> bucket 2 closes
      Sample("a", 2100, 60.0, 10), Sample("b", 2200, 61.0, 11))
    val in = MemoryStream[Sample]
    val q = StreamingHistogram.streamingObserve(
        in.toDS(), bucketMs = 1000L, schema = 0, zeroThreshold = 0.5,
        shift = -35.0)
      .writeStream.format("memory").queryName("hobs")
      .outputMode(OutputMode.Append).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("hobs")
      .as[StreamingHistogram.HistBucketRow].collect()
      .map(r => (r.series_key, r.t_bucket, r.part, r.idx, r.c,
        math.rint(r.sv * 100) / 100))
      .toSet
    // the batch twin over the same samples, closed buckets only
    // (bucket 3 stays open in the stream)
    val df = (b1 ++ b2).map(s => (s.series_key, s.t, s.v))
      .toDF("series_key", "t", "v")
    val want = graft.query.NativeHistogram
      .observe(df, 1000L, lit(0), 0.5, col("v") - 35)
      .where(col("t_bucket") <= 2000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)), r.getLong(5),
        math.rint(r.getDouble(6) * 100) / 100))
      .toSet
    assert(got == want, s"stream=$got\nbatch=$want")
  }

  test("bucketIdx: streaming ≡ batch at a POSITIVE schema on boundary doubles") {
    import org.apache.spark.sql.functions.{col, lit}
    // schema 2 → irrational boundaries 2^(i/4): the batch fast path is
    // gated off here (ADVICE r10), so both sides must take the direct-
    // pow form and agree on every boundary double and its neighbors
    val s = 2
    val vs = (-6 to 6).map(i => math.pow(2.0, i * math.pow(2.0, -s)))
      .flatMap(b => Seq(b, Math.nextUp(b), Math.nextDown(b)))
    val batch = vs.zipWithIndex.map { case (v, i) => (i.toLong, "a", 100L, v) }
      .toDF("sample_id", "series_key", "t", "v")
      .select(graft.query.NativeHistogram.bucketIdx(col("v"), lit(s)))
      .as[Int].collect().toSeq
    assert(batch == vs.map(StreamingHistogram.bucketIdx(_, s)))
  }
}

/** Engine-free ScalaCheck differential: the per-series streaming fold
  * ([[StreamingIngest.foldIncrease]]), applied over ANY split of a
  * series' ordered samples into micro-batches, emits exactly the batch
  * [[graft.query.Rate.increase]] semantics for every CLOSED bucket, and
  * the carry-over state holds the open bucket's accumulators — so
  * bucket-close emission is split-invariant (the WAL-replay property at
  * the rate-consumer level). */
class StreamingRateProperty extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.{Gen, Prop}
  import StreamingIngest.{foldIncrease, RateState}

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private val W = 100L

  // strictly increasing timestamps (the validated-ingest contract),
  // counter-ish values with planted resets
  private val genSamples: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(0, 60)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 130L))
    vs <- Gen.listOfN(n, Gen.choose(0, 1000).map(_ / 4.0))
  } yield gaps.scanLeft(5L)(_ + _).tail.zip(vs)

  /** The batch model: Rate.increase's per-bucket sums in pure Scala. */
  private def model(samples: List[(Long, Double)])
      : Map[Long, (Option[Double], Long, Long)] = {
    val withPrev = samples.zip(None :: samples.map(Some(_)))
    withPrev.groupBy { case ((t, _), _) =>
      Math.floorDiv(t, W) * W + W
    }.map { case (b, rows) =>
      val deltas = rows.collect { case ((_, v), Some((_, pv))) =>
        (if (v < pv) v else v - pv, v < pv)
      }
      val inc =
        if (deltas.isEmpty) None
        else Some(java.math.BigDecimal.valueOf(deltas.map(_._1).sum)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
      b -> ((inc, deltas.size.toLong, deltas.count(_._2).toLong))
    }
  }

  test("fold over any batch split == batch increase on closed buckets; state carries the open one") {
    val genCase = for {
      samples <- genSamples
      cuts <- Gen.listOfN(3, Gen.choose(0, math.max(samples.size, 1)))
    } yield (samples, cuts.sorted)
    check(Prop.forAll(genCase) { case (samples, cuts) =>
      val batches = (0 :: cuts).zip(cuts :+ samples.size)
        .map { case (a, b) => samples.slice(a, b) }
      var st = RateState(Long.MinValue, Double.NaN, Long.MinValue, 0.0, 0L, 0L)
      val emitted = batches.flatMap { batch =>
        val (out, st1) = foldIncrease("s", batch, st, W)
        st = st1
        out
      }
      val m = model(samples)
      val closed = emitted.map(b =>
        b.t_bucket -> ((b.increase, b.n_deltas, b.n_resets))).toMap
      val openBucket = st.bucket
      // every emitted bucket matches the batch model exactly
      val emittedOk = closed.forall { case (b, v) => m.get(b).contains(v) }
      // emitted ∪ {open} covers every model bucket, no duplicates
      val coverOk =
        if (samples.isEmpty) emitted.isEmpty && openBucket == Long.MinValue
        else closed.keySet == m.keySet - openBucket &&
          emitted.size == closed.size
      // the carried state holds the open bucket's accumulators
      val stateOk = samples.isEmpty || {
        val (inc, nd, nr) = m(openBucket)
        val sInc =
          if (st.nDeltas == 0L) None
          else Some(java.math.BigDecimal.valueOf(st.inc)
            .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
        sInc == inc && st.nDeltas == nd && st.nResets == nr
      }
      emittedOk && coverOk && stateOk
    })
  }
}
