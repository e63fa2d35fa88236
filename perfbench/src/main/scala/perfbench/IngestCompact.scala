package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.Db
import graft.matchers.Eq
import graft.storage.Compaction

/** The write path alone: one client appends scrape windows of
  * Prometheus-shaped counters, with out-of-order, amend and
  * out-of-bounds samples planted at known counts, deletes by matcher
  * now and then, and runs `Db.maintain()` every few commits, so leveled
  * compaction and retention complete several cycles in one run. */
final class IngestCompact extends Workload {
  val name = "ingest_compact"
  val clients = 1

  private val IntervalMs = 15000L
  private val PerWindow = 8 // samples per series per commit
  private val RangeMs = IntervalMs * PerWindow // one commit fills one block range
  private val T0 = 1699999920000L // a multiple of the largest compaction range
  // maintain after commits 5, 8, 11, ...: each pass then finds one full
  // group of three blocks wholly before the newest settled block (the
  // freshest block is never compacted)
  private val MaintainEvery = 3
  private val DeleteEvery = 4
  // two levels (one block range, three): with a third, every other pass
  // would also merge two 3-range blocks and cost twice as much, so a
  // run's maintain median would depend on which passes fit in it
  private val Opts = Db.Options(blockRangeMs = RangeMs, compactionSteps = 2,
    retentionMs = 3 * RangeMs)

  private var series: IndexedSeq[Gen.Series] = IndexedSeq.empty
  private var root = ""
  private var db: Db = _
  // model: per series, the sample slots (index = (t - T0) / interval) it holds
  private var model: Array[java.util.BitSet] = Array.empty
  private var commits = 0
  private var arrival = 0L
  private val pending = mutable.Queue.empty[String]
  private var rng: java.util.SplittableRandom = _

  def setup(ctx: Ctx): Unit = {
    val r = Gen.rng(ctx.seed, 1)
    val names = Seq("http_requests_total", "node_cpu_seconds_total",
      "process_cpu_seconds_total", "node_network_receive_bytes_total",
      "go_gc_duration_seconds_count", "rpc_calls_total", "db_queries_total",
      "cache_hits_total", "cache_misses_total", "errors_total")
    series = (for (n <- names; j <- 0 until 5; i <- 0 until 30) yield
      Gen.Series(Map("__name__" -> n, "job" -> s"job-$j", "instance" -> s"host-$i:9100"),
        base = 1e6 + r.nextInt(1000000), slope = (1 + r.nextInt(80)) / 8.0)).toIndexedSeq
    rng = Gen.rng(ctx.seed, 2)
    ctx.facts("series") = series.size.toString
    ctx.facts("samples_per_commit") = (series.size * PerWindow).toString
    root = s"${ctx.work}/store"
    db = Db.open(ctx.spark, root, Opts)
    model = Array.fill(series.size)(new java.util.BitSet())
    // warm-up, untimed: the first cycle on the measured store itself, up
    // to its first compacting pass (5 commits, a delete, a pass); from
    // then on every pass compacts one group and retention drops one
    ctx.phase("warmup_s") {
      var i = 0
      while (commits < 5 || pending.nonEmpty) { step(ctx, 0, i); i += 1 }
    }
  }

  def step(ctx: Ctx, client: Int, i: Int): Op =
    if (pending.nonEmpty) pending.dequeue() match {
      case "maintain" => maintain(ctx)
      case _ => delete(ctx)
    } else commit(ctx)

  /** One scrape window per series, plus planted rejects, as one txn. */
  private def commit(ctx: Ctx): Op = {
    val k = commits
    commits += 1
    val mvt = db.store.minValidTime
    val rows = mutable.ArrayBuffer.empty[Row]
    val slot0 = k * PerWindow
    for ((s, si) <- series.zipWithIndex; j <- 0 until PerWindow) {
      val t = T0 + (slot0 + j) * IntervalMs
      arrival += 1
      rows += Gen.row(s, t, s.at(T0, t), arrival)
    }
    // planted after every regular row, so each is judged against the
    // window's newest sample of its series
    val nOoo = 3 + rng.nextInt(5)
    val nAmend = 2 + rng.nextInt(4)
    val nOob = if (mvt == Long.MinValue) 0 else 2 + rng.nextInt(4)
    val last = T0 + (slot0 + PerWindow - 1) * IntervalMs
    for (_ <- 0 until nOoo) {
      val s = series(rng.nextInt(series.size))
      arrival += 1
      rows += Gen.row(s, T0 + (slot0 + rng.nextInt(PerWindow - 1)) * IntervalMs + 7000, 0.5, arrival)
    }
    for (_ <- 0 until nAmend) {
      val s = series(rng.nextInt(series.size))
      arrival += 1
      rows += Gen.row(s, last, s.at(T0, last) + 1, arrival)
    }
    for (_ <- 0 until nOob) {
      val s = series(rng.nextInt(series.size))
      arrival += 1
      rows += Gen.row(s, mvt - 1 - rng.nextInt(3) * IntervalMs, 1.0, arrival)
    }
    val batch = Gen.frame(ctx.spark, rows.toSeq)
    val planted = nOoo + nAmend + nOob
    val expect = rows.size - planted
    var blocksBefore = Seq.empty[graft.storage.BlockMeta]
    if (ctx.trace.nonEmpty) {
      blocksBefore = db.blocks
      val t0 = System.nanoTime()
      val byStatus = graft.ingest.Appender.validate(batch, mvt)
        .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ctx.layer("ingest.validate_s", (System.nanoTime() - t0) / 1e9)
      ctx.count("ingest.rejected_samples", byStatus.view.filterKeys(_ != "ok").values.sum.toDouble)
    }
    val manifestBefore = graft.storage.Manifest.currentVersion(root)
    var span = ""
    val op = ctx.timed("commit") {
      val (id, sp) = traced(ctx, "commit")(db.appender(mvt).add(batch).commit())
      span = sp
      val got = id.flatMap(b => db.blocks.find(_.blockId == b)).map(_.numSamples).getOrElse(0L)
      Outcome(got == expect, got, if (got == expect) "" else s"accepted $got, model $expect")
    }
    if (op.ok) for (si <- series.indices) model(si).set(slot0, slot0 + PerWindow)
    if (ctx.trace.nonEmpty && span.nonEmpty) {
      val t = ctx.sparkLayers(span, op.seconds)
      ctx.layer("ingest.commit_jobs", t.jobs)
      ctx.layer("storage.write_s", ctx.trace.get.jobWallIn(span, Set("BlockStore.scala")))
      val fresh = db.blocks.filterNot(b => blocksBefore.exists(_.blockId == b.blockId))
      for (b <- fresh) {
        val (dataBytes, dataFiles) = Gen.du(s"$root/data/block_id=${b.blockId}")
        val (idxBytes, idxFiles) = Gen.du(s"$root/dict/block_id=${b.blockId}")
        ctx.count("storage.bytes_written", dataBytes + idxBytes)
        ctx.count("storage.index_bytes_written", idxBytes)
        ctx.count("storage.files_written", dataFiles + idxFiles)
        ctx.count("ingest.bytes_committed", b.bytes)
      }
      ctx.count("manifest.publishes",
        graft.storage.Manifest.currentVersion(root) - manifestBefore)
    }
    if (commits % DeleteEvery == DeleteEvery / 2) pending.enqueue("delete")
    if (commits % MaintainEvery == 2 && commits > 2) pending.enqueue("maintain")
    op
  }

  /** Delete one instance's samples over part of a recent window. */
  private def delete(ctx: Ctx): Op = {
    val inst = s"host-${rng.nextInt(30)}:9100"
    val back = 1 + rng.nextInt(3)
    val lo = math.max(0, commits - back) * PerWindow + rng.nextInt(PerWindow / 2)
    val hi = lo + 2 + rng.nextInt(PerWindow)
    val op = ctx.timed("delete") {
      traced(ctx, "delete")(db.delete(T0 + lo * IntervalMs, T0 + hi * IntervalMs, Eq("instance", inst)))
      Outcome(ok = true)
    }
    if (op.ok) for ((s, si) <- series.zipWithIndex if s.labels("instance") == inst)
      model(si).clear(lo, hi + 1)
    op
  }

  private def maintain(ctx: Ctx): Op = {
    val before = db.blocks
    var runs = 0
    val op = ctx.timed("maintain") {
      runs = traced(ctx, "maintain")(db.maintain())._1
      Outcome(ok = true)
    }
    if (ctx.trace.nonEmpty) {
      val after = db.blocks
      val fresh = after.filterNot(b => before.exists(_.blockId == b.blockId))
      val gone = before.filterNot(b => after.exists(_.blockId == b.blockId))
      // a retired block that no new block covers was dropped by retention
      val dropped = gone.filterNot(g => fresh.exists(f => f.mint <= g.mint && g.maxt <= f.maxt))
      ctx.count("compact.runs", runs)
      ctx.count("compact.bytes_rewritten", fresh.map(_.bytes).sum.toDouble)
      ctx.count("retention.blocks_dropped", dropped.size)
    }
    op
  }

  private def traced[T](ctx: Ctx, name: String)(f: => T): (T, String) =
    ctx.trace match {
      case Some(t) => t.span(name)(f)
      case None => (f, "")
    }

  def finish(ctx: Ctx): Unit = {
    val live = db.blocks
    ctx.facts("blocks_live_end") = live.size.toString
    ctx.facts("commits") = commits.toString
    if (ctx.trace.nonEmpty) {
      ctx.count("compact.blocks_live_end", live.size)
      val committed = ctx.counts.getOrElse("ingest.bytes_committed", 0.0)
      ctx.count("compact.write_amplification",
        if (committed > 0) (committed + ctx.counts.getOrElse("compact.bytes_rewritten", 0.0)) / committed
        else 0.0)
    }
    // blocks never overlap here (each commit fills the next range), so
    // retention keeps exactly the slots at or after the oldest live mint
    val fromSlot = if (live.isEmpty) Int.MaxValue else ((live.map(_.mint).min - T0) / IntervalMs).toInt
    val want = series.indices.map { si =>
      val b = model(si)
      series(si).key -> b.get(math.min(fromSlot, b.length), math.max(b.length, fromSlot)).cardinality.toLong
    }.filter(_._2 > 0).toMap
    val got = Gen.seriesCounts(ctx.spark, root, Opts, T0, T0 + (commits + 1) * RangeMs)
    val diff = Gen.diffCounts(got, want)
    ctx.check("durability: per-series counts after re-open", diff.isEmpty, diff)
    liveSamples = got.values.sum
    liveBytes = live.map(_.bytes).sum
    ctx.facts("retention_reached") = (live.nonEmpty && live.map(_.mint).min > T0).toString
    ctx.facts("compaction_levels") = Compaction.exponentialRanges(RangeMs, Opts.compactionSteps).mkString(",")
  }

  private var liveSamples = 0L
  private var liveBytes = 0L
  def stored: (Long, Long) = (liveBytes, liveSamples)

  // per 12 commits: 3 deletes and 4 maintenance passes
  val mix = Map("commit" -> 12.0, "delete" -> 3.0, "maintain" -> 4.0)
  // the measured loop's first pass is its fifth operation: commit, delete,
  // commit, commit, maintain
  override val minRounds: Int = 5
  val mainKinds = Set("commit")
  val sideKinds = Set("maintain")

  val names: Map[String, String] = Map(
    "op_p50_s" -> "commit_p50_s", "op_tail_s" -> "commit_tail_s",
    "side_op_p50_s" -> "maintain_p50_s", "samples_per_s" -> "ingest_samples_per_s")
}
