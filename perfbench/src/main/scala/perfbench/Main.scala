package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.{BrokenBarrierException, CyclicBarrier}

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  *
  * Builds the workload's store from the seed, warms up untimed, runs
  * its closed-loop clients for `S` seconds, checks every answer, then
  * prints the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`) as the last line of standard output and exits. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "live_heap_peak_mb" -> "MB", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "ops_per_s" -> "1/s", "samples_per_s" -> "samples/s", "side_op_p50_s" -> "s",
    "stored_bytes_per_sample" -> "B")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_cpu_s_per_op" -> "s",
    "spark.task_run_s_per_op" -> "s", "spark.gc_s_per_op" -> "s",
    "spark.shuffle_write_bytes_per_op" -> "B", "spark.shuffle_read_bytes_per_op" -> "B",
    "spark.spill_bytes_per_op" -> "B", "spark.input_rows_per_op" -> "count",
    "spark.input_bytes_per_op" -> "B", "spark.driver_s_per_op" -> "s",
    "spark.core_busy_share" -> "share",
    "promql.parse_s" -> "s", "promql.build_s" -> "s", "promql.build_jobs" -> "count",
    "promql.exec_s" -> "s", "promql.rows_examined_per_point" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "plan.nodes" -> "count", "plan.exchanges" -> "count", "plan.scans" -> "count",
    "plan.broadcasts" -> "count",
    "result.render_s" -> "s", "result.bytes" -> "B", "http.overhead_s" -> "s",
    "http.metadata_jobs" -> "count",
    "postings.resolve_s" -> "s", "postings.index_rows_read" -> "count",
    "postings.series_matched" -> "count", "storage.read_s" -> "s",
    "storage.rows_examined_per_sample_returned" -> "count", "storage.blocks_touched" -> "count",
    "storage.overlap_groups" -> "count", "storage.tombstone_intervals" -> "count",
    "storage.seek_s" -> "s", "storage.label_values_s" -> "s",
    "ingest.validate_s" -> "s", "ingest.rejected_samples" -> "count",
    "ingest.commit_jobs" -> "count", "storage.write_s" -> "s", "storage.bytes_written" -> "B",
    "storage.index_bytes_written" -> "B", "storage.files_written" -> "count",
    "manifest.publishes" -> "count",
    "compact.runs" -> "count", "compact.bytes_rewritten" -> "B",
    "compact.write_amplification" -> "ratio", "compact.blocks_live_end" -> "count",
    "retention.blocks_dropped" -> "count",
    "callsite.storage_task_s" -> "s", "callsite.ingest_task_s" -> "s",
    "callsite.query_task_s" -> "s", "callsite.matchers_task_s" -> "s",
    "callsite.catalyst_task_s" -> "s", "callsite.http_task_s" -> "s",
    "trace.op_p50_s" -> "s")

  /** Heap in use right after a full collection: the live set. */
  private def liveHeapMb(): Double = {
    // the second collection frees what Spark's cleaner released after
    // the first (broadcasts and shuffles of finished queries)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def workload(name: String): Workload = name match {
    case "ingest_compact" => new IngestCompact
    case "dashboard_http" => new DashboardHttp
    case "select_highcard" => new SelectHighcard
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch { case e: Throwable =>
        e.printStackTrace()
        2
      }
    System.out.flush()
    // exit explicitly: the HTTP server's pool and Spark's threads are
    // not daemons, and a run must end once its record is out
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Int = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps finished jobs for its UI; a small
      // window keeps the live heap from growing with the run's op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    graft.catalyst.GraftExtensions.install(spark)
    val installS = (System.nanoTime() - t0) / 1e9 - sessionS
    val ctx = new Ctx(spark, seed, work, if (traced) Some(new Trace(spark)) else None)
    ctx.facts("workload") = w.name
    ctx.facts("seed") = seed.toString
    ctx.facts("cores") = cores.toString
    ctx.facts("session_start_s") = sessionS.toString
    ctx.facts("extensions_install_s") = installS.toString
    ctx.phase("setup_workload_s")(w.setup(ctx))
    val heapAfterSetup = liveHeapMb()
    val setupS = (System.nanoTime() - t0) / 1e9
    val warmOps = ctx.ops.size
    ctx.recording = true
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    // the clients run in rounds: each round's operations start together,
    // and a new round starts while time is left or until the workload's
    // minimum, so every run covers its whole mix and each operation
    // overlaps the same partner in every run
    @volatile var go = true
    var rounds = 0
    val barrier = new CyclicBarrier(w.clients, () => {
      go = rounds < w.minRounds || System.nanoTime() < deadline
      if (go) rounds += 1
    })
    val threads = (0 until w.clients).map { c =>
      val th = new Thread(() => {
        var i = 0
        try {
          while ({ barrier.await(); go }) { w.step(ctx, c, i); i += 1 }
        } catch { case _: BrokenBarrierException => }
        finally barrier.reset() // a client that died releases the others
      }, s"client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    ctx.facts("rounds") = rounds.toString
    ctx.facts("measure_s") = ((System.nanoTime() - start) / 1e9).toString
    val heapMb = math.max(heapAfterSetup, liveHeapMb())
    val ops = ctx.ops.drop(warmOps)
    val durable = ctx.timed("durability") {
      w.finish(ctx)
      Outcome(ctx.checks.forall(_._2))
    }
    ctx.facts("finish_s") = durable.seconds.toString
    ctx.facts("jvm_uptime_at_end_s") = (ManagementFactory.getRuntimeMXBean.getUptime / 1e3).toString
    val all = ops :+ durable
    val failed = all.count(!_.ok)
    val good = ops.filter(_.ok)
    def latencies(kinds: Set[String]) = good.filter(o => kinds(o.kind)).map(o => o.kind -> o.seconds)
    val main = latencies(w.mainKinds).map(_._2)
    // rates over the stated mix, per closed-loop client: a run that ends
    // with an extra cheap or costly operation does not move them
    def rate(amount: Op => Double) =
      w.clients * Stats.mixRate(good.map(o => (o.kind, o.seconds, amount(o))), w.mix)
    val tail = if (main.isEmpty) Stats.Tail(0, 0, 0, 0) else Stats.tail(main)
    val (bytes, samples) = w.stored
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "live_heap_peak_mb" -> heapMb,
      "op_p50_s" -> Stats.mixMedian(latencies(w.mainKinds), w.mix),
      "op_tail_s" -> tail.value,
      "ops_per_s" -> rate(_ => 1.0),
      "samples_per_s" -> rate(_.samples.toDouble),
      "side_op_p50_s" -> Stats.mixMedian(latencies(w.sideKinds), w.mix),
      "stored_bytes_per_sample" -> (if (samples > 0) bytes.toDouble / samples else 0.0))
    val layers = ctx.layerMedians ++ ctx.counts +
      ("trace.op_p50_s" -> Stats.mixMedian(latencies(w.mainKinds), w.mix))
    val correct = failed == 0 && ctx.checks.forall(_._2) && main.nonEmpty
    val metrics =
      if (traced) PerLayer.map { case (k, u) => k -> Metric(layers.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => k -> Metric(e2e(k), u) }
    // human-readable lines: the workload's own names for each metric
    for ((k, u) <- EndToEnd)
      println("%-28s %14.6f %s".formatLocal(Locale.ROOT, w.names.getOrElse(k, k), e2e(k), u))
    println("tail percentile: p%.1f of %d samples, %d beyond"
      .formatLocal(Locale.ROOT, tail.percentile, tail.n, tail.beyond))
    println("failed/attempted: %d/%d (%.3f)".formatLocal(Locale.ROOT, failed, all.size,
      Stats.failureShare(all.size, failed)))
    for (o <- all if !o.ok) println(s"FAILED ${o.kind}: ${o.note}")
    for ((n, ok, d) <- ctx.checks if !ok) println(s"CHECK FAILED $n: $d")
    ctx.trace.foreach { t =>
      ctx.facts("top_call_sites") = t.topCallSites(12)
      ctx.facts("task_s_by_module") = t.moduleTotals
    }
    val detail = Json.obj(Seq(
      "facts" -> Json.obj(ctx.facts.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile),
        "beyond" -> Json.num(tail.beyond), "samples" -> Json.num(tail.n))),
      "names" -> Json.obj(w.names.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "end_to_end" -> Json.obj(EndToEnd.map { case (k, _) => k -> Json.num(e2e(k)) }),
      "layers" -> Json.obj(layers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(ctx.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "ops" -> Json.arr(all.map(o => Json.obj(Seq(
        "kind" -> Json.str(o.kind), "thread" -> Json.str(o.thread), "s" -> Json.num(o.seconds),
        "ok" -> o.ok.toString, "samples" -> Json.num(o.samples), "note" -> Json.str(o.note)))))))
    opt.get("detail").foreach(p => Files.write(Paths.get(p), detail.getBytes(UTF_8)))
    println(Record(correct, all.size, failed, metrics).toJson)
    0
  }
}

