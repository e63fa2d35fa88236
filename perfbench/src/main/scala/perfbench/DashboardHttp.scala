package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.Db
import graft.http.ApiServer
import graft.matchers.{Eq, Matcher}
import graft.query.{Postings, PromQl, ResultJson}
import graft.storage.Compaction

/** The read path from an HTTP request to JSON: two closed-loop clients
  * send a fixed Grafana-like mix to `ApiServer` over a compacted store
  * that nothing writes to. Every answer is checked against the closed
  * forms of the generated counters. */
final class DashboardHttp extends Workload {
  val name = "dashboard_http"
  val clients = 2

  private val IntervalMs = 60000L
  private val RangeMs = 2 * 3600 * 1000L
  private val T0 = 1700006400000L // a multiple of RangeMs
  private val SpanMs = 6 * 3600 * 1000L + 15 * 60000L
  private val End = T0 + SpanMs - IntervalMs // the newest sample
  private val Opts = Db.Options(blockRangeMs = RangeMs)
  private val Metrics = 20
  private val Jobs = 4
  private val Instances = 5
  private val Les = Seq("0.1" -> 10.0, "0.5" -> 50.0, "1" -> 90.0, "+Inf" -> 100.0)
  private val Hist = "http_request_duration_seconds_bucket"

  private var counters: IndexedSeq[Gen.Series] = IndexedSeq.empty
  private var buckets: IndexedSeq[Gen.Series] = IndexedSeq.empty
  private var root = ""
  private var db: Db = _
  private var server: HttpServer = _
  private var base = ""
  private val http = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(5)).build()
  private val json = new ObjectMapper()
  private val httpLock = new Object
  private var rngs: IndexedSeq[java.util.SplittableRandom] = IndexedSeq.empty

  private def metric(m: Int) = f"app_requests_$m%02d_total"

  def setup(ctx: Ctx): Unit = {
    val r = Gen.rng(ctx.seed, 11)
    counters = (for (m <- 0 until Metrics; j <- 0 until Jobs; i <- 0 until Instances) yield
      Gen.Series(Map("__name__" -> metric(m), "job" -> s"job-$j", "instance" -> s"host-$i:8080"),
        base = 1e6 + r.nextInt(1000000) + (m * 100 + j * 10 + i) * 1e-3,
        slope = (1 + r.nextInt(64)) / 4.0)).toIndexedSeq
    buckets = (for (j <- 0 until Jobs; i <- 0 until 2; c = (1 + r.nextInt(16)) / 8.0;
        (le, share) <- Les) yield
      Gen.Series(Map("__name__" -> Hist, "job" -> s"job-$j", "instance" -> s"host-$i:8080", "le" -> le),
        base = 1e5 * share, slope = c * share)).toIndexedSeq
    root = s"${ctx.work}/store"
    db = Db.open(ctx.spark, root, Opts)
    val all = counters ++ buckets
    // one write puts the whole span in one block, the layout a
    // fully compacted store has; the samples are generated in Spark from
    // each series' closed form
    import org.apache.spark.sql.functions.{col, lit}
    val steps = SpanMs / IntervalMs
    val defs = ctx.spark.createDataFrame(
      all.zipWithIndex.map { case (s, i) => Row(s.key, s.labels, s.base, s.slope, i.toLong) }.asJava,
      StructType(Seq(StructField("series_key", StringType), Gen.Schema("labels"),
        StructField("base", DoubleType), StructField("slope", DoubleType),
        StructField("idx", LongType))))
    val samples = defs.crossJoin(ctx.spark.range(steps).withColumnRenamed("id", "step"))
      .select(col("series_key"), col("labels"),
        (lit(T0) + col("step") * IntervalMs).as("t"),
        (col("base") + col("slope") * (col("step") * IntervalMs).cast("double") / 1000.0).as("v"),
        (col("idx") * steps + col("step") + 1).as("sample_id"))
    // valid by construction, so written straight to the block store
    ctx.phase("store_build_s")(db.store.write(samples))
    ctx.facts("series") = all.size.toString
    ctx.facts("samples") = (all.size * (SpanMs / IntervalMs)).toString
    ctx.facts("blocks") = db.blocks.size.toString
    ctx.facts("store_bytes") = db.blocks.map(_.bytes).sum.toString
    server = ApiServer.start(ctx.spark, db, 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/"
    rngs = (0 until clients).map(c => Gen.rng(ctx.seed, 100 + c))
    // warm-up, untimed: every request shape once, four at a time (a
    // whole cycle of the measured rounds took longer and was measured not
    // to speed up the first measured round)
    val warm = Gen.rng(ctx.seed, 99)
    val shapes = (0 until Mix.size).map(request(_, warm))
    ctx.phase("warmup_s") {
      val threads = (0 until 4).map { c =>
        val th = new Thread(() => for ((req, i) <- shapes.zipWithIndex if i % 4 == c) {
          val (code, body) = get(req.path)
          require(code == 200 && req.check(json.readTree(body))._1 == "", s"warm-up failed for ${req.path}")
        })
        th.start()
        th
      }
      threads.foreach(_.join())
    }
  }

  /** One request of the mix: its API path, the check of its response
    * (returns "" or a mismatch, and the samples returned), and the
    * selector it reads through. */
  private final class Req(val path: String, val check: JsonNode => (String, Long), val selector: Seq[Matcher])

  // PromQL and metadata requests alternate. The second client walks the
  // mix from its middle, so the two cover all of it in half a cycle
  // (`minRounds`), and the harness starts their requests in rounds, so
  // each request overlaps the same partner in every run: rate with
  // hist_all, series with label_values, sum_by with topk, labels with
  // hist_by_job. So a short run covers the whole mix, and its rates do
  // not depend on which requests it reached or which ones overlapped
  private val Mix = IndexedSeq("rate", "series", "sum_by", "labels", "hist_all",
    "label_values", "topk", "hist_by_job")
  override val minRounds: Int = Mix.size / clients
  private val Metadata = Set("series", "labels", "label_values")

  /** The request for mix entry `i`. */
  private def request(i: Int, r: java.util.SplittableRandom): Req = {
    val m = r.nextInt(Metrics)
    val mine = counters.filter(_.labels("__name__") == metric(m))
    val sel = Seq(Eq("__name__", metric(m)))
    val hist = Seq(Eq("__name__", Hist))
    def rng(q: String, hours: Int, step: Long) =
      s"query_range?query=${enc(q)}&start=${sec(End - hours * 3600000L)}&end=${sec(End)}&step=$step"
    Mix(i) match {
      case "rate" =>
        new Req(rng(s"rate(${metric(m)}[5m])", 1, 60),
          matrix(mine.map(s => (s.labels - "__name__") -> s.slope), 61), sel)
      case "sum_by" =>
        new Req(rng(s"sum by (job) (rate(${metric(m)}[5m]))", 6, 300),
          matrix(mine.groupBy(_.labels("job")).toSeq.map { case (j, ss) =>
            Map("job" -> j) -> ss.map(_.slope).sum }, 73), sel)
      case "hist_all" =>
        new Req(rng(s"histogram_quantile(0.75, sum by (le) (rate($Hist[5m])))", 1, 60),
          matrix(Seq(Map.empty[String, String] -> 0.8125), 61), hist)
      case "hist_by_job" =>
        new Req(rng(s"histogram_quantile(0.3, sum by (job, le) (rate($Hist[5m])))", 6, 300),
          matrix((0 until Jobs).map(j => Map("job" -> s"job-$j") -> 0.3), 73), hist)
      case "topk" =>
        val top = mine.sortBy(s => -s.at(T0, End)).take(3)
        new Req(s"query?query=${enc(s"topk(3, ${metric(m)})")}&time=${sec(End)}", node => {
          val res = node.path("data").path("result").elements().asScala.toSeq
          val got = res.map(e => labels(e.path("metric")) -> e.path("value").get(1).asDouble()).toMap
          val want = top.map(s => s.labels -> s.at(T0, End)).toMap
          (if (got.keySet == want.keySet && want.forall { case (k, v) => close(got(k), v) }) ""
           else s"topk got ${got.take(3)} want $want", res.size.toLong)
        }, sel)
      case "series" =>
        new Req(s"series?match[]=${enc(metric(m))}&start=${sec(End - 3600000L)}&end=${sec(End)}", node => {
          val got = node.path("data").elements().asScala.map(labels).toSet
          (if (got == mine.map(_.labels).toSet) "" else s"series got ${got.size} want ${mine.size}",
            got.size.toLong)
        }, sel)
      case "labels" =>
        new Req("labels", node => {
          val got = node.path("data").elements().asScala.map(_.asText()).toSet
          (if (got == Set("__name__", "instance", "job", "le")) "" else s"labels got $got", got.size.toLong)
        }, Nil)
      case "label_values" =>
        new Req("label/job/values", node => {
          val got = node.path("data").elements().asScala.map(_.asText()).toSet
          (if (got == (0 until Jobs).map(j => s"job-$j").toSet) "" else s"values got $got", got.size.toLong)
        }, Nil)
    }
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def sec(ms: Long) = (ms / 1000).toString
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
  private def labels(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** Check a matrix: these series (by label set), each at `points`
    * steps, every value the closed form. */
  private def matrix(want: Seq[(Map[String, String], Double)], points: Int): JsonNode => (String, Long) =
    node => {
      val res = node.path("data").path("result").elements().asScala.toSeq
      val got = res.map(e => labels(e.path("metric")) ->
        e.path("values").elements().asScala.map(_.get(1).asDouble()).toSeq).toMap
      val w = want.toMap
      val bad =
        if (got.keySet != w.keySet) s"series ${got.keySet.size} vs ${w.keySet.size}: ${got.keySet.diff(w.keySet).take(2)}"
        else got.collectFirst {
          case (k, vs) if vs.size != points || !vs.forall(close(_, w(k))) =>
            s"$k: ${vs.size} points, e.g. ${vs.headOption} want ${w(k)}"
        }.getOrElse("")
      (bad, got.values.map(_.size.toLong).sum)
    }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60)).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode(), resp.body())
  }

  def step(ctx: Ctx, client: Int, i: Int): Op = {
    val k = (i + client * minRounds) % Mix.size
    val req = request(k, rngs(client))
    val metadata = Metadata(Mix(k))
    var windowMs = (0L, 0L)
    val op = ctx.timed(Mix(k)) {
      def once() = {
        val t0 = System.currentTimeMillis()
        val res = get(req.path)
        windowMs = (t0, System.currentTimeMillis())
        res
      }
      // a traced run serializes requests so each one's server-side jobs
      // are exactly the untagged jobs started inside its window (the
      // server's threads carry no span: every call the benchmark makes
      // itself runs inside one)
      val (code, body) = if (ctx.trace.nonEmpty) httpLock.synchronized(once()) else once()
      if (code != 200) Outcome(ok = false, note = s"HTTP $code: ${body.take(200)}")
      else {
        val (bad, n) = req.check(json.readTree(body))
        Outcome(bad.isEmpty, n, bad)
      }
    }
    if (ctx.trace.nonEmpty && op.ok) {
      if (metadata)
        ctx.layer("http.metadata_jobs", ctx.trace.get.jobsIn("", windowMs._1, windowMs._2))
      else {
        replay(ctx, req.path, op)
        readLayers(ctx, req.selector)
      }
    }
    op
  }

  /** The storage read path under one request, traced by itself:
    * matcher resolution in the postings index, the selector's read over
    * the query's scan window, a point seek and a label-values lookup. */
  private def readLayers(ctx: Ctx, ms: Seq[Matcher]): Unit = {
    val t = ctx.trace.get
    def timed[T](name: String)(f: => T): (T, Double, SparkTotals) = {
      val t0 = System.nanoTime()
      val (r, sp) = t.span(name)(f)
      (r, (System.nanoTime() - t0) / 1e9, t.totals(sp))
    }
    val idx = db.store.postingsIndex(ctx.spark)
    val (matched, resolveS, resolve) =
      timed("postings")(Postings.seriesFor(idx, idx.select("series_key").limit(0), ms).count())
    ctx.layer("postings.resolve_s", resolveS)
    ctx.layer("postings.index_rows_read", resolve.inputRows)
    ctx.layer("postings.series_matched", matched)
    val (mint, maxt) = (End - 6 * 3600000L - 300000L, End)
    val (rows, readS, read) = timed("read")(
      db.query(mint, maxt, withLabels = true, ms: _*).select("series_key", "labels", "t", "v").collect().length)
    ctx.layer("storage.read_s", readS)
    ctx.layer("storage.rows_examined_per_sample_returned", if (rows > 0) read.inputRows.toDouble / rows else 0.0)
    val live = db.blocks.filter(_.overlaps(mint, maxt))
    ctx.layer("storage.blocks_touched", live.size)
    ctx.layer("storage.overlap_groups", Compaction.overlappingGroups(live).size)
    val st = db.store.manifest
    ctx.layer("storage.tombstone_intervals", st.tombstones.size + st.tombstoneFiles.map(_.count).sum)
    val one = (counters ++ buckets).find(s => ms.forall(m => m.matchesValue(s.labels.getOrElse(m.name, ""))))
    one.foreach(s => ctx.layer("storage.seek_s", timed("seek")(db.seek(s.labels, mint, maxt).collect())._2))
    ctx.layer("storage.label_values_s", timed("label_values")(db.labelValues("job").collect())._2)
  }

  /** The traced decomposition of one PromQL request: the same calls the
    * server makes (`Db.promql`, then `ResultJson.render`), in process
    * and on this thread, so every job is attributed exactly. */
  private def replay(ctx: Ctx, req: String, op: Op): Unit = {
    val t = ctx.trace.get
    val ps = req.dropWhile(_ != '?').drop(1).split('&').map(_.split("=", 2))
      .map(a => a(0) -> java.net.URLDecoder.decode(a(1), UTF_8)).toMap
    val q = ps("query")
    val instant = req.startsWith("query?")
    val (start, end, stepMs) =
      if (instant) (ps("time").toLong * 1000, ps("time").toLong * 1000, 60000L)
      else (ps("start").toLong * 1000, ps("end").toLong * 1000, ps("step").toLong * 1000)
    val w0 = System.nanoTime()
    val (_, opSpan) = t.span("replay") {
      val p0 = System.nanoTime()
      PromQl.parse(q)
      ctx.layer("promql.parse_s", (System.nanoTime() - p0) / 1e9)
      val b0 = System.nanoTime()
      val (df, buildSpan) = t.span("build")(db.promql(q, start, end, stepMs))
      val buildS = (System.nanoTime() - b0) / 1e9
      ctx.layer("promql.build_s", buildS)
      ctx.layer("promql.build_jobs", t.totals(buildSpan).jobs)
      val (nodes, exchanges, scans, broadcasts) = Trace.planShape(df)
      val ph = Trace.phases(df)
      ctx.layer("catalyst.analysis_s", ph.getOrElse("analysis", 0.0))
      ctx.layer("catalyst.optimization_s", ph.getOrElse("optimization", 0.0))
      ctx.layer("catalyst.planning_s", ph.getOrElse("planning", 0.0))
      ctx.layer("plan.nodes", nodes)
      ctx.layer("plan.exchanges", exchanges)
      ctx.layer("plan.scans", scans)
      ctx.layer("plan.broadcasts", broadcasts)
      val r0 = System.nanoTime()
      val (body, renderSpan) = t.span("render")(ResultJson.render(df, instant))
      val renderWall = (System.nanoTime() - r0) / 1e9
      val exec = t.totals(renderSpan)
      ctx.layer("promql.exec_s", exec.jobWallS)
      ctx.layer("result.render_s", math.max(0.0, renderWall - exec.jobWallS))
      ctx.layer("result.bytes", body.getBytes(UTF_8).length)
      ctx.layer("promql.rows_examined_per_point",
        if (op.samples > 0) exec.inputRows.toDouble / op.samples else 0.0)
      ctx.layer("http.overhead_s", op.seconds - buildS - renderWall)
    }
    ctx.sparkLayers(opSpan, (System.nanoTime() - w0) / 1e9)
  }

  def finish(ctx: Ctx): Unit = {
    server.stop(0)
    val want = (counters ++ buckets).map(_.key -> SpanMs / IntervalMs).toMap
    val got = Gen.seriesCounts(ctx.spark, root, Opts, T0, T0 + SpanMs)
    val diff = Gen.diffCounts(got, want)
    ctx.check("durability: per-series counts after re-open", diff.isEmpty, diff)
    liveSamples = got.values.sum
  }

  private var liveSamples = 0L
  def stored: (Long, Long) = (db.blocks.map(_.bytes).sum, liveSamples)

  val mix: Map[String, Double] = Mix.map(_ -> 1.0).toMap
  val mainKinds: Set[String] = Mix.toSet -- Metadata
  // the 6 h range queries: metadata requests were measured too short and
  // too unlike each other (0.4 to 2 s, set by which query of the other
  // client they overlap) for a steady median
  val sideKinds: Set[String] = Set("sum_by", "hist_by_job")

  val names: Map[String, String] = Map(
    "op_p50_s" -> "query_p50_s", "op_tail_s" -> "query_tail_s",
    "ops_per_s" -> "queries_per_s", "side_op_p50_s" -> "range_6h_p50_s",
    "samples_per_s" -> "returned_samples_per_s")
}
