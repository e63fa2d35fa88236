package graft.http

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.Db
import graft.matchers.Matcher
import graft.query.{PromQl, ResultJson}

/** The Prometheus HTTP query API over a [[graft.Db]] — the serving
  * surface a reference user points Grafana (or any API client) at. The
  * reference repo itself stops at the storage engine; the endpoint
  * shapes here are the public Prometheus HTTP API (`/api/v1/query`,
  * `query_range`, `labels`, `label/<n>/values`, `series`,
  * `status/tsdb`), so dashboards consume this store without a shim.
  *
  * Built on the JDK's `com.sun.net.httpserver` (zero dependencies). The
  * handler threads submit Spark jobs concurrently — Spark's scheduler
  * interleaves them; the driver only ever materializes lattice-sized
  * result payloads (series × instants), the same bound every API server
  * returns as one response body. Heavy lifting (selector resolution in
  * the postings index, scan pruning to the expression's reach) happens
  * in the compiled plans exactly as [[Db.promql]] documents — the
  * server adds parsing and JSON, not execution strategy.
  *
  * Envelope: `{"status":"success","data":…}` /
  * `{"status":"error","errorType":…,"error":…}` with Prometheus's
  * status codes (400 bad_data, 422 execution, 500 internal).
  */
object ApiServer {

  /** Start and return the server (caller stops it). `port = 0` picks a
    * free port — read it back from `server.getAddress.getPort`. */
  def start(
      spark: SparkSession,
      db: Db,
      port: Int,
      lookbackMs: Long = 300000L,
      nameLabel: String = "__name__"): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api/v1/", handler(spark, db, lookbackMs, nameLabel))
    server.createContext("/-/healthy", fixed(200, "OK"))
    server.createContext("/-/ready", fixed(200, "OK"))
    // a small pool: each request is a Spark action; the scheduler
    // interleaves them and the pool bounds driver-side fan-in. Daemon
    // threads: HttpServer.stop never shuts the pool down, so they must
    // not keep the JVM alive once the server is stopped
    val threads = java.util.concurrent.Executors.defaultThreadFactory()
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, { r =>
      val t = threads.newThread(r)
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  private final class ApiError(val code: Int, val errType: String, msg: String)
    extends RuntimeException(msg)
  private def badData(msg: String): Nothing =
    throw new ApiError(400, "bad_data", msg)

  private def fixed(code: Int, body: String): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, code, body, "text/plain; charset=utf-8")
  }

  private def respond(
      ex: HttpExchange, code: Int, body: String, cType: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", cType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os: OutputStream = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** GET query string and POST form body both carry params; repeated
    * keys (`match[]`) accumulate in order. */
  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    def parse(s: String): Seq[(String, String)] =
      s.split('&').toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
          case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
        }
      }
    val fromQuery = Option(ex.getRequestURI.getRawQuery).map(parse).getOrElse(Nil)
    val fromBody =
      if (ex.getRequestMethod == "POST")
        parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      else Nil
    (fromQuery ++ fromBody).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  private def one(ps: Map[String, Seq[String]], k: String): Option[String] =
    ps.get(k).flatMap(_.headOption).filter(_.nonEmpty)
  private def required(ps: Map[String, Seq[String]], k: String): String =
    one(ps, k).getOrElse(badData(s"missing parameter $k"))

  /** Prometheus time params: unix seconds (float, exponent allowed) or
    * RFC 3339 (including numeric UTC offsets, e.g. `+05:30`). */
  private[http] def parseTimeMs(s: String): Long =
    try {
      if (s.exists(c => c == 'T' || c == 'Z' || c == '-') && !s.matches("-?[0-9.]+([eE][-+]?[0-9]+)?"))
        java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
      else math.round(s.toDouble * 1000.0)
    } catch {
      case _: Exception => badData(s"invalid time '$s'")
    }

  /** Prometheus duration (`1m30s`, `250ms`) or float seconds. */
  private[http] def parseDurationMs(s: String): Long =
    try {
      if (s.matches("-?[0-9.]+")) math.round(s.toDouble * 1000.0)
      else {
        val re = "([0-9]+)(ms|s|m|h|d|w|y)".r
        val parts = re.findAllMatchIn(s).toSeq
        require(parts.nonEmpty && parts.map(_.matched).mkString == s)
        parts.map { m =>
          val n = m.group(1).toLong
          m.group(2) match {
            case "ms" => n
            case "s" => n * 1000L
            case "m" => n * 60000L
            case "h" => n * 3600000L
            case "d" => n * 86400000L
            case "w" => n * 7 * 86400000L
            case "y" => n * 365 * 86400000L
          }
        }.sum
      }
    } catch {
      case _: Exception => badData(s"invalid duration '$s'")
    }

  /** A `match[]` selector is a bare PromQL selector expression. */
  private def matchersOf(sel: String, nameLabel: String): Seq[Matcher] =
    PromQl.parse(sel) match {
      case PromQl.Selector(name, ms, 0L, None) =>
        name.map(n => graft.matchers.Eq(nameLabel, n)).toSeq ++ ms
      case _ => badData(s"'$sel' is not a plain series selector")
    }

  private def handler(
      spark: SparkSession,
      db: Db,
      lookbackMs: Long,
      nameLabel: String): HttpHandler = new HttpHandler {

    // instant queries default to the store's max time (a static store
    // has no "now"); range params are explicit per the API contract
    private def storeMaxMs: Long = db.blocks.map(_.maxt).maxOption.getOrElse(0L)

    /** The `limit` parameter (Prometheus: 0 or absent = unlimited).
      * Applied as `limit(n+1)` BEFORE the rows reach the driver so a
      * broad `match[]` never materializes an unbounded series set
      * there; the extra row only detects truncation for the warning. */
    private def limitOf(ps: Map[String, Seq[String]]): Option[Int] =
      one(ps, "limit").map { s =>
        val n = try s.toInt catch {
          case _: NumberFormatException => badData(s"invalid limit '$s'")
        }
        if (n < 0) badData("limit must be non-negative")
        n
      }.filter(_ > 0)

    private def bounded(
        df: org.apache.spark.sql.DataFrame,
        lim: Option[Int]): (Array[org.apache.spark.sql.Row], Seq[String]) = {
      // a local relation (label metadata resolved on the driver) is read
      // with collect(), which runs no Spark job; any other frame with
      // toLocalIterator, not collect(): a dashboard_http run ending on
      // this path kept 117 MB of live heap with collect(), 84 MB without
      val rows =
        if (df.isLocal) df.collect()
        else lim.fold(df)(n => df.limit(n + 1)).toLocalIterator().asScala.toArray
      lim match {
        case Some(n) if rows.length > n =>
          (rows.take(n), Seq("results truncated due to limit"))
        case _ => (rows, Nil)
      }
    }

    private def dataOf(
        path: String, ps: Map[String, Seq[String]]): (String, Seq[String]) =
      path match {
        case "query" =>
          val q = required(ps, "query")
          val t = one(ps, "time").map(parseTimeMs).getOrElse(storeMaxMs)
          one(ps, "timeout").foreach(parseDurationMs) // validated, unused
          val look = one(ps, "lookback_delta").map(parseDurationMs)
            .getOrElse(lookbackMs)
          val out = db.promql(q, t, t,
            stepMs = 60000L, lookbackMs = look, nameLabel = nameLabel)
          // a top-level range vector is a MATRIX (the raw window), not
          // a last-sample vector — the API's resultType switch
          (ResultJson.render(out, instant = !PromQl.isRangeVector(q)), Nil)
        case "query_range" =>
          val start = parseTimeMs(required(ps, "start"))
          val end = parseTimeMs(required(ps, "end"))
          val step = parseDurationMs(required(ps, "step"))
          one(ps, "timeout").foreach(parseDurationMs) // validated, unused
          if (end < start) badData("end timestamp must not be before start time")
          if (step <= 0) badData("zero or negative query resolution step")
          // in BigInt: a Long `end - start` wraps past ±9.2e18 ms
          if ((BigInt(end) - start) / step > 11000)
            badData("exceeded maximum resolution of 11,000 points per timeseries")
          val look = one(ps, "lookback_delta").map(parseDurationMs)
            .getOrElse(lookbackMs)
          val out = db.promql(required(ps, "query"), start, end,
            stepMs = step, lookbackMs = look, nameLabel = nameLabel)
          (ResultJson.render(out, instant = false), Nil)
        case "labels" =>
          val df = selectors(ps) match {
            case Some((sels, start, end)) => db.labelNames(sels, start, end)
            case None => db.labelNames()
          }
          val (rows, warns) = bounded(df, limitOf(ps))
          (rows.map(r => "\"" + ResultJson.esc(r.getString(0)) + "\"")
            .mkString("[", ",", "]"), warns)
        case p if p.startsWith("label/") && p.endsWith("/values") =>
          val name = p.stripPrefix("label/").stripSuffix("/values")
          val df = selectors(ps) match {
            case Some((sels, start, end)) => db.labelValues(name, sels, start, end)
            case None => db.labelValues(name)
          }
          val (rows, warns) = bounded(df, limitOf(ps))
          (rows.map(r => "\"" + ResultJson.esc(r.getString(0)) + "\"")
            .mkString("[", ",", "]"), warns)
        case "series" =>
          val sel = selectedSeries(ps)
            .getOrElse(badData("no match[] parameter provided"))
          // entry-array dedup (PromQl.seriesLabelsDim), not
          // groupBy + first(labels): the map buffer form runs as a
          // SortAggregate over the matched sample volume
          val df = graft.query.PromQl
            .seriesLabelsDim(sel.select("series_key", "labels"))
            .orderBy("series_key")
          val (rows, warns) = bounded(df, limitOf(ps))
          (rows.map(r => ResultJson.labelsJson(r.getMap[String, String](1)))
            .mkString("[", ",", "]"), warns)
        case "format_query" =>
          ("\"" + ResultJson.esc(
            PromQl.format(PromQl.parse(required(ps, "query")))) + "\"", Nil)
        case "parse_query" =>
          (PromQl.astJson(PromQl.parse(required(ps, "query"))), Nil)
        case "metadata" =>
          // honest empty object: the store carries no scraped metadata
          ("{}", Nil)
        case "status/tsdb" =>
          // headStats from the manifest + postings dictionary — the
          // `analyze` report's machine-readable sibling; no sample scan
          val bs = db.blocks
          val samples = bs.map(_.numSamples).sum
          val series = bs.map(_.numSeries.toLong).sum
          (s"""{"headStats":{"numSeries":$series,"numLabelPairs":0,""" +
            s""""chunkCount":${bs.size},"minTime":${if (bs.isEmpty) 0 else bs.map(_.mint).min},""" +
            s""""maxTime":${if (bs.isEmpty) 0 else bs.map(_.maxt).max}},""" +
            s""""numSamples":$samples,"numBlocks":${bs.size}}""", Nil)
        case "status/buildinfo" =>
          ("""{"version":"graft","revision":"","branch":"","buildUser":"","buildDate":"","goVersion":""}""",
            Nil)
        case other => throw new ApiError(404, "not_found", s"unknown endpoint $other")
      }

    /** The `match[]` selectors with their `[start, end]` (unbounded
      * where absent); None without any selector. */
    private def selectors(
        ps: Map[String, Seq[String]]): Option[(Seq[Seq[Matcher]], Long, Long)] =
      ps.get("match[]").filter(_.nonEmpty).map { sels =>
        val start = one(ps, "start").map(parseTimeMs).getOrElse(Long.MinValue)
        val end = one(ps, "end").map(parseTimeMs).getOrElse(Long.MaxValue)
        (sels.map(matchersOf(_, nameLabel)), start, end)
      }

    /** The union read for all `match[]` selectors (distinct series
      * resolve downstream); time bounds prune blocks like any read. */
    private def selectedSeries(
        ps: Map[String, Seq[String]]): Option[org.apache.spark.sql.DataFrame] =
      selectors(ps).map { case (sels, start, end) => db.matching(sels, start, end) }

    def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/")
        val (data, warns) = dataOf(path, params(ex))
        val warnPart =
          if (warns.isEmpty) ""
          else warns.map(w => "\"" + ResultJson.esc(w) + "\"")
            .mkString(""","warnings":[""", ",", "]")
        respond(ex, 200, s"""{"status":"success","data":$data$warnPart}""",
          "application/json")
      } catch {
        case e: ApiError =>
          respond(ex, e.code, errJson(e.errType, e.getMessage), "application/json")
        case e: IllegalArgumentException =>
          respond(ex, 400, errJson("bad_data", e.getMessage), "application/json")
        case e: Exception =>
          respond(ex, 500, errJson("internal", String.valueOf(e.getMessage)),
            "application/json")
      }

    private def errJson(t: String, msg: String): String =
      s"""{"status":"error","errorType":"$t","error":"${ResultJson.esc(msg)}"}"""
  }
}
