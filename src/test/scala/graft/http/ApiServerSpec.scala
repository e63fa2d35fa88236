package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{Db, SparkSuite}

/** Real HTTP round trips against [[ApiServer]] on a loopback port — the
  * API surface is what a dashboard consumes, so each endpoint's status
  * code, envelope, and payload shape are pinned. */
class ApiServerSpec extends SparkSuite
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private lazy val dbPath: String = {
    val root = Files.createTempDirectory("graft-api-db").toString
    val store = new graft.storage.BlockStore(root, blockRangeMs = 1000L)
    val rows = Seq(
      ("{job=\"a\",inst=\"1\"}", Map("job" -> "a", "inst" -> "1"), 1L, 100L, 1.0),
      ("{job=\"a\",inst=\"1\"}", Map("job" -> "a", "inst" -> "1"), 2L, 1500L, 2.0),
      ("{job=\"a\",inst=\"2\"}", Map("job" -> "a", "inst" -> "2"), 3L, 200L, 3.0),
      ("{job=\"b\",inst=\"1\"}", Map("job" -> "b", "inst" -> "1"), 4L, 300L, 4.0))
      .toDF("series_key", "labels", "sample_id", "t", "v")
    store.write(rows)
    root
  }

  private lazy val (server, base) = {
    val s = ApiServer.start(spark, Db.open(spark, dbPath), port = 0)
    (s, s"http://127.0.0.1:${s.getAddress.getPort}")
  }
  override def afterAll(): Unit = {
    try server.stop(0) finally super.afterAll()
  }

  private val client = HttpClient.newHttpClient()
  private def get(pathAndQuery: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, form: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  test("query: instant vector at the store's max time by default") {
    val (code, body) = get(s"/api/v1/query?query=${enc("{job=\"a\"}")}")
    assert(code == 200, body)
    assert(body.startsWith("""{"status":"success","data":{"resultType":"vector""""))
    // both job=a series resolve at t=1501 under the default lookback
    assert(body.contains(""""inst":"1","job":"a""""))
    assert(body.contains(""""inst":"2","job":"a""""))
    assert(body.contains(""""value":[1.501,"2"]"""), body)
    assert(body.contains(""""value":[1.501,"3"]"""), body)
  }

  test("query: explicit time as unix seconds and RFC 3339") {
    val (_, atUnix) = get(s"/api/v1/query?query=${enc("{inst=\"1\"}")}&time=0.300")
    assert(atUnix.contains(""""value":[0.3,"4"]""") &&
      atUnix.contains(""""value":[0.3,"1"]"""), atUnix)
    val (_, atIso) =
      get(s"/api/v1/query?query=${enc("{inst=\"1\"}")}&time=1970-01-01T00:00:00.300Z")
    assert(atIso == atUnix)
  }

  test("query_range: matrix with values arrays; POST form works") {
    val (code, body) = post("/api/v1/query_range",
      s"query=${enc("sum({job=~\".+\"})")}&start=0&end=2&step=1")
    assert(code == 200, body)
    assert(body.contains(""""resultType":"matrix""""))
    // sum at t=1s: 1+3+4 = 8; at t=2s: 2+3+4 = 9
    assert(body.contains("""[1,"8"]""") && body.contains("""[2,"9"]"""), body)
  }

  test("query_range: parameter validation errors are bad_data 400s") {
    val q = enc("{job=\"a\"}")
    val (c1, b1) = get(s"/api/v1/query_range?query=$q&start=2&end=1&step=1")
    assert(c1 == 400 && b1.contains(""""errorType":"bad_data""""), b1)
    val (c2, b2) = get(s"/api/v1/query_range?query=$q&start=0&end=1&step=0")
    assert(c2 == 400 && b2.contains("step"), b2)
    val (c3, b3) = get(s"/api/v1/query_range?query=$q&start=0&end=100000&step=0.001")
    assert(c3 == 400 && b3.contains("11,000"), b3)
    val (c4, _) = get(s"/api/v1/query_range?query=$q&start=0&end=1")
    assert(c4 == 400)
    // end - start overflows a Long: the guard must still count 3e14 points
    val (c5, b5) = get(s"/api/v1/query_range?query=$q&start=-9e15&end=9e15&step=60")
    assert(c5 == 400 && b5.contains(""""errorType":"bad_data"""") && b5.contains("11,000"), b5)
  }

  test("query: a PromQL parse error is a bad_data 400") {
    val (code, body) = get(s"/api/v1/query?query=${enc("sum({job=\"a\"}")}")
    assert(code == 400 && body.contains(""""status":"error""""), body)
    assert(body.contains("promql"), body)
  }

  test("labels and label values, bare and matcher-scoped") {
    assert(get("/api/v1/labels")._2 ==
      """{"status":"success","data":["inst","job"]}""")
    assert(get("/api/v1/label/job/values")._2 ==
      """{"status":"success","data":["a","b"]}""")
    val scoped = get(s"/api/v1/label/inst/values?match[]=${enc("{job=\"b\"}")}")._2
    assert(scoped == """{"status":"success","data":["1"]}""")
  }

  test("labels?match[] lists the label names of the matched series only") {
    assert(get(s"/api/v1/labels?match[]=${enc("{job=\"b\"}")}")._2 ==
      """{"status":"success","data":["inst","job"]}""")
    assert(get(s"/api/v1/labels?match[]=${enc("{job=\"nope\"}")}")._2 ==
      """{"status":"success","data":[]}""")
  }

  test("label values under two match[] selectors are their union") {
    val both = get(s"/api/v1/label/inst/values?match[]=${enc("{job=\"b\"}")}" +
      s"&match[]=${enc("{inst=\"2\"}")}")._2
    assert(both == """{"status":"success","data":["1","2"]}""")
  }

  test("label values under match[] honour start and end") {
    val sel = enc("{inst=\"1\"}")
    assert(get(s"/api/v1/label/job/values?match[]=$sel")._2 ==
      """{"status":"success","data":["a","b"]}""")
    // job=a,inst=1 has samples at 100 and 1500 ms, outside [250, 400]
    assert(get(s"/api/v1/label/job/values?match[]=$sel&start=0.250&end=0.400")._2 ==
      """{"status":"success","data":["b"]}""")
  }

  test("series returns the matching label sets; no match[] is an error") {
    val (code, body) = get(s"/api/v1/series?match[]=${enc("{inst=\"1\"}")}")
    assert(code == 200)
    assert(body ==
      """{"status":"success","data":[{"inst":"1","job":"a"},{"inst":"1","job":"b"}]}""",
      body)
    // time bounds prune: only job=b's sample sits in [250, 400]
    val bounded =
      get(s"/api/v1/series?match[]=${enc("{inst=\"1\"}")}&start=0.250&end=0.400")._2
    assert(bounded == """{"status":"success","data":[{"inst":"1","job":"b"}]}""")
    assert(get("/api/v1/series")._1 == 400)
  }

  test("status endpoints and health checks") {
    val (code, body) = get("/api/v1/status/tsdb")
    assert(code == 200 && body.contains(""""numSeries":3"""), body)
    assert(get("/-/healthy") == ((200, "OK")))
    assert(get("/-/ready") == ((200, "OK")))
    assert(get("/api/v1/nope")._1 == 404)
  }

  test("duration and time parsing accept the Prometheus formats") {
    assert(ApiServer.parseDurationMs("90") == 90000L)
    assert(ApiServer.parseDurationMs("1m30s") == 90000L)
    assert(ApiServer.parseDurationMs("250ms") == 250L)
    assert(ApiServer.parseDurationMs("2h") == 7200000L)
    assert(ApiServer.parseTimeMs("1.5") == 1500L)
    assert(ApiServer.parseTimeMs("2024-01-01T00:00:00Z") == 1704067200000L)
    // RFC 3339 with a numeric UTC offset (+05:30 = the same instant)
    assert(ApiServer.parseTimeMs("2024-01-01T05:30:00+05:30") == 1704067200000L)
    intercept[Exception](ApiServer.parseDurationMs("bogus"))
  }

  test("query: a top-level range vector renders a MATRIX, every sample") {
    val (code, body) =
      get(s"/api/v1/query?query=${enc("{job=\"a\",inst=\"1\"}[5m]")}&time=2")
    assert(code == 200, body)
    assert(body.contains(""""resultType":"matrix""""), body)
    // the raw window carries BOTH samples at their original timestamps
    assert(body.contains(""""values":[[0.1,"1"],[1.5,"2"]]"""), body)
  }

  test("limit bounds series/labels/label-values and warns on truncation") {
    val all = enc("{job=~\".+\"}")
    val (c1, b1) = get(s"/api/v1/series?match[]=$all&limit=2")
    assert(c1 == 200, b1)
    assert(b1.count(_ == '{') == 3, b1) // envelope + exactly 2 label sets
    assert(b1.contains(""""warnings":["results truncated due to limit"]"""), b1)
    // a limit >= the cardinality returns everything, no warning
    val (_, b2) = get(s"/api/v1/series?match[]=$all&limit=10")
    assert(!b2.contains("warnings"), b2)
    val (_, b3) = get("/api/v1/labels?limit=1")
    assert(b3.contains(""""data":["inst"]""") && b3.contains("warnings"), b3)
    val (_, b4) = get("/api/v1/label/job/values?limit=1")
    assert(b4.contains(""""data":["a"]""") && b4.contains("warnings"), b4)
    // limit=0 means unlimited (the Prometheus convention)
    val (_, b5) = get("/api/v1/labels?limit=0")
    assert(b5.contains("""["inst","job"]""") && !b5.contains("warnings"), b5)
    assert(get("/api/v1/labels?limit=-1")._1 == 400)
    assert(get("/api/v1/labels?limit=abc")._1 == 400)
  }

  test("on a warm index, /labels and /label/job/values start no Spark job") {
    assert(get("/api/v1/labels")._1 == 200) // loads the index
    val sc = spark.sparkContext
    val fence = s"graft-api-fence-${System.nanoTime}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      assert(get("/api/v1/labels") == (200, """{"status":"success","data":["inst","job"]}"""))
      assert(get("/api/v1/label/job/values") == (200, """{"status":"success","data":["a","b"]}"""))
      // a fence job orders every earlier job-start event before it
      sc.setJobGroup(fence, "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (!groups.contains(fence) && System.nanoTime < deadline) Thread.sleep(10)
      assert(groups.contains(fence), "fence job never reached the listener")
      assert(groups.toArray.count(_ != fence) == 0, groups)
    } finally sc.removeSparkListener(listener)
  }

  test("format_query round-trips; parse_query returns the AST tree") {
    val (c1, b1) = get(s"/api/v1/format_query?query=${enc(
      "sum by(job) (rate(m{a=\"b\"}[5m])) / 2")}")
    assert(c1 == 200, b1)
    assert(b1 ==
      """{"status":"success","data":"sum by (job)(rate(m{a=\"b\"}[5m])) / 2"}""",
      b1)
    val (c2, b2) = get(s"/api/v1/parse_query?query=${enc("rate(m[5m])")}")
    assert(c2 == 200, b2)
    assert(b2.contains(""""type":"call","func":{"name":"rate"}"""), b2)
    assert(b2.contains(""""type":"matrixSelector""""), b2)
    assert(b2.contains(""""range":"5m""""), b2)
    assert(get(s"/api/v1/format_query?query=${enc("sum(")}")._1 == 400)
  }

  test("metadata is an honest empty object; timeout is validated") {
    assert(get("/api/v1/metadata")._2 == """{"status":"success","data":{}}""")
    val q = enc("{job=\"a\"}")
    assert(get(s"/api/v1/query?query=$q&timeout=30s")._1 == 200)
    assert(get(s"/api/v1/query?query=$q&timeout=bogus")._1 == 400)
  }

  test("native histograms through the serving stack: envelope + corridor query") {
    // a Db with a registered histogram channel — three cumulative
    // samples of one counter histogram series (z, (1,2] growing)
    val db2 = Db.open(spark, dbPath)
    def h(z: Double, c1: Double, sum: Double) =
      s"named_struct('schema', 0, 'zt', 0.5D, 'z_count', ${z}D, " +
        s"'count', ${z + c1}D, 'sum', ${sum}D, " +
        "'neg', cast(array() as array<struct<i:int,c:double>>), " +
        s"'pos', array(named_struct('i', 1, 'c', ${c1}D)))"
    val lbl = Map("__name__" -> "mh", "job" -> "h1")
    val hf = Seq(100L, 1100L, 2100L).zipWithIndex
      .map { case (t, k) => (lbl, t, k) }
      .toDF("labels", "t", "k")
      .withColumn("series_key", graft.functions.seriesKey(col("labels")))
      .withColumn("h", expr(
        "CASE k WHEN 0 THEN " + h(1, 2, 5.5) +
          " WHEN 1 THEN " + h(2, 4, 11.0) +
          " ELSE " + h(3, 6, 16.5) + " END"))
      .select("series_key", "labels", "t", "h")
    db2.registerHistograms(hf)
    import scala.jdk.CollectionConverters._
    def liveNonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    val threadsBefore = liveNonDaemon()
    val srv = ApiServer.start(spark, db2, port = 0)
    try {
      val b2 = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"$b2$pq")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // instant vector: the histogram sample envelope
      val (c1, v1) = get2(s"/api/v1/query?query=mh&time=2.2")
      assert(c1 == 200, v1)
      assert(v1.contains(""""histogram":[2.2,{"count":"9","sum":"16.5",""" +
        """"buckets":[[3,"0","0.5","3"],[0,"1","2","6"]]}]"""), v1)
      // the SLO corridor query returns a float vector computed from the
      // registered channel: rate window (0.2s, 2.2s] has the 1.1/2.1
      // samples, factor 1.0, rank 2.7 -> 1 + (2.7-1)/2
      val (c2, v2) = get2(
        s"/api/v1/query?query=${enc("histogram_quantile(0.9, rate(mh[2s]))")}&time=2.2")
      assert(c2 == 200, v2)
      assert(v2.contains(""""value":[2.2,"1.85"]"""), v2)
      // range query: the matrix histograms array
      val (c3, v3) = get2(s"/api/v1/query_range?query=mh&start=0&end=2.2&step=1.1")
      assert(c3 == 200, v3)
      assert(v3.contains(""""histograms":[[1.1,{"count":"6""""), v3)
      assert(v3.contains("""[2.2,{"count":"9""""), v3)
      // the float store still serves floats through the SAME mixed path
      val (c4, v4) = get2(s"/api/v1/query?query=${enc("{job=\"a\"}")}")
      assert(c4 == 200, v4)
      assert(v4.contains(""""value":[1.501,"2"]"""), v4)
      // matrix replay of a RANGE SELECTOR over the histogram channel:
      // the raw window samples come back as histograms (the float-only
      // replay gap, ADVICE r10) — window (−0.8, 2.2] holds all three
      val (c5, v5) = get2(s"/api/v1/query?query=${enc("mh[3s]")}&time=2.2")
      assert(c5 == 200, v5)
      assert(v5.contains(""""resultType":"matrix""""), v5)
      assert(v5.contains(""""histograms":[[0.1,{"count":"3""""), v5)
      assert(v5.contains("""[1.1,{"count":"6""""), v5)
      assert(v5.contains("""[2.1,{"count":"9""""), v5)
      // subquery matrix replay: the inner 1s lattice fills the latest
      // histogram per instant (no sample at/before instant 0)
      val (c6, v6) = get2(s"/api/v1/query?query=${enc("mh[3s:1s]")}&time=2.2")
      assert(c6 == 200, v6)
      assert(v6.contains(""""histograms":[[1,{"count":"3""""), v6)
      assert(v6.contains("""[2,{"count":"6""""), v6)
      // histogram arithmetic through the serving stack: mh + mh is a
      // one-to-one self-match doubling every channel
      val (c7, v7) = get2(
        s"/api/v1/query?query=${enc("histogram_count(mh + mh)")}&time=2.2")
      assert(c7 == 200, v7)
      assert(v7.contains(""""value":[2.2,"18"]"""), v7)
    } finally srv.stop(0)
    // a stopped server must not keep the JVM alive: its handler threads
    // outlive stop(0), so they have to be daemons
    val leftOver = liveNonDaemon() -- threadsBefore
    assert(leftOver.isEmpty, leftOver.map(_.getName))
  }
}
