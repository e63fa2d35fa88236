package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** PromQL front-end vectors — the fixtures follow the upstream promql
  * testdata style (`load 5m` series, `eval instant at 50m`), with the
  * expected values derived from the documented evaluation model:
  * left-open selector windows (Prometheus 3.x), counter extrapolation
  * per extrapolatedRate, one-to-one vector matching. */
class PromQlSpec extends SparkSuite {
  import spark.implicits._

  private val M = 60000L
  private val STEP5 = 5 * M

  /** `load <stepMs>`: each series' samples at t = 0, step, 2·step, … */
  private def load(stepMs: Long)(series: (Map[String, String], Seq[Double])*): DataFrame =
    series.flatMap { case (lbls, vs) =>
      vs.zipWithIndex.map { case (v, i) => (lbls, i * stepMs, v) }
    }.toDF("labels", "t", "v")
      .withColumn("series_key", graft.functions.seriesKey(col("labels")))
      .select("series_key", "labels", "t", "v")

  private def at(instantMs: Long, lookbackMs: Long = 300000L) =
    PromQl.Params(instantMs, instantMs, 60000L, lookbackMs)

  private def vals(df: DataFrame): Map[String, Double] =
    df.select("series_key", "v").as[(String, Double)].collect().toMap

  private def one(df: DataFrame): Double = {
    val rows = df.select("v").as[Double].collect()
    assert(rows.length == 1, s"expected one row, got ${rows.length}")
    rows.head
  }

  // the canonical counter fixture: 0 +10 x10 every 5m (upstream
  // functions.test `http_requests`)
  private lazy val counters = load(STEP5)(
    Map("__name__" -> "http_requests", "job" -> "api", "instance" -> "0") ->
      (0 to 10).map(_ * 10.0),
    Map("__name__" -> "http_requests", "job" -> "api", "instance" -> "1") ->
      (0 to 10).map(_ * 20.0))

  test("instant selector: latest in-lookback sample per series, staleness drops") {
    // samples at 0..50m; eval at 52m within lookback -> value at 50m
    val out = PromQl.eval("http_requests{instance=\"0\"}", counters, at(52 * M))
    assert(one(out) == 100.0)
    // eval at 56m: the 50m sample is 6m old > 5m lookback -> empty
    val stale = PromQl.eval("http_requests{instance=\"0\"}", counters, at(56 * M))
    assert(stale.count() == 0)
    // selector keeps the full label set incl. the metric name
    val lbls = PromQl.eval("http_requests", counters, at(50 * M))
      .select("labels").as[Map[String, String]].head()
    assert(lbls.contains("__name__"))
  }

  test("rate: counter extrapolation (functions.test vector: 0.03333/s)") {
    val out = PromQl.eval("rate(http_requests[50m])", counters, at(50 * M))
    val m = vals(out)
    assert(m.size == 2)
    // window (0, 50m]: first=10@5m, last=100@50m, extrapolates to the
    // full 3000 s window -> 100/3000
    assert(math.abs(m("{instance=\"0\",job=\"api\"}") - 100.0 / 3000.0) < 1e-9)
    assert(math.abs(m("{instance=\"1\",job=\"api\"}") - 200.0 / 3000.0) < 1e-9)
  }

  test("increase = rate × range; delta on a gauge") {
    val inc = vals(PromQl.eval("increase(http_requests[50m])", counters, at(50 * M)))
    assert(math.abs(inc("{instance=\"0\",job=\"api\"}") - 100.0) < 1e-9)
    val temp = load(STEP5)(
      Map("__name__" -> "cpu_temp") -> Seq(30.0, 29.0, 28.0, 27.0, 26.0))
    // window (0, 20m]: first=29@5m, last=26@20m, base=-3 over 900 s
    // sampled; extrapolates by durationToStart=300 (< threshold 330)
    // and durationToEnd=0 -> -3 * 1200/900 = -4
    val d = one(PromQl.eval("delta(cpu_temp[20m])", temp, at(20 * M)))
    assert(math.abs(d - (-4.0)) < 1e-9)
  }

  test("irate and idelta use the last two samples") {
    val ir = vals(PromQl.eval("irate(http_requests[15m])", counters, at(50 * M)))
    assert(math.abs(ir("{instance=\"0\",job=\"api\"}") - 10.0 / 300.0) < 1e-12)
    val id = vals(PromQl.eval("idelta(http_requests[15m])", counters, at(50 * M)))
    assert(id("{instance=\"0\",job=\"api\"}") == 10.0)
  }

  test("resets and changes count in-window transitions") {
    val s = load(M)(
      Map("__name__" -> "m") -> Seq(5.0, 6.0, 2.0, 3.0, 3.0, 1.0, 4.0))
    // window (0, 6m]: samples 6,2,3,3,1,4 — resets at 6->2 and 3->1;
    // changes: 6->2, 2->3, 3->1, 1->4 (3->3 is no change) = 4
    assert(one(PromQl.eval("resets(m[6m])", s, at(6 * M, lookbackMs = M))) == 2.0)
    assert(one(PromQl.eval("changes(m[6m])", s, at(6 * M, lookbackMs = M))) == 4.0)
  }

  test("deriv is the least-squares slope; predict_linear projects it") {
    // exactly linear: 10 per 300 s
    val d = one(PromQl.eval("deriv(http_requests{instance=\"0\"}[50m])",
      counters, at(50 * M)))
    assert(math.abs(d - 10.0 / 300.0) < 1e-9)
    // value at eval time (100) + slope * 3600
    val p = one(PromQl.eval("predict_linear(http_requests{instance=\"0\"}[50m], 3600)",
      counters, at(50 * M)))
    assert(math.abs(p - (100.0 + 3600.0 * 10.0 / 300.0)) < 1e-6)
  }

  test("the *_over_time family aggregates the trailing window") {
    val s = load(M)(Map("__name__" -> "m") -> Seq(1.0, 4.0, 2.0, 8.0))
    val p = at(3 * M, lookbackMs = M)
    def f(q: String) = one(PromQl.eval(q, s, p))
    // window (0, 3m]: 4, 2, 8
    assert(f("sum_over_time(m[3m])") == 14.0)
    assert(f("avg_over_time(m[3m])") == 14.0 / 3)
    assert(f("min_over_time(m[3m])") == 2.0)
    assert(f("max_over_time(m[3m])") == 8.0)
    assert(f("count_over_time(m[3m])") == 3.0)
    assert(f("last_over_time(m[3m])") == 8.0)
    assert(f("quantile_over_time(0.5, m[3m])") == 4.0)
    val mean = 14.0 / 3
    val varPop = (Seq(4.0, 2.0, 8.0).map(x => x * x).sum / 3) - mean * mean
    assert(math.abs(f("stdvar_over_time(m[3m])") - varPop) < 1e-9)
    assert(math.abs(f("stddev_over_time(m[3m])") - math.sqrt(varPop)) < 1e-9)
  }

  test("offset shifts the evaluation point back") {
    val out = PromQl.eval("http_requests{instance=\"0\"} offset 25m",
      counters, at(50 * M))
    assert(one(out) == 50.0) // the value at 25m
    // negative offset looks FORWARD (Prometheus allows it)
    val fwd = PromQl.eval("http_requests{instance=\"0\"} offset -25m",
      counters, at(25 * M))
    assert(one(fwd) == 100.0) // the value at 50m
    // scan bounds widen AHEAD of the window for forward offsets
    val (_, hi) = PromQl.scanBoundsMs(
      "m offset -10m", 0, 25 * M, 300000)
    assert(hi >= 35 * M, hi)
  }

  test("@ pins the evaluation time; start()/end() resolve to the range") {
    // a RANGE evaluation where every instant reads the @-pinned value
    val p = PromQl.Params(40 * M, 50 * M, STEP5)
    val pinned = PromQl.eval("http_requests{instance=\"0\"} @ 1500", counters, p)
    val rows = pinned.select("t", "v").as[(Long, Double)].collect().toSet
    assert(rows == Set(40L, 45L, 50L).map(m => (m * M, 50.0))) // value @25m
    val atEnd = PromQl.eval("http_requests{instance=\"0\"} @ end()", counters, p)
    assert(atEnd.select("v").as[Double].collect().toSet == Set(100.0))
    val atStart = PromQl.eval("http_requests{instance=\"0\"} @ start()", counters, p)
    assert(atStart.select("v").as[Double].collect().toSet == Set(80.0))
    // binary op between pinned and moving vectors works per instant
    val ratio = PromQl.eval(
      "http_requests{instance=\"0\"} / http_requests{instance=\"0\"} @ 1500",
      counters, p)
    assert(ratio.select("t", "v").as[(Long, Double)].collect().toMap ==
      Map(40 * M -> 80.0 / 50, 45 * M -> 90.0 / 50, 50 * M -> 100.0 / 50))
    // @ on a SUBQUERY pins the inner window (25m here) at every outer
    // instant: inner 1m lattice points over (20m, 25m] are
    // 40,40,40,40,50 → delta 10 over a 240s sampled interval,
    // extrapolated to the 300s window: 12.5/300 per second
    val sqAt = PromQl.eval(
      "rate((http_requests{instance=\"0\"})[5m:1m] @ 1500)", counters, p)
    val sqRows = sqAt.select("t", "v").as[(Long, Double)].collect().toMap
    assert(sqRows.keySet == Set(40L * M, 45L * M, 50L * M), sqRows)
    sqRows.values.foreach(v => assert(math.abs(v - 12.5 / 300.0) < 1e-12, v))
  }

  test("aggregations: sum/avg/count/topk/quantile/count_values with by") {
    val p = at(50 * M)
    val sum = PromQl.eval("sum by (job) (http_requests)", counters, p)
    assert(vals(sum) == Map("{job=\"api\"}" -> 300.0))
    val cnt = PromQl.eval("count(http_requests)", counters, p)
    assert(vals(cnt) == Map("{}" -> 2.0))
    val avg = PromQl.eval("avg without (instance) (http_requests)", counters, p)
    assert(vals(avg) == Map("{job=\"api\"}" -> 150.0))
    // topk keeps the winning input series' full labels
    val top = PromQl.eval("topk(1, http_requests)", counters, p)
    val topRows = top.select("series_key", "v").as[(String, Double)].collect().toSeq
    assert(topRows.length == 1 && topRows.head._2 == 200.0)
    assert(topRows.head._1.contains("instance=\"1\""))
    val q = PromQl.eval("quantile(0.5, http_requests)", counters, p)
    assert(vals(q) == Map("{}" -> 150.0))
    val cv = PromQl.eval("count_values(\"val\", http_requests)", counters, p)
    assert(vals(cv) == Map("{val=\"100\"}" -> 1.0, "{val=\"200\"}" -> 1.0))
    // group(): 1 per present group, under by and without alike
    assert(vals(PromQl.eval("group by (job) (http_requests)", counters, p)) ==
      Map("{job=\"api\"}" -> 1.0))
    assert(vals(PromQl.eval("group without (instance) (http_requests)", counters, p)) ==
      Map("{job=\"api\"}" -> 1.0))
  }

  test("binary ops: vector-scalar arithmetic, comparison filter and bool") {
    val p = at(50 * M)
    val doubled = vals(PromQl.eval("http_requests * 2", counters, p))
    // arithmetic drops the metric name from the result labels
    assert(doubled == Map(
      "{instance=\"0\",job=\"api\"}" -> 200.0,
      "{instance=\"1\",job=\"api\"}" -> 400.0))
    val filtered = PromQl.eval("http_requests > 150", counters, p)
    assert(vals(filtered).values.toSeq == Seq(200.0)) // keeps the value
    val bool = vals(PromQl.eval("http_requests > bool 150", counters, p))
    assert(bool.values.toSet == Set(0.0, 1.0))
  }

  test("binary ops: one-to-one vector matching, on/ignoring, set ops") {
    val p = at(50 * M)
    val errors = load(STEP5)(
      Map("__name__" -> "http_errors", "job" -> "api", "instance" -> "0") ->
        (0 to 10).map(_ * 1.0),
      Map("__name__" -> "http_errors", "job" -> "api", "instance" -> "1") ->
        (0 to 10).map(_ * 5.0))
    val both = counters.unionByName(errors)
    // default matching: all labels ignoring __name__
    val ratio = vals(PromQl.eval("http_errors / http_requests", both, p))
    assert(math.abs(ratio("{instance=\"0\",job=\"api\"}") - 0.1) < 1e-9)
    assert(math.abs(ratio("{instance=\"1\",job=\"api\"}") - 0.25) < 1e-9)
    // on(instance): same result here, through the explicit key
    val on = vals(PromQl.eval("http_errors / on(instance, job) http_requests", both, p))
    assert(on == ratio)
    // and / unless
    val and = PromQl.eval("http_requests and http_errors", both, p)
    assert(and.count() == 2)
    val unless = PromQl.eval(
      "http_requests unless http_errors{instance=\"0\"}", both, p)
    assert(vals(unless).keySet.forall(_.contains("instance=\"1\"")))
    // or: rhs series join in only when their MATCH KEY (labels
    // ignoring __name__) is absent from the lhs — http_errors
    // {instance="0"} shares its key with the lhs series and is dropped
    val or = PromQl.eval(
      "http_requests{instance=\"0\"} or http_errors", both, p)
    val orRows = vals(or)
    assert(orRows.size == 2, orRows)
    assert(orRows.values.toSet == Set(100.0, 50.0)) // lhs req + errors{1}
  }

  test("one-to-one on/ignoring narrows result labels to the match key") {
    val p = at(50 * M)
    // the docs' canonical shape: errors carry an extra `code` label the
    // requests side lacks — ignoring(code) matches, and the RESULT
    // drops code (and the name): {instance, job} only
    val coded = load(STEP5)(
      Map("__name__" -> "http_errors", "job" -> "api", "instance" -> "0",
        "code" -> "500") -> (0 to 10).map(_ * 1.0))
    val both = counters.unionByName(coded)
    val ig = vals(PromQl.eval(
      "http_errors / ignoring(code) http_requests", both, p))
    assert(ig == Map("{instance=\"0\",job=\"api\"}" -> 0.1), ig)
    // on(instance): ONLY the on-list survives into the result
    val on = vals(PromQl.eval(
      "http_errors / on(instance) http_requests", both, p))
    assert(on == Map("{instance=\"0\"}" -> 0.1), on)
    // bool comparisons narrow the same way; plain filter comparisons
    // keep the surviving sample's ORIGINAL labels, name included
    val bool = vals(PromQl.eval(
      "http_errors >= bool on(instance) http_requests", both, p))
    assert(bool == Map("{instance=\"0\"}" -> 0.0), bool)
    val filt = PromQl.eval(
      "http_errors < on(instance) http_requests", both, p)
      .select("labels").as[Map[String, String]].collect()
    assert(filt.length == 1 && filt.head("code") == "500" &&
      filt.head("__name__") == "http_errors")
  }

  test("instant functions and nesting") {
    val p = at(50 * M)
    val s = vals(PromQl.eval("sqrt(http_requests{instance=\"0\"})", counters, p))
    assert(s.values.head == 10.0)
    val nested = one(PromQl.eval(
      "sum(rate(http_requests[50m])) * 3000", counters, p))
    assert(math.abs(nested - 300.0) < 1e-6)
    val clamp = vals(PromQl.eval("clamp(http_requests, 120, 180)", counters, p))
    assert(clamp.values.toSet == Set(120.0, 180.0))
    val neg = one(PromQl.eval("-http_requests{instance=\"0\"}", counters, p))
    assert(neg == -100.0)
    assert(one(PromQl.eval("vector(42)", counters, at(0))) == 42.0)
  }

  test("histogram_quantile interpolates within the winning bucket") {
    def bucket(le: String, v: Double) =
      Map("__name__" -> "lat_bucket", "le" -> le, "job" -> "x") -> Seq(v)
    val h = load(M)(
      bucket("0.1", 50.0), bucket("0.2", 70.0), bucket("0.4", 90.0),
      bucket("1", 100.0), bucket("+Inf", 100.0))
    val p = at(0, lookbackMs = M)
    assert(math.abs(one(PromQl.eval(
      "histogram_quantile(0.5, lat_bucket)", h, p)) - 0.1) < 1e-9)
    assert(math.abs(one(PromQl.eval(
      "histogram_quantile(0.9, lat_bucket)", h, p)) - 0.4) < 1e-9)
    // the +Inf bucket wins -> the highest finite bound
    assert(one(PromQl.eval("histogram_quantile(1, lat_bucket)", h, p)) == 1.0)
    // result drops le and groups by the remaining labels
    val k = PromQl.eval("histogram_quantile(0.5, lat_bucket)", h, p)
      .select("series_key").as[String].head()
    assert(k == "{job=\"x\"}")
  }

  test("range evaluation produces one point per lattice instant") {
    val out = PromQl.eval("sum(http_requests)",
      counters, PromQl.Params(0, 50 * M, STEP5))
    // instants 0..50m step 5m -> 11 points, each the sum at that time
    assert(out.count() == 11)
    val at25 = out.where(col("t") === 25 * M).select("v").as[Double].head()
    assert(at25 == 50.0 + 100.0) // 5*10 + 5*20
  }

  test("absent, label_replace, label_join") {
    val p = at(50 * M)
    // http_requests exists at 50m -> absent() empty; nonexistent -> 1
    assert(PromQl.eval("absent(http_requests)", counters, p).count() == 0)
    val ab = PromQl.eval("absent(nonexistent{job=\"myjob\"})", counters, p)
    val abRow = ab.select("series_key", "v").as[(String, Double)].head()
    assert(abRow == (("{job=\"myjob\"}", 1.0))) // Eq matchers become labels
    // label_replace: $1 expansion on match; mismatch passes through
    val lr = PromQl.eval(
      "label_replace(http_requests, \"inst2\", \"i$1\", \"instance\", \"(.*)\")",
      counters, p)
    val lrKeys = lr.select("series_key").as[String].collect().toSet
    assert(lrKeys.forall(_.contains("inst2=\"i")), lrKeys)
    val miss = PromQl.eval(
      "label_replace(http_requests, \"x\", \"y\", \"instance\", \"zzz\")",
      counters, p)
    assert(miss.select("series_key").as[String].collect()
      .forall(!_.contains("x=\"")))
    // label_join concatenates src values into dst
    val lj = PromQl.eval(
      "label_join(http_requests, \"combo\", \"-\", \"job\", \"instance\")",
      counters, p)
    assert(lj.select("series_key").as[String].collect().toSet
      .exists(_.contains("combo=\"api-0\"")))
    // maxLookbehindMs: range + offset dominate the staleness lookback
    assert(PromQl.maxLookbehindMs("rate(m[30m] offset 10m)", 300000L) == 40 * M)
    assert(PromQl.maxLookbehindMs("sum(m)", 300000L) == 5 * M)
  }

  test("time(), timestamp(), calendar functions, holt_winters") {
    val p = at(50 * M)
    // time() is a time-varying scalar: joins per instant
    val tv = one(PromQl.eval("http_requests{instance=\"0\"} - time()", counters, p))
    assert(tv == 100.0 - 3000.0) // v=100 at t=50m=3000s
    // timestamp(v) = the sample's instant in seconds
    val ts = one(PromQl.eval("timestamp(http_requests{instance=\"0\"})", counters, p))
    assert(ts == 3000.0)
    // calendar: 1970-01-01T00:50Z
    assert(one(PromQl.eval("minute()", counters, p)) == 50.0)
    assert(one(PromQl.eval("hour()", counters, p)) == 0.0)
    assert(one(PromQl.eval("day_of_week()", counters, p)) == 4.0) // Thursday
    assert(one(PromQl.eval("days_in_month()", counters, p)) == 31.0)
    // per-element form reads the VALUE as epoch seconds
    val dm = one(PromQl.eval(
      "day_of_month(timestamp(http_requests{instance=\"0\"}))", counters, p))
    assert(dm == 1.0)
    // scalar-scalar comparison requires bool
    intercept[IllegalArgumentException] {
      PromQl.eval("time() > 100", counters, p)
    }
    assert(one(PromQl.eval(
      "http_requests{instance=\"0\"} * (time() > bool 100)", counters, p)) == 100.0)
    // holt_winters: recurrence differential vs the batch operator on
    // one aligned window (samples 0..100 linear -> smoothed tracks it)
    val hw = one(PromQl.eval(
      "holt_winters(http_requests{instance=\"0\"}[50m], 0.5, 0.3)", counters, p))
    val batch = Rate.holtWinters(
        counters.where(col("series_key").contains("instance=\"0\""))
          .where(col("t") > 0) // the half-open window (0, 50m]
          // the recurrence reads only VALUE ORDER; shift t off the
          // boundary so all samples land in ONE tumbling [0, 50m) bucket
          .withColumn("t", col("t") - 1)
          .withColumn("sample_id", col("t")),
        bucketMs = 50 * M, sf = 0.5, tf = 0.3)
      .select("smoothed").as[Double].head()
    assert(math.abs(hw - batch) < 5e-4) // batch rounds 4dp
  }

  test("absent_over_time flags windowless instants") {
    val s = load(M)(Map("__name__" -> "m") -> Seq(1.0, 2.0))
    // samples at 0, 1m; eval 0..10m step 1m, window 2m: present through
    // t=2m (the 1m sample is in (0, 2m]); at 3m the LEFT-OPEN window
    // (1m, 3m] already excludes the sample at exactly 1m -> absent from
    // 3m on
    val out = PromQl.eval("absent_over_time(m[2m])", s,
      PromQl.Params(0, 10 * M, M))
    assert(out.select("t").as[Long].collect().sorted.toSeq ==
      (3L to 10L).map(_ * M))
    assert(out.select("v").as[Double].collect().forall(_ == 1.0))
  }

  test("sum by (job) equals sum without the other labels") {
    val a = vals(PromQl.eval("sum by (job) (http_requests)", counters, at(50 * M)))
    val b = vals(PromQl.eval("sum without (instance, __name__) (http_requests)",
      counters, at(50 * M)))
    assert(a == b && a == Map("{job=\"api\"}" -> 300.0))
  }

  test("subqueries: range functions over an inner evaluation lattice") {
    // inner sum(http_requests) at the aligned 5m lattice instants in
    // (25m, 50m]: t = 30..50m -> 180, 210, 240, 270, 300
    val p = at(50 * M)
    assert(one(PromQl.eval(
      "max_over_time(sum(http_requests)[25m:5m])", counters, p)) == 300.0)
    assert(one(PromQl.eval(
      "min_over_time(sum(http_requests)[25m:5m])", counters, p)) == 180.0)
    assert(one(PromQl.eval(
      "avg_over_time(sum(http_requests)[25m:5m])", counters, p)) == 240.0)
    // deriv over the inner series: exactly linear, 120 per 20 minutes
    assert(math.abs(one(PromQl.eval(
      "deriv(sum(http_requests)[25m:5m])", counters, p)) - 30.0 / 300.0) < 1e-9)
    // default resolution `[25m:]` = Params.defaultEvalMs (60s, the
    // upstream default-evaluation-interval analogue): finer lattice,
    // same extremes
    assert(one(PromQl.eval(
      "max_over_time(sum(http_requests)[25m:])", counters, p)) == 300.0)
    // lookbehind accounts for the subquery range + inner staleness
    assert(PromQl.maxLookbehindMs("max_over_time(sum(m)[30m:5m])", 5 * M) == 35 * M)
  }

  test("group_left/group_right: many-to-one matching with include labels") {
    val info = load(STEP5)(
      Map("__name__" -> "job_info", "job" -> "api", "version" -> "v2") ->
        (0 to 10).map(_ => 1.0))
    val both = counters.unionByName(info)
    val p = at(50 * M)
    // both per-instance series match the ONE per-job info row
    val r = vals(PromQl.eval(
      "http_requests * on(job) group_left job_info", both, p))
    assert(r.size == 2 && r.values.toSet == Set(100.0, 200.0))
    // include labels copy over from the one side
    val rv = vals(PromQl.eval(
      "http_requests * on(job) group_left(version) job_info", both, p))
    assert(rv.keySet.forall(_.contains("version=\"v2\"")), rv.keySet)
    // group_right: the many side is on the right; written operand order
    // is preserved in the value expression
    val rr = vals(PromQl.eval(
      "job_info * on(job) group_right http_requests", both, p))
    assert(rr.size == 2 && rr.values.toSet == Set(100.0, 200.0))
    // group_left without on/ignoring is rejected
    intercept[IllegalArgumentException] {
      PromQl.parse("a * group_left b")
    }
  }

  test("review fixes: Inf/NaN literals, round ties, top-level time(), scan bounds") {
    val p = at(50 * M)
    // Inf/NaN are number literals, not metric selectors
    val lt = PromQl.eval("http_requests < Inf", counters, p)
    assert(lt.count() == 2) // everything passes
    assert(PromQl.eval("http_requests < -Inf", counters, p).count() == 0)
    // round() ties round UP, agreeing with the two-arg form: evaluate
    // at both sample instants (one series, one value visible per t)
    val s = load(M)(Map("__name__" -> "m") -> Seq(-2.5, 2.5))
    val r = PromQl.eval("round(m)", s, PromQl.Params(0, M, M, lookbackMs = M))
      .select("v").as[Double].collect().sorted.toSeq
    assert(r == Seq(-2.0, 3.0), r)
    // a time()-valued top-level query materializes as a {} vector
    val tv = PromQl.eval("time() * 2", counters, PromQl.Params(0, 10 * M, 5 * M))
    assert(tv.select("t", "v").as[(Long, Double)].collect().toMap ==
      Map(0L -> 0.0, 5 * M -> 600.0, 10 * M -> 1200.0))
    assert(one(PromQl.eval("-time()", counters, at(1000 * 1000))) == -1000.0)
    // scan bounds widen for @-pinned instants outside the window
    val (lo, hi) = PromQl.scanBoundsMs(
      "m @ 60 + rate(m[5m] offset 2m)", 3600000, 7200000, 300000)
    assert(lo <= 60000 - 300000 && hi >= 7200000, (lo, hi))
  }

  test("parse errors: unsupported constructs are rejected loudly") {
    intercept[IllegalArgumentException] { PromQl.parse("a + group_left b") }
    intercept[IllegalArgumentException] { PromQl.parse("rate(m[5m)") }
    intercept[IllegalArgumentException] { PromQl.parse("m{label=}") }
    // scalar() over a missing metric is legal (NaN), but an unknown
    // function still fails loudly
    intercept[IllegalArgumentException] {
      PromQl.eval("histogram_fraction(0, 0.2, m)", counters, at(0))
    }
    // durations: compound and ms units lex correctly
    assert(PromQl.parse("m[1h30m]") ==
      PromQl.RangeSel(PromQl.Selector(Some("m"), Nil, 0L), 90 * M))
    assert(PromQl.parse("m[1500ms]") ==
      PromQl.RangeSel(PromQl.Selector(Some("m"), Nil, 0L), 1500L))
  }

  test("differential: PromQL increase matches Rate.extrapolatedRate on aligned buckets") {
    // The tumbling-bucket operator and the sliding-window evaluator
    // agree when the window IS the bucket. Timestamps sit off every
    // bucket boundary (t ≡ 13 mod 60000) so the two conventions —
    // half-open (b−H, b] here, [b−H, b) in rangeForTimestamp — contain
    // identical sample sets.
    val H = 3600000L
    val T0 = 1704067200000L
    val src = spark.range(200L * 50L).select(
        concat(lit("s"), (col("id") % 200).cast("string")).as("sk"),
        col("id").as("sample_id"),
        (lit(T0) + expr("id div 200") * 60000L + 13L).as("t"),
        // counter with planted resets every 17th sample
        when(pmod(col("id"), lit(17)) === 0, lit(0.5))
          .otherwise((expr("id div 200") * 3 + pmod(col("id"), lit(7))).cast("double"))
          .as("v"))
      .withColumn("labels", map(lit("__name__"), lit("m"), lit("sk"), col("sk")))
      .withColumn("series_key", graft.functions.seriesKey(col("labels")))
    val p = PromQl.Params(T0 + H, T0 + 3 * H, H)
    val got = PromQl.eval("increase(m[1h])", src, p)
      .select(col("labels").getItem("sk").as("sk"),
        col("t").as("t_bucket"), round(col("v"), 4).as("v"))
    val want = Rate.extrapolatedRate(
        src.select(col("sk").as("series_key"), col("sample_id"), col("t"), col("v")), H)
      .where(col("t_bucket").between(T0 + H, T0 + 3 * H))
      .select(col("series_key").as("sk"), col("t_bucket"),
        col("xincrease").as("v"))
    val g = got.as[(String, Long, Double)].collect().toSet
    val w = want.as[(String, Long, Double)].collect().toSet
    assert(g.nonEmpty)
    assert(g == w, s"only-promql=${(g -- w).take(3)} only-rate=${(w -- g).take(3)}")
  }

  test("operator precedence: unary minus binds below right-assoc ^") {
    val p = at(0)
    assert(one(PromQl.eval("-2^2", counters, p)) == -4.0)
    assert(one(PromQl.eval("2^-2", counters, p)) == 0.25)
    assert(one(PromQl.eval("-2^-2", counters, p)) == -0.25)
    assert(one(PromQl.eval("2^3^2", counters, p)) == 512.0) // right-assoc
    assert(one(PromQl.eval("-http_requests{instance=\"0\"}^2",
      counters, at(50 * M))) == -10000.0)
  }

  test("scalar(): the single element's value per instant, NaN on 0/>=2") {
    val p = at(50 * M)
    val share = vals(PromQl.eval(
      "http_requests / scalar(sum(http_requests))", counters, p))
    assert(math.abs(share("{instance=\"0\",job=\"api\"}") - 1.0 / 3) < 1e-9)
    assert(math.abs(share("{instance=\"1\",job=\"api\"}") - 2.0 / 3) < 1e-9)
    assert(one(PromQl.eval("scalar(http_requests)", counters, p)).isNaN) // 2 elements
    assert(one(PromQl.eval(
      "scalar(http_requests{instance=\"9\"})", counters, p)).isNaN) // empty
  }

  test("@ on range selectors pins the window; subquery @ resolves the outer range") {
    val p = PromQl.Params(40 * M, 50 * M, STEP5)
    val inc = PromQl.eval(
      "increase(http_requests{instance=\"0\"}[50m] @ end())", counters, p)
    val rows = inc.select("t", "v").as[(Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(40L * M, 45L * M, 50L * M))
    assert(rows.forall(r => math.abs(r._2 - 100.0) < 1e-9))
    // @ start() INSIDE a subquery resolves against the OUTERMOST start
    // (40m, value 80) — not the subquery-widened inner lattice's start
    val sub = PromQl.eval(
      "avg_over_time((http_requests{instance=\"0\"} @ start())[10m:5m])",
      counters, p)
    assert(sub.select("v").as[Double].collect().toSet == Set(80.0))
  }

  test("a subquery over a scalar-typed body is rejected cleanly") {
    val ex = intercept[IllegalArgumentException] {
      PromQl.eval("avg_over_time(time()[1h:1m])", counters, at(50 * M))
    }
    assert(ex.getMessage.contains("promql:"))
  }

  test("histogram_quantile requires a +Inf top bucket") {
    def bucket(le: String, v: Double) =
      Map("__name__" -> "lat_bucket", "le" -> le, "job" -> "x") -> Seq(v)
    val finiteOnly = load(M)(bucket("0.1", 50.0), bucket("0.4", 100.0))
    assert(PromQl.eval("histogram_quantile(0.5, lat_bucket)",
      finiteOnly, at(0, lookbackMs = M)).count() == 0)
  }

  test("ln/log2/log10 domain edges: 0 -> -Inf, negative -> NaN") {
    val s = load(M)(
      Map("__name__" -> "g", "i" -> "a") -> Seq(0.0),
      Map("__name__" -> "g", "i" -> "b") -> Seq(-1.0),
      Map("__name__" -> "g", "i" -> "c") -> Seq(8.0))
    val p = at(0, lookbackMs = M)
    val m = vals(PromQl.eval("ln(g)", s, p))
    assert(m("{i=\"a\"}") == Double.NegativeInfinity)
    assert(m("{i=\"b\"}").isNaN)
    assert(m("{i=\"c\"}") == math.log(8.0))
    val l2 = vals(PromQl.eval("log2(g)", s, p))
    assert(l2("{i=\"c\"}") == 3.0)
    assert(l2("{i=\"a\"}") == Double.NegativeInfinity)
  }

  test("limitk picks lexicographically; limit_ratio hash-samples, complement unions") {
    val p = at(50 * M)
    val lk = PromQl.eval("limitk(1, http_requests)", counters, p)
      .select("series_key", "v").as[(String, Double)].collect()
    assert(lk.length == 1 && lk.head._2 == 100.0) // instance="0" sorts first
    assert(lk.head._1.contains("__name__")) // input label set retained
    assert(PromQl.eval("limitk(5, http_requests)", counters, p).count() == 2)
    val inKeys = vals(PromQl.eval("limit_ratio(0.5, http_requests)", counters, p)).keySet
    val outKeys = vals(PromQl.eval("limit_ratio(-0.5, http_requests)", counters, p)).keySet
    assert((inKeys & outKeys).isEmpty)
    assert((inKeys | outKeys).size == 2) // union is everything
    assert(PromQl.eval("limit_ratio(1.0, http_requests)", counters, p).count() == 2)
  }

  test("mad_over_time: median absolute deviation over the trailing window") {
    val s = load(M)(Map("__name__" -> "m") -> Seq(1.0, 4.0, 2.0, 8.0))
    val p = at(3 * M, lookbackMs = M)
    // window (0, 3m]: {4, 2, 8} — median 4, |dev| {0, 2, 4} -> 2
    assert(one(PromQl.eval("mad_over_time(m[3m])", s, p)) == 2.0)
    // even count (-1m, 3m]: {1, 4, 2, 8} — median 3, |dev| {2, 1, 1, 5} -> 1.5
    assert(one(PromQl.eval("mad_over_time(m[4m])", s, p)) == 1.5)
  }

  test("sort_by_label is a relational identity over the element set") {
    val p = at(50 * M)
    assert(
      vals(PromQl.eval("sort_by_label(http_requests, \"instance\")", counters, p)) ==
        vals(PromQl.eval("http_requests", counters, p)))
  }

  test("windowRangeAgg labels broadcast is gated on the caller's series bound") {
    // force the RANGE-frame window plan (capK = 0) so the per-series
    // labels dim join is in the plan, then flip only the caller's gate
    def planOf(broadcastDims: Boolean): String = {
      val p = PromQl.Params(50 * M, 50 * M, M, rangeExplodeCapK = 0,
        broadcastDims = broadcastDims)
      PromQl.eval("rate(http_requests[30m])", counters, p)
        .queryExecution.sparkPlan.toString
    }
    // with auto-broadcast off, only the explicit hint can broadcast —
    // the assert proves the GATE controls the strategy, not size luck
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(planOf(true).contains("BroadcastHashJoin"), planOf(true).take(2000))
      // the default (a raw-parquet eval, a fleet over the store's limit)
      // drops the hint — AQE picks from runtime sizes
      assert(!planOf(false).contains("BroadcastHashJoin"), planOf(false).take(2000))
      // and the gated plan still answers correctly both ways
      val p0 = PromQl.Params(50 * M, 50 * M, M, rangeExplodeCapK = 0)
      val hinted = vals(PromQl.eval("rate(http_requests[30m])", counters,
        p0.copy(broadcastDims = true)))
      val aqe = vals(PromQl.eval("rate(http_requests[30m])", counters, p0))
      assert(hinted == aqe && hinted.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("rate plans its stat aggregates hash-based (ArgPick + labels dim)") {
    // explode path (k <= capK): the (series, instant) stat aggregate
    // runs ArgPick picks in HashAggregate, the labels dim is the
    // entry-array distinct (zero-buffer HashAggregate) — NO
    // SortAggregate anywhere in the plan (r12)
    val p = PromQl.Params(50 * M, 50 * M, M)
    val plan = PromQl.eval("rate(http_requests[30m])", counters, p)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("arg_pick_min") && plan.contains("arg_pick_max"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(3000))
    // decomposed path (capK = 0): stage-1 bucket partial likewise hash.
    // The ONLY SortAggregate allowed is the anchor SPLICE — deliberate
    // (r12, measured): its groups hold exactly 2 rows, so hash gains no
    // combine and pays an output-grain map (18.4 vs 12.0 s interleaved
    // on the x10 corpus); the sort streams with O(1) state.
    val plan2 = PromQl.eval("rate(http_requests[30m])", counters,
        p.copy(rangeExplodeCapK = 0))
      .queryExecution.sparkPlan.toString
    val hashStage1 = plan2.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("arg_pick_min"))
    assert(hashStage1, plan2.take(3000))
    val sortAggs2 = plan2.linesIterator.filter(_.contains("SortAggregate")).toSeq
    assert(sortAggs2.forall(_.contains("CASE WHEN (flag")),
      sortAggs2.mkString("\n"))
  }

  test("subquery range aggregate keeps labels as a grouping key, not a map buffer (r12)") {
    // rangeAgg over a SUBQUERY source carries labels in-aggregate (a
    // dim would re-run the inner eval); the entry-array GROUPING KEY
    // form keeps the whole k×-exploded aggregate in HashAggregate —
    // first(labels) map buffers demoted it to a SortAggregate before
    val p = PromQl.Params(50 * M, 50 * M, M)
    val q = "max_over_time(sum by (job) (http_requests)[30m:10m])"
    val df = PromQl.eval(q, counters, p)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("SortAggregate"), plan.take(3000))
    assert(df.count() > 0)
  }
}
