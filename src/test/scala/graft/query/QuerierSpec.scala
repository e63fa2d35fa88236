package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.matchers.{Eq, Matcher, Re}

class QuerierSpec extends SparkSuite {

  lazy val src = TsdbSource.events(spark, sf)

  test("downsample output is a valid samples frame: writes into a coarser store and reads back") {
    val ds = new Querier(src.samples).downsample(6L * 3600000L)
    // the five rollups are mutually consistent
    val bad = ds.where(col("min_v") > col("max_v") ||
      col("v") < col("min_v") || col("v") > col("max_v") || col("n") < 1).count()
    assert(bad == 0)
    // one row per (series, step), t on the step lattice
    assert(ds.groupBy("series_key", "t").count().where(col("count") > 1).count() == 0)
    assert(ds.where(col("t") % (6L * 3600000L) =!= 0).count() == 0)
    // round-trip through a coarser BlockStore: same rows come back
    val dir = java.nio.file.Files.createTempDirectory("graft-downsample").toString
    try {
      val store = new graft.storage.BlockStore(dir, 7L * 86400000L)
      store.write(ds.select("sample_id", "series_key", "t", "v"))
      val back = store.readRange(spark, 0L, Long.MaxValue / 2)
        .select("series_key", "t", "v")
      assert(back.count() == ds.count())
      assert(back.exceptAll(ds.select("series_key", "t", "v")).count() == 0)
    } finally {
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
      ()
    }
  }

  test("samples long format has the canonical schema") {
    val df = src.samples
    assert(df.columns.toSeq == Seq("sample_id", "series_key", "labels", "t", "v"))
    assert(df.count() == 1000)
  }

  test("series_key is canonical: sorted keys, vip sparse") {
    val row = src.samples.where(col("labels").getItem("vip").isNotNull).head()
    val key = row.getAs[String]("series_key")
    assert(key.matches("""\{name="[a-z]+",user="\d+",vip="1"\}"""), key)
  }

  test("static series_key equals the generic map-derived form on every row") {
    // samples builds the key statically from the plan-time label columns;
    // it must match graft.functions.seriesKey over the labels map exactly
    val mismatches = src.samples
      .where(graft.functions.seriesKey(col("labels")) =!= col("series_key"))
      .count()
    assert(mismatches == 0)
  }

  test("select: eq matcher + time range equals manual filter") {
    val got = src.select(1704067200000L, 1706745600000L, Eq("name", "click")).count()
    val want = src.samples.where(col("labels")("name") === "click").count()
    assert(got == want && got > 0)
  }

  test("select: neq over sparse label selects absent-label series") {
    val got = src.select(0L, Long.MaxValue / 2, Matcher.neq("vip", "1"))
    assert(got.count() > 0)
    assert(got.where(col("series_key").contains("vip")).count() == 0)
  }

  test("select: regex full-anchoring") {
    // 'lick' is a substring of 'click' — unanchored would match
    assert(src.select(0L, Long.MaxValue / 2, Re("name", "lick")).count() == 0)
    assert(src.select(0L, Long.MaxValue / 2, Re("name", "cl.*")).count() > 0)
  }

  /** One block of the events table. */
  private lazy val store = {
    val s = new graft.storage.BlockStore(
      java.nio.file.Files.createTempDirectory("graft-querier").toString, 7L * 86400000L)
    s.write(src.samples)
    s
  }

  test("labelNames / labelValues") {
    assert(store.labelNames(spark).collect().map(_.getString(0)).toSeq ==
      Seq("name", "user", "vip"))
    val vals = store.labelValues(spark, "name").collect().map(_.getString(0)).toSeq
    assert(vals == Seq("click", "error", "purchase", "signup", "view"))
  }

  test("label matchers reach the parquet scan as pushed filters") {
    val plan = src.select(1704067200000L, 1706745600000L, Eq("name", "click"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,click)"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan.take(2000))
  }

  test("dictionary path pushes In to the fact scan, never RLike (SURVEY 7.5.6)") {
    // the store resolves the regex once per distinct value of its
    // dictionary, on the driver, and hands the scan the matched keys
    val read = store.readRange(spark, 1704067200000L, 1706745600000L, Re("name", "c.*|sig.*"))
    val plan = read.queryExecution.executedPlan
    val pushed = plan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec => scan.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("In(series_key"), pushed.take(2000))
    assert(!plan.toString.toLowerCase.contains("rlike"), plan.toString.take(2000))
    assert(read.count() ==
      src.select(1704067200000L, 1706745600000L, Re("name", "c.*|sig.*")).count())
    // the naive path, by contrast, does evaluate the regex on the scan
    val naive = src.select(1704067200000L, 1706745600000L, Re("name", "c.*|sig.*"))
      .queryExecution.executedPlan.toString
    assert(naive.toLowerCase.contains("rlike"), naive.take(2000))
  }
}
