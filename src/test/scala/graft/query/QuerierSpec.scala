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

  test("labelNames / labelValues") {
    val q = new Querier(src.samples)
    assert(q.labelNames().collect().map(_.getString(0)).toSeq == Seq("name", "user", "vip"))
    val vals = q.labelValues("name").collect().map(_.getString(0)).toSeq
    assert(vals == Seq("click", "error", "purchase", "signup", "view"))
  }

  test("label matchers reach the parquet scan as pushed filters") {
    val plan = src.select(1704067200000L, 1706745600000L, Eq("name", "click"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,click)"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan.take(2000))
  }

  test("dictionary rewrite: regex becomes InSet with identical semantics") {
    val dict = LabelDictionary.fromSamples(src.samples)
    val Seq(rw) = LabelDictionary.rewrite(dict, Seq(Re("name", "c.*|sig.*")))
    rw match {
      case graft.matchers.InSet("name", values) =>
        assert(values == Set("click", "signup")) // regex ran per distinct value
      case other => fail(s"expected InSet, got $other")
    }
    val got = src.select(0L, Long.MaxValue / 2, rw).count()
    val want = src.select(0L, Long.MaxValue / 2, Re("name", "c.*|sig.*")).count()
    assert(got == want && got > 0)
  }

  test("dictionary rewrite preserves matches-empty and negation semantics") {
    val dict = LabelDictionary.fromSamples(src.samples)
    // vip=~"" matches absent labels: "" must survive into the set
    val Seq(rwEmpty) = LabelDictionary.rewrite(dict, Seq(Re("vip", "|9")))
    assert(rwEmpty.matchesValue("") && !rwEmpty.matchesValue("1"))
    // !~ routes through Not(rewritten inner)
    val Seq(rwNot) = LabelDictionary.rewrite(dict, Seq(Matcher.notRe("name", "c.*")))
    assert(!rwNot.matchesValue("click") && rwNot.matchesValue("view"))
    val got = src.select(0L, Long.MaxValue / 2, rwNot).count()
    val want = src.select(0L, Long.MaxValue / 2, Matcher.notRe("name", "c.*")).count()
    assert(got == want && got > 0)
  }

  test("rewrite maxValues guard: a high-cardinality label stays a regex (no driver blowup)") {
    import spark.implicits._
    // a 100k-value label, the cardinality the 5M-series matcher bench
    // runs at: the matching set (all 100k values) exceeds maxValues, so
    // the matcher must come back UNREWRITTEN — the collect is bounded at
    // maxValues+1 rows and the plan keeps the per-distinct-value regex
    val bigDict = spark.range(0, 100000L)
      .select(lit("i").as("label_name"), $"id".cast("string").as("label_value"))
    val broad = Re("i", ".+")
    val Seq(kept) = LabelDictionary.rewrite(bigDict, Seq(broad))
    assert(kept eq broad, s"expected the original regex back, got $kept")
    // while a selective regex over the same dictionary still rewrites
    val Seq(narrow) = LabelDictionary.rewrite(bigDict, Seq(Re("i", "123|456")))
    narrow match {
      case graft.matchers.InSet("i", values) => assert(values == Set("123", "456"))
      case other => fail(s"expected InSet, got $other")
    }
  }

  test("dictionary path pushes In to the fact scan, never RLike (SURVEY 7.5.6)") {
    val dict = LabelDictionary.fromSamples(src.samples)
    val ms = LabelDictionary.rewrite(dict, Seq(Re("name", "c.*|sig.*")))
    val plan = src.select(1704067200000L, 1706745600000L, ms: _*)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(event_type"), plan.take(2000))
    assert(!plan.toLowerCase.contains("rlike"), plan.take(2000))
    // the naive path, by contrast, does evaluate the regex on the scan
    val naive = src.select(1704067200000L, 1706745600000L, Re("name", "c.*|sig.*"))
      .queryExecution.executedPlan.toString
    assert(naive.toLowerCase.contains("rlike"), naive.take(2000))
  }
}
