package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Drives every [[Main]] subcommand against a temp store — the CLI is
  * operator surface, so each command's output shape is pinned, not just
  * its exit. (Reference `cmd/tsdb/main.go:56-616`.) */
class MainSpec extends SparkSuite {
  import spark.implicits._

  private def capture(args: String*): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Main.run(spark, args.toSeq)
    }
    bos.toString("UTF-8")
  }

  private lazy val dbPath: String = {
    val root = Files.createTempDirectory("graft-cli-db").toString
    val store = new storage.BlockStore(root, blockRangeMs = 1000L)
    val rows = Seq(
      ("{job=\"a\",inst=\"1\"}", Map("job" -> "a", "inst" -> "1"), 1L, 100L, 1.0),
      ("{job=\"a\",inst=\"1\"}", Map("job" -> "a", "inst" -> "1"), 2L, 1500L, 2.0),
      ("{job=\"a\",inst=\"2\"}", Map("job" -> "a", "inst" -> "2"), 3L, 200L, 3.0),
      ("{job=\"b\",inst=\"1\"}", Map("job" -> "b", "inst" -> "1"), 4L, 300L, 4.0))
      .toDF("series_key", "labels", "sample_id", "t", "v")
    store.write(rows)
    root
  }

  test("ls prints one row per live block with the manifest stats") {
    val out = capture("ls", dbPath)
    val lines = out.trim.split("\n")
    assert(lines.head.startsWith("BLOCK ID\tMIN TIME\tMAX TIME"))
    assert(lines.length == 2)
    val cols = lines(1).split("\t")
    assert(cols(0) == "1" && cols(1) == "100" && cols(2) == "1501")
    assert(cols(3) == "4" && cols(4) == "3") // samples, series
    // --human-readable formats the epoch columns
    val human = capture("ls", "--human-readable", dbPath)
    assert(human.contains("1970-01-01T00:00:00.100Z"))
  }

  test("analyze reports cardinality and churn from the index alone") {
    val out = capture("analyze", dbPath)
    assert(out.contains("Block ID: 1"))
    assert(out.contains("Series: 3"))
    assert(out.contains("Label names: 2"))
    assert(out.contains("Postings (unique label pairs): 4"))
    assert(out.contains("Postings entries (total label pairs): 6"))
    // job=a and inst=1 each cover 2 series; ties break on (name, value)
    val common = out.split("Most common label pairs:")(1).split("\n\n").head
    assert(common.trim.split("\n").take(2).toSeq == Seq("2 inst=1", "2 job=a"), common)
    // churn section present (per-series bounds recorded at write time)
    assert(out.contains("Label pairs most involved in churning:"))
    assert(out.contains("Highest cardinality labels:"))
    // explicit block id selects that block; an unknown id fails loudly
    assert(capture("analyze", dbPath, "1").contains("Block ID: 1"))
    intercept[IllegalArgumentException] { capture("analyze", dbPath, "9") }
  }

  test("dump streams series-major sample lines, time-filtered") {
    val out = capture("dump", dbPath)
    val lines = out.trim.split("\n")
    assert(lines.length == 4)
    assert(lines.head == "{job=\"a\",inst=\"1\"} 1.0 100")
    // min/max-time clamp the dump
    val part = capture("dump", "--min-time", "150", "--max-time", "400", dbPath)
    assert(part.trim.split("\n").toSeq ==
      Seq("{job=\"a\",inst=\"2\"} 3.0 200", "{job=\"b\",inst=\"1\"} 4.0 300"))
  }

  test("bench write ingests a synthesized label-set corpus and reports throughput") {
    val out = Files.createTempDirectory("graft-cli-bench").toString
    // under a comma-decimal default locale the figures still print with '.'
    val locale = java.util.Locale.getDefault
    val text =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        capture("bench", "write", "--out", out, "--metrics", "50", "--scrapes", "3")
      } finally java.util.Locale.setDefault(locale)
    assert(text.contains("stage=readData"))
    assert(text.contains("stage=ingestScrapes"))
    assert("""duration=\d+\.\d{3}s""".r.findAllIn(text).size == 2, text)
    assert("""(?m)samples/sec: \d+\.\d$""".r.findFirstIn(text).nonEmpty, text)
    assert(text.contains(" > total samples: 150"))
    assert(text.contains(" > series: 50"))
    // the written store is a real store: ls sees its block
    val ls = capture("ls", s"$out/storage")
    assert(ls.trim.split("\n").length == 2)
  }

  test("query evaluates PromQL against the store, line and JSON output") {
    // instant query at the store's max time (1501): latest per series
    val out = capture("query", dbPath, "{job=\"a\"}")
    assert(out.trim.split("\n").toSeq == Seq(
      "{job=\"a\",inst=\"1\"} 2.0 1501",
      "{job=\"a\",inst=\"2\"} 3.0 1501"), out)
    // aggregation through the same path
    val sum = capture("query", dbPath, "sum({job=~\".+\"})")
    assert(sum.trim == "{} 9.0 1501", sum)
    // --json renders the HTTP API vector payload
    val js = capture("query", "--json", dbPath, "{job=\"b\"}")
    assert(js.trim ==
      """{"resultType":"vector","result":[{"metric":{"inst":"1","job":"b"},"value":[1.501,"4"]}]}""",
      js)
    // --start/--end/--step run a range query; --json gives the matrix
    val rng = capture("query", "--start", "1000", "--end", "2000",
      "--step", "500", "--json", dbPath, "{job=\"b\"}")
    assert(rng.trim ==
      """{"resultType":"matrix","result":[{"metric":{"inst":"1","job":"b"},"values":[[1,"4"],[1.5,"4"],[2,"4"]]}]}""",
      rng)
    // a malformed expression is an operator error, not a stack trace
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("query", dbPath, "sum({job=\"a\"}"))
    }
  }

  test("unknown command fails with usage") {
    intercept[IllegalArgumentException] { Main.run(spark, Seq("nope")) }
  }

  test("Db.open honors the recorded block range of an existing store") {
    // the CLI's correctness depends on this: a store created with 1s
    // blocks opened by a default-config reader must still prune
    // t_bucket correctly (2h default would silently drop rows)
    val db = Db.open(spark, dbPath) // default Options: 2h range
    assert(db.store.blockRangeMs == 1000L)
    assert(db.query(0, 10000).count() == 4)
    // a writer opened with a conflicting range is refused
    val wrong = new storage.BlockStore(dbPath, blockRangeMs = 5000L)
    intercept[IllegalArgumentException] {
      wrong.write(Seq(("{x=\"1\"}", Map("x" -> "1"), 9L, 5000L, 1.0))
        .toDF("series_key", "labels", "sample_id", "t", "v"))
    }
  }
}
