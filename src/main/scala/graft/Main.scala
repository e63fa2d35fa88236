package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.BlockStore

/** Operator CLI — the reference's `tsdb` command (`cmd/tsdb/main.go:
  * 56-616`) over the [[Db]]/[[graft.storage.BlockStore]] surface:
  *
  * {{{
  * graft.Main bench write [--out PATH] [--metrics N] [--scrapes N] [file.ndjson]
  * graft.Main ls [--human-readable] <dbPath>
  * graft.Main analyze [--limit N] <dbPath> [blockId]
  * graft.Main dump [--min-time T] [--max-time T] <dbPath>
  * graft.Main query [--start T] [--end T] [--step MS] [--lookback MS]
  *                  [--name-label L] [--json] <dbPath> <expr>
  * graft.Main serve [--port N] [--lookback MS] [--name-label L] <dbPath>
  * }}}
  *
  * `bench write` is the reference's `writeBenchmark.run` shape: label
  * sets from an NDJSON corpus (one JSON object of label pairs per line,
  * `cmd/tsdb/main.go:273-303`; synthesized when no file is given),
  * expanded to `--scrapes` scrapes at 30 s intervals, validated through
  * the appender rules, one durable block write — readData /
  * ingestScrapes timings and samples/sec printed like the original.
  * `ls` prints the manifest's live metas; `analyze` the churn /
  * cardinality report (`analyzeBlock`, main.go:464-616) from the
  * block's postings dictionary alone — no sample scan; `dump` streams
  * `{labels} value timestamp` lines (`dumpSamples`, main.go:618-655)
  * through a driver iterator, never a collect.
  *
  * `query` evaluates a PromQL expression over the store ([[Db.promql]]:
  * scan bounded by the expression's reach, selectors resolved in the
  * postings index). Default is an instant query at the store's max
  * time; `--start`/`--end`/`--step` (epoch ms) select a range query.
  * Output is `dump`-style `{labels} value timestamp` lines, or the
  * HTTP API's vector/matrix JSON payload with `--json`
  * ([[graft.query.ResultJson]]). The reference's `cmd/tsdb` has no
  * query subcommand — this surfaces the front-end to operators the
  * same way the other four surface the storage engine.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}")
        System.err.println(usage)
        sys.exit(2)
    } finally spark.stop()
  }

  private val usage: String =
    """usage:
      |  bench write [--out PATH] [--metrics N] [--scrapes N] [file.ndjson]
      |  ls [--human-readable] <dbPath>
      |  analyze [--limit N] <dbPath> [blockId]
      |  dump [--min-time T] [--max-time T] <dbPath>
      |  query [--start T] [--end T] [--step MS] [--lookback MS] [--name-label L] [--json] <dbPath> <expr>
      |  serve [--port N] [--lookback MS] [--name-label L] <dbPath>""".stripMargin

  /** Flag parser: `--key value` pairs anywhere, positionals in order. */
  private def parse(args: Seq[String]): (Map[String, String], Seq[String]) = {
    var flags = Map.empty[String, String]
    var pos = Vector.empty[String]
    var rest = args
    while (rest.nonEmpty) rest match {
      // boolean flags first — they take no value
      case key +: tail if key == "--human-readable" || key == "-h" =>
        flags += ("human-readable" -> "true"); rest = tail
      case key +: tail if key == "--json" =>
        flags += ("json" -> "true"); rest = tail
      case key +: value +: tail if key.startsWith("--") =>
        flags += (key.stripPrefix("--") -> value); rest = tail
      case p +: tail => pos :+= p; rest = tail
    }
    (flags, pos)
  }

  /** Dispatch — separated from [[main]] so a spec can drive commands
    * against a shared test session and capture stdout. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("bench", "write", rest @ _*) =>
      val (flags, pos) = parse(rest)
      benchWrite(spark,
        out = flags.get("out"),
        metrics = flags.getOrElse("metrics", "10000").toInt,
        scrapes = flags.getOrElse("scrapes", "100").toInt,
        file = pos.headOption)
    case Seq("ls", rest @ _*) =>
      val (flags, pos) = parse(rest)
      require(pos.nonEmpty, "ls: missing <dbPath>")
      ls(spark, pos.head, human = flags.contains("human-readable"))
    case Seq("analyze", rest @ _*) =>
      val (flags, pos) = parse(rest)
      require(pos.nonEmpty, "analyze: missing <dbPath>")
      analyze(spark, pos.head,
        blockId = pos.lift(1).map(_.toLong),
        limit = flags.getOrElse("limit", "20").toInt)
    case Seq("dump", rest @ _*) =>
      val (flags, pos) = parse(rest)
      require(pos.nonEmpty, "dump: missing <dbPath>")
      dump(spark, pos.head,
        mint = flags.get("min-time").map(_.toLong).getOrElse(Long.MinValue),
        maxt = flags.get("max-time").map(_.toLong).getOrElse(Long.MaxValue))
    case Seq("query", rest @ _*) =>
      val (flags, pos) = parse(rest)
      require(pos.length >= 2, "query: missing <dbPath> <expr>")
      query(spark, pos.head, pos(1),
        start = flags.get("start").map(_.toLong),
        end = flags.get("end").map(_.toLong),
        stepMs = flags.getOrElse("step", "60000").toLong,
        lookbackMs = flags.getOrElse("lookback", "300000").toLong,
        nameLabel = flags.getOrElse("name-label", "__name__"),
        json = flags.contains("json"))
    case Seq("serve", rest @ _*) =>
      val (flags, pos) = parse(rest)
      require(pos.nonEmpty, "serve: missing <dbPath>")
      val db = Db.open(spark, pos.head)
      val server = graft.http.ApiServer.start(spark, db,
        port = flags.getOrElse("port", "9090").toInt,
        lookbackMs = flags.getOrElse("lookback", "300000").toLong,
        nameLabel = flags.getOrElse("name-label", "__name__"))
      println(s"listening on :${server.getAddress.getPort}")
      // serve until killed — the reference pattern for any serving main
      Thread.currentThread.join()
    case other =>
      throw new IllegalArgumentException(
        s"unknown command: ${other.mkString(" ")}")
  }

  /** The `tsdb bench write` analogue (`cmd/tsdb/main.go:160-273`). */
  private[graft] def benchWrite(
      spark: SparkSession,
      out: Option[String],
      metrics: Int,
      scrapes: Int,
      file: Option[String]): Unit = {
    val outPath = out.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_bench").toString)
    scala.reflect.io.Directory(new java.io.File(outPath)).deleteRecursively()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outPath))

    def measure[A](stage: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(" > complete stage=%s duration=%.3fs".formatLocal(java.util.Locale.ROOT, stage, sec))
      (a, sec)
    }

    val (sets, _) = measure("readData") {
      val src = file.getOrElse {
        // no corpus given: synthesize one in the reference testdata's
        // shape (20kseries.json — metric/job/instance label sets)
        val p = java.nio.file.Paths.get(outPath, "labelsets.json")
        val w = java.nio.file.Files.newBufferedWriter(p)
        try {
          var i = 0
          while (i < metrics) {
            w.write(s"""{"__name__":"metric_${i % 100}","job":"job_${i % 20}","instance":"inst_${i / 100}","zone":"z${i % 5}"}""")
            w.newLine(); i += 1
          }
        } finally w.close()
        p.toString
      }
      sources.LabelSets.readJson(spark, src).limit(metrics)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val nSeries = sets.count()

    val store = new BlockStore(
      java.nio.file.Paths.get(outPath, "storage").toString,
      blockRangeMs = 2 * 3600 * 1000L, seriesBuckets = 4)
    val ((), sec) = measure("ingestScrapes") {
      // 30 s scrape interval, like the reference's timeDelta = 30000
      val expanded = sets.select(
          col("labels"), col("series_key"), col("series_hash"),
          explode(sequence(lit(0L), lit(scrapes - 1L))).as("arrival"))
        .select(
          col("labels"), col("series_key"),
          (pmod(col("series_hash"), lit(10000000L)) * 1000 + col("arrival")).as("sample_id"),
          (lit(1704067200000L) + col("arrival") * 30000L).as("t"),
          (pmod(col("series_hash"), lit(1000L)) + col("arrival")).cast("double").as("v"),
          col("arrival"))
      val valid = ingest.Appender.validate(expanded, minValidTime = 0L)
        .where(col("status") === "ok").drop("status", "arrival")
      store.write(valid)
      ()
    }
    sets.unpersist()
    val total = store.manifest.blocks.map(_.numSamples).sum
    println(s" > total samples: $total")
    println(" > samples/sec: %.1f".formatLocal(java.util.Locale.ROOT, total / sec))
    println(s" > series: $nSeries")
    println(s" > out: $outPath")
  }

  /** `tsdb ls` (`printBlocks`, main.go:437-455). */
  private[graft] def ls(spark: SparkSession, path: String, human: Boolean): Unit = {
    val db = Db.open(spark, path)
    def fmt(ts: Long): String =
      if (!human) ts.toString
      else java.time.Instant.ofEpochMilli(ts).toString
    println("BLOCK ID\tMIN TIME\tMAX TIME\tNUM SAMPLES\tNUM SERIES\tNUM TOMBSTONES\tBYTES")
    for (b <- db.blocks)
      println(s"${b.blockId}\t${fmt(b.mint)}\t${fmt(b.maxt)}\t" +
        s"${b.numSamples}\t${b.numSeries}\t${b.numTombstones}\t${b.bytes}")
  }

  /** `tsdb analyze` (`analyzeBlock`, main.go:464-616): the churn /
    * cardinality report from the block's postings dictionary ALONE —
    * label-pair churn uses the per-series (s_mint, s_maxt) bounds the
    * dict records at write time, so no sample data is read. */
  private[graft] def analyze(
      spark: SparkSession, path: String, blockId: Option[Long], limit: Int): Unit = {
    val db = Db.open(spark, path)
    // one manifest load: a retention pass between two loads could empty
    // the list after the check
    val blocks = db.blocks
    require(blocks.nonEmpty, s"no live blocks at $path")
    // default: the last block in query (mint) order, like the reference
    val meta = blockId match {
      case Some(id) => blocks.find(_.blockId == id)
        .getOrElse(throw new IllegalArgumentException(s"block not found: $id"))
      case None => blocks.last
    }
    val idx = db.store.blockIndex(spark, meta.blockId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      println(s"Block ID: ${meta.blockId}")
      println(s"Duration: ${meta.maxt - meta.mint}ms")
      println(s"Series: ${meta.numSeries}")
      val names = idx.select("label_name").distinct()
      println(s"Label names: ${names.count()}")
      val pairCounts = idx.groupBy("label_name", "label_value")
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"Postings (unique label pairs): ${pairCounts.count()}")
      println(s"Postings entries (total label pairs): ${idx.count()}")

      def printTop(df: DataFrame, metricCol: String, keyCols: Seq[String]): Unit =
        df.orderBy((col(metricCol).desc +: keyCols.map(col)): _*)
          .limit(limit)
          .collect()
          .foreach(r => println(s"${r.get(0)} ${keyCols.map(c => r.getAs[String](c)).mkString("=")}"))

      // churn: block-range time NOT covered by the series, averaged
      // over the pair's series (reference weighs by uncovered/duration)
      val span = math.max(1L, meta.maxt - meta.mint)
      val uncovered = idx.withColumn("uncov",
        (lit(span) - (col("s_maxt") - col("s_mint"))).cast("double") / span)
      println("\nLabel pairs most involved in churning:")
      printTop(
        uncovered.groupBy("label_name", "label_value")
          .agg(round(sum("uncov"), 2).as("churn"))
          .select("churn", "label_name", "label_value"),
        "churn", Seq("label_name", "label_value"))
      println("\nLabel names most involved in churning:")
      printTop(
        uncovered.groupBy("label_name")
          .agg(round(sum("uncov"), 2).as("churn"))
          .select("churn", "label_name"),
        "churn", Seq("label_name"))

      println("\nMost common label pairs:")
      printTop(pairCounts.select("n", "label_name", "label_value"),
        "n", Seq("label_name", "label_value"))
      println("\nLabel names with highest cumulative label value length:")
      printTop(
        idx.select("label_name", "label_value").distinct()
          .groupBy("label_name")
          .agg(sum(length(col("label_value"))).as("len"))
          .select("len", "label_name"),
        "len", Seq("label_name"))
      println("\nHighest cardinality labels:")
      printTop(
        idx.select("label_name", "label_value").distinct()
          .groupBy("label_name").agg(count(lit(1)).as("card"))
          .select("card", "label_name"),
        "card", Seq("label_name"))
      println("\nHighest cardinality metric names:")
      // metric identity label: __name__ (labelsets corpora) or name
      // (the events corpus convention)
      val metricLabel =
        if (idx.where(col("label_name") === "__name__").limit(1).count() > 0) "__name__"
        else "name"
      printTop(
        idx.where(col("label_name") === metricLabel)
          .groupBy(col("label_value")).agg(count(lit(1)).as("card"))
          .select("card", "label_value"),
        "card", Seq("label_value"))
      pairCounts.unpersist(); ()
    } finally { idx.unpersist(); () }
  }

  /** PromQL over the store: instant at the store's max time unless
    * `--start`/`--end` select a window. Lines stream like `dump`;
    * `--json` renders the HTTP API vector/matrix payload. */
  private[graft] def query(
      spark: SparkSession,
      path: String,
      expr: String,
      start: Option[Long],
      end: Option[Long],
      stepMs: Long,
      lookbackMs: Long,
      nameLabel: String,
      json: Boolean): Unit = {
    val db = Db.open(spark, path)
    val blocks = db.blocks // one manifest load, as in analyze
    require(blocks.nonEmpty || (start.isDefined && end.isDefined),
      s"no live blocks at $path (pass --start/--end to query anyway)")
    val endMs = end.getOrElse(blocks.map(_.maxt).max)
    val startMs = start.getOrElse(endMs)
    val out = db.promql(expr, startMs, endMs, stepMs, lookbackMs, nameLabel)
    // a top-level range vector's instant result is a matrix (the raw
    // window), not a last-sample vector — same switch as the HTTP API
    if (json)
      println(graft.query.ResultJson.render(out,
        instant = startMs == endMs && !graft.query.PromQl.isRangeVector(expr)))
    else {
      val it = out.select("series_key", "v", "t")
        .orderBy("series_key", "t").toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        println(s"${r.getString(0)} ${r.getDouble(1)} ${r.getLong(2)}")
      }
    }
  }
  /** `tsdb dump` (`dumpSamples`, main.go:618-655): `{labels} value t`
    * lines, series-major — streamed through a driver iterator, so the
    * dump never materializes the store on the driver. */
  private[graft] def dump(
      spark: SparkSession, path: String, mint: Long, maxt: Long): Unit = {
    val db = Db.open(spark, path)
    val it = db.query(mint, maxt)
      .select("series_key", "v", "t")
      .orderBy("series_key", "t")
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      println(s"${r.getString(0)} ${r.getDouble(1)} ${r.getLong(2)}")
    }
  }
}
