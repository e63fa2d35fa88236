package graft.storage

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.matchers.{Eq, InSet, Matcher, Re}
import graft.model.Labels
import graft.query.TsdbSource

/** The driver-resident postings ([[SeriesIndex]]) against the Spark
  * postings path it replaces under `broadcastLimit`: every read, label
  * map and label-metadata answer must be identical across the gate
  * (`broadcastLimit = 0L` forces the Spark path on the same root), and
  * the cache must follow every way the store's dictionaries change. */
class SeriesIndexSpec extends SparkSuite {
  import spark.implicits._

  private val DAY = 86400000L
  private val T0 = 1704067200000L

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  /** One sample per label set at `t`, value = its position; keys are
    * canonical, so the empty-valued labels vanish from identity. */
  private def seriesRows(t: Long, sets: Seq[Map[String, String]]): DataFrame =
    sets.zipWithIndex.map { case (m, i) =>
      (Labels.fromMap(m).canonical, m, i.toLong, t, i.toDouble) }
      .toDF("series_key", "labels", "sample_id", "t", "v")

  /** The same root read through the cache and through the Spark path. */
  private def bothSides(store: BlockStore): (BlockStore, BlockStore) =
    (store, new BlockStore(store.root, store.blockRangeMs, store.seriesBuckets,
      store.tombstoneSpillThreshold, broadcastLimit = 0L))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sameReads(store: BlockStore, mint: Long, maxt: Long, ms: Matcher*): Seq[Row] = {
    val (cached, viaSpark) = bothSides(store)
    val got = rows(cached.readRange(spark, mint, maxt, withLabels = true, ms: _*))
    val want = rows(viaSpark.readRange(spark, mint, maxt, withLabels = true, ms: _*))
    assert(got == want, s"${ms.toList}: cached ${got.size} rows vs Spark path ${want.size}")
    got
  }

  private def sameMetadata(store: BlockStore): Unit = {
    val (cached, viaSpark) = bothSides(store)
    val names = cached.labelNames(spark).as[String].collect().toSeq
    assert(names == viaSpark.labelNames(spark).as[String].collect().toSeq)
    for (n <- names :+ "absent")
      assert(cached.labelValues(spark, n).as[String].collect().toSeq ==
        viaSpark.labelValues(spark, n).as[String].collect().toSeq, n)
  }

  /** One block of the events table. */
  private lazy val events: BlockStore = {
    val store = new BlockStore(tmp("graft-ix-battery"), 7 * DAY)
    store.write(TsdbSource.events(spark, sf).samples)
    store
  }

  test("the matcher battery reads identical rows through the cache and the Spark path") {
    val store = events
    val hi = T0 + 40 * DAY
    def same(ms: Matcher*): Int = sameReads(store, T0, hi, ms: _*).size
    assert(same(Eq("name", "click")) > 0)
    assert(same(Eq("name", "missing-value")) == 0)
    same(Eq("vip", ""))
    assert(same(Matcher.neq("name", "click")) > 0)
    assert(same(Matcher.neq("vip", "1")) > 0)
    same(Re("name", "c.*|sig.*"))
    assert(same(Re("name", ".*")) == same())
    same(Re("vip", "|1"))
    same(Matcher.notRe("name", "c.*"))
    same(InSet("name", Set("click", "view")))
    same(Eq("name", "click"), Re("user", "1.*"))
    same(Eq("name", "purchase"), Matcher.neq("vip", "1"), Re("user", ".*7.*"))
    sameMetadata(store)
  }

  test("both resolvers select the same series keys, the phantom \"{}\" included") {
    // key level, before the fact semi-join that drops a phantom key
    val ix = events.residentIndex(spark, events.manifest).get
    val idx = events.postingsIndex(spark)
    val allMatchEmpty = Seq(Matcher.neq("vip", "1"), Re("zone", ".*"))
    val lists: Seq[Seq[Matcher]] = Seq(
      Seq(Eq("name", "click")),
      Seq(Eq("name", "missing-value")),
      Seq(Eq("vip", "")),
      Seq(Matcher.neq("name", "click")),
      Seq(Matcher.neq("vip", "1")),
      Seq(Re("name", "c.*|sig.*")),
      Seq(Re("name", ".*")),
      Seq(Re("vip", "|1")),
      Seq(Matcher.notRe("name", "c.*")),
      Seq(InSet("name", Set("click", "view"))),
      Seq(Eq("name", "click"), Re("user", "1.*")),
      Seq(Eq("name", "purchase"), Matcher.neq("vip", "1"), Re("user", ".*7.*")),
      allMatchEmpty)
    for (ms <- lists) {
      val viaSpark = graft.query.Postings.seriesFor(idx, ms).as[String].collect()
      assert(viaSpark.length == viaSpark.distinct.length, ms.toList)
      assert(ix.resolve(ms).toSet == viaSpark.toSet, ms.toList)
    }
    assert(ix.resolve(allMatchEmpty).contains("{}"))
    assert(!ix.resolve(Seq(Eq("name", "click"))).contains("{}"))
  }

  test("reference postings vectors through BlockStore.readRange, both sides of the gate " +
    "(postings_test.go:182,310,486,721)") {
    // each vector is a set of postings lists (label, value, series ids);
    // a store series carries one value per label, so a series listed
    // under two values of one label becomes one store series per value,
    // both answering for its id (the value-OR merge reads their union).
    // Every series carries its vector's name, and every query selects it.
    type Lists = Seq[(String, String, Seq[Int])]
    val removed = Seq(
      (Seq.empty[Int], Seq.empty[Int], Set.empty[Int]),
      (Seq(1, 2, 3, 4), Seq.empty[Int], Set(1, 2, 3, 4)),
      (Seq.empty[Int], Seq(1, 2, 3, 4), Set.empty[Int]),
      (Seq(1, 2, 3, 4, 5), Seq(6, 7, 8, 9, 10), Set(1, 2, 3, 4, 5)),
      (Seq(1, 2, 3, 4, 5), Seq(4, 5, 6, 7, 8), Set(1, 2, 3)),
      (Seq(1, 2, 3, 4, 9, 10), Seq(1, 4, 5, 6, 7, 8, 10, 11), Set(2, 3, 9)),
      (Seq(1, 2, 3, 4, 9, 10), Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11), Set.empty[Int]))
    val vectors: Seq[(String, Lists, Seq[Matcher], Set[Int])] = Seq(
      ("intersect1", Seq(
        ("l1", "1", Seq(1, 2, 3, 4, 5, 6, 1000, 1001)),
        ("l2", "1", Seq(2, 4, 5, 6, 7, 8, 999, 1001)),
        ("l3", "1", Seq(1, 2, 5, 6, 7, 8, 1001, 1200))),
        Seq(Eq("l1", "1"), Eq("l2", "1"), Eq("l3", "1")), Set(2, 5, 6, 1001)),
      ("intersect2", Seq(
        ("l1", "1", Seq(1, 2)), ("l2", "1", Seq(1, 2)),
        ("l3", "1", Seq(1, 2)), ("l4", "1", Seq(2))),
        Seq(Eq("l1", "1"), Eq("l2", "1"), Eq("l3", "1"), Eq("l4", "1")), Set(2)),
      ("merge", Seq(
        ("g", "1", Seq(1, 2, 3, 4, 5, 6, 1000, 1001)),
        ("g", "2", Seq(2, 4, 5, 6, 7, 8, 999, 1001)),
        ("g", "3", Seq(1, 2, 5, 6, 7, 8, 1001, 1200))),
        Seq(Re("g", "1|2|3")), Set(1, 2, 3, 4, 5, 6, 7, 8, 999, 1000, 1001, 1200)),
      ("intersectMerge", Seq(
        ("a", "1", Seq(21, 22, 23, 24, 25, 30)),
        ("g", "1", Seq(10, 20, 30)),
        ("g", "2", Seq(15, 26, 30))),
        Seq(Eq("a", "1"), Re("g", "1|2")), Set(30))) ++
      removed.zipWithIndex.map { case ((a, d, want), i) =>
        (s"removed$i", Seq(("a", "1", a), ("d", "1", d)),
          Seq(Eq("a", "1"), Matcher.neq("d", "1")), want) }
    val sets = vectors.flatMap { case (vec, lists, _, _) =>
      lists.flatMap(_._3).distinct.flatMap { id =>
        val byName = lists.filter(_._3.contains(id)).groupBy(_._1).view
          .mapValues(_.map(_._2)).toSeq
        byName.foldLeft(Seq(Map("vec" -> vec, "id" -> id.toString))) {
          case (acc, (n, vs)) => for (m <- acc; v <- vs) yield m + (n -> v)
        }
      }
    }
    val store = new BlockStore(tmp("graft-ix-vectors"), 1000L)
    store.write(seriesRows(100L, sets))
    for ((vec, _, ms, want) <- vectors) {
      val got = sameReads(store, 0L, 1000L, Eq("vec", vec) +: ms: _*)
        .map(_.getAs[Map[String, String]]("labels")("id").toInt).toSet
      assert(got == want, s"$vec: $got")
    }
    sameMetadata(store)
  }

  test("label metadata, the label-less series and empty-valued labels agree across the gate") {
    val store = new BlockStore(tmp("graft-ix-meta"), 1000L)
    // U+FFFD sorts before U+1F600 in UTF-8 bytes (Spark's string order)
    // and after it in UTF-16 (String.compareTo)
    store.write(seriesRows(100L, Seq(
      Map("k" -> "\uD83D\uDE00", "job" -> "a"),
      Map("k" -> "\uFFFD", "job" -> "a", "empty" -> ""),
      Map("k" -> "plain", "empty" -> ""),
      Map.empty[String, String],
      Map("job" -> "b"))))
    assert(store.labelValues(spark, "k").as[String].collect().toSeq ==
      Seq("plain", "\uFFFD", "\uD83D\uDE00"))
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("job", "k"))
    sameMetadata(store)
    // the label-less series "{}" reads with an empty map, and exactly the
    // conjunctions whose every matcher matches "" select it
    val all = sameReads(store, 0L, 1000L)
    assert(all.exists(r => r.getAs[String]("series_key") == "{}" &&
      r.getAs[Map[String, String]]("labels").isEmpty))
    def keys(ms: Matcher*): Set[String] =
      sameReads(store, 0L, 1000L, ms: _*).map(_.getAs[String]("series_key")).toSet
    assert(keys(Eq("k", "")) == Set("{}", "{job=\"b\"}"))
    assert(keys(Eq("empty", "")).size == 5)
    assert(keys(Matcher.neq("job", "a"), Re("k", "|p.*")) ==
      Set("{}", "{job=\"b\"}", "{k=\"plain\"}"))
    assert(keys(Re("k", ".+")).size == 3)
    assert(keys(Eq("k", "\uFFFD"), Eq("job", "a")) == Set("{job=\"a\",k=\"\uFFFD\"}"))
  }

  test("past the literal bound the cache resolves to a broadcast semi-join, equal to the Spark path") {
    val n = BlockStore.literalLimit + 200
    val store = new BlockStore(tmp("graft-ix-wide"), 1000L)
    store.write(seriesRows(100L, (0 until n).map(i =>
      Map("job" -> (if (i % 10 == 0) "rare" else "common"), "i" -> i.toString))))
    val wide = store.readRange(spark, 0L, 1000L, Eq("job", "common"))
    val plan = wide.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("Broadcast"), plan.take(2000))
    assert(!plan.contains("INSET"), plan.take(2000))
    assert(sameReads(store, 0L, 1000L, Eq("job", "common")).size == n - n / 10)
    // a narrow match on the same store keeps the literal filter
    val narrow = store.readRange(spark, 0L, 1000L, Eq("job", "rare"))
      .queryExecution.executedPlan.toString
    assert(!narrow.contains("LeftSemi"), narrow.take(2000))
    assert(sameReads(store, 0L, 1000L, Eq("job", "rare")).size == n / 10)
  }

  /** The jobs `body` starts, as seen by a listener, each by the call
    * site of the SQL query it ran in (None: it ran outside any query).
    * Jobs are told apart by a local property, which Spark copies into
    * every job of the thread, broadcast threads included. A fence job,
    * run after `body`, orders every earlier event first. */
  private def jobsOf(body: => Unit): Seq[Option[String]] = {
    val key = "graft.test.jobs"
    val tag = s"graft-ix-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]()
    val queries = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop(key).getOrElse(""), prop("spark.sql.execution.id")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId.toString, q.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def tagged(t: String)(f: => Unit): Unit = {
      sc.setLocalProperty(key, t)
      try f finally sc.setLocalProperty(key, null)
    }
    def seen = jobs.toArray(Array.empty[(String, Option[String])]).toSeq
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(tag + "-fence")(spark.range(1).count())
      val deadline = System.nanoTime + 30000000000L
      while (!seen.exists(_._1 == tag + "-fence") && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.exists(_._1 == tag + "-fence"), "fence job never reached the listener")
      seen.collect { case (t, query) if t == tag => query.map(queries.getOrDefault(_, "")) }
    } finally sc.removeSparkListener(listener)
  }

  private def jobsIn(body: => Unit): Int = jobsOf(body).size

  test("on a warm cache, matcher resolution and label metadata start no Spark job") {
    val store = new BlockStore(tmp("graft-ix-jobs"), 7 * DAY)
    store.write(TsdbSource.events(spark, sf).samples)
    // the cold load reads the dictionary with Spark (the control: the
    // listener does count this thread's jobs)
    assert(jobsIn(store.labelNames(spark).collect()) > 0)
    assert(jobsIn {
      store.readRange(spark, T0, T0 + 40 * DAY, Eq("name", "click"), Re("user", "1.*"))
      store.readRange(spark, T0, T0 + 40 * DAY, withLabels = true, Eq("name", "click"))
      store.labelNames(spark).collect()
      store.labelValues(spark, "name").collect()
    } == 0)
  }

  private def cachedBlocks(store: BlockStore): Set[Long] =
    BlockStore.seriesIndexes(store.tableName).blocks.keySet

  test("destroy + a rebuild at the same root serves the new labels under the reused block id") {
    val root = tmp("graft-ix-destroy")
    val first = new BlockStore(root, 1000L)
    first.write(seriesRows(100L, Seq(Map("job" -> "old"))))
    assert(first.labelValues(spark, "job").as[String].collect().toSeq == Seq("old"))
    first.destroy(spark)
    val again = new BlockStore(root, 1000L)
    assert(again.write(seriesRows(100L, Seq(Map("job" -> "new")))) == Some(1L))
    assert(again.labelValues(spark, "job").as[String].collect().toSeq == Seq("new"))
    assert(again.readRange(spark, 0L, 1000L, withLabels = true, Eq("job", "new"))
      .select(col("labels").getItem("job")).as[String].collect().toSeq == Seq("new"))
    assert(again.readRange(spark, 0L, 1000L, Eq("job", "old")).count() == 0)
  }

  test("a block published through a second BlockStore on the same root is seen by the first") {
    val root = tmp("graft-ix-second")
    val reader = new BlockStore(root, 1000L)
    reader.write(seriesRows(100L, Seq(Map("job" -> "a"))))
    assert(reader.labelValues(spark, "job").as[String].collect().toSeq == Seq("a"))
    new BlockStore(root, 1000L).write(seriesRows(200L, Seq(Map("job" -> "b"))))
    assert(reader.labelValues(spark, "job").as[String].collect().toSeq == Seq("a", "b"))
    assert(reader.readRange(spark, 0L, 1000L, Eq("job", "b"))
      .select("t").as[Long].collect().toSeq == Seq(200L))
  }

  test("after compact + applyRetention the cache holds only live blocks") {
    val store = new BlockStore(tmp("graft-ix-evict"), 1000L)
    for (i <- 0 until 3) store.write(seriesRows(100L + i * 1000L, Seq(Map("job" -> s"j$i"))))
    assert(store.labelValues(spark, "job").as[String].collect().toSeq == Seq("j0", "j1", "j2"))
    assert(cachedBlocks(store) == Set(1L, 2L, 3L))
    val merged = store.compact(spark, Seq(1L, 2L)).get
    store.applyRetention(keepMs = 500L)
    val live = store.manifest.blocks.map(_.blockId).toSet
    assert(live == Set(3L) && merged == 4L)
    assert(store.labelValues(spark, "job").as[String].collect().toSeq == Seq("j2"))
    assert(cachedBlocks(store) == live)
  }

  test("rolled-back series join the cached head dictionary; truncateHead removes them") {
    val store = new BlockStore(tmp("graft-ix-head"), 1000L)
    store.write(seriesRows(100L, Seq(Map("name" -> "cpu"))))
    def values = store.labelValues(spark, "name").as[String].collect().toSeq
    assert(values == Seq("cpu"))
    store.registerSeries(seriesRows(0L, Seq(Map("name" -> "mem"))))
    assert(values == Seq("cpu", "mem"))
    // a second rollback appends part files to the same head directory
    store.registerSeries(seriesRows(0L, Seq(Map("name" -> "disk"))))
    assert(values == Seq("cpu", "disk", "mem"))
    assert(store.readRange(spark, 0L, 1000L, Eq("name", "disk")).count() == 0)
    store.truncateHead()
    assert(values == Seq("cpu"))
    assert(BlockStore.seriesIndexes(store.tableName).head.isEmpty)
  }

  test("a series deleted entirely leaves the compacted dictionary, on both sides of the gate") {
    val store = new BlockStore(tmp("graft-ix-gone"), 1000L)
    store.write(seriesRows(100L, Seq(
      Map("job" -> "a"), Map("job" -> "b", "zone" -> "z"), Map.empty[String, String])))
    store.write(seriesRows(200L, Seq(Map("job" -> "a"), Map("job" -> "b", "zone" -> "z"))))
    store.delete(spark, 0L, 1000L, Eq("job", "b"))
    val id = store.compact(spark, Seq(1L, 2L)).get
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("job"))
    assert(store.labelValues(spark, "job").as[String].collect().toSeq == Seq("a"))
    sameMetadata(store)
    // numSeries counts what the block holds: {job="a"} and the label-less
    // "{}", which owns no dictionary row
    val Seq(meta) = store.manifest.blocks
    val dict = store.blockIndex(spark, id)
    assert(meta.numSeries == 2L)
    assert(meta.numSeries == dict.select("series_key").distinct().count() + 1)
    assert(store.readRange(spark, 0L, 1000L).select("series_key").distinct().count() == meta.numSeries)
    // the bounds are the surviving samples' own
    assert(dict.select("series_key", "s_mint", "s_maxt").as[(String, Long, Long)].collect().toSeq ==
      Seq(("{job=\"a\"}", 100L, 200L)))
  }

  test("a rolled-back series' empty-valued label is no label name, on both sides of the gate") {
    val store = new BlockStore(tmp("graft-ix-rollback-empty"), 1000L)
    store.write(seriesRows(100L, Seq(Map("job" -> "a"))))
    graft.ingest.Appender.txn(store)
      .add(seriesRows(200L, Seq(Map("job" -> "c", "zone" -> ""))).withColumnRenamed("sample_id", "arrival"))
      .rollback()
    assert(store.labelNames(spark).as[String].collect().toSeq == Seq("job"))
    assert(store.labelValues(spark, "job").as[String].collect().toSeq == Seq("a", "c"))
    assert(store.labelValues(spark, "zone").collect().isEmpty)
    sameMetadata(store)
  }

  test("building the postings index starts no Spark job") {
    val store = new BlockStore(tmp("graft-ix-declared"), 1000L)
    store.write(seriesRows(100L, Seq(Map("job" -> "a"))))
    store.write(seriesRows(1100L, Seq(Map("job" -> "b"))))
    store.registerSeries(seriesRows(0L, Seq(Map("job" -> "c"))))
    assert(jobsIn { store.postingsIndex(spark); () } == 0)
    assert(store.postingsIndex(spark).select("label_value").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c"))
  }

  test("a two-block compact starts no schema-inference job and no count re-scan") {
    val store = new BlockStore(tmp("graft-ix-compact-jobs"), 1000L)
    store.write(seriesRows(100L, Seq(Map("job" -> "a"), Map("job" -> "b"))))
    store.write(seriesRows(200L, Seq(Map("job" -> "a"))))
    val jobs = jobsOf { store.compact(spark, Seq(1L, 2L)); () }
    assert(jobs.nonEmpty)
    // every job serves one of the two writes: a schema inference runs
    // outside any query, and a count re-scan in a query of its own
    assert(jobs.forall(_.exists(q => q.startsWith("insertInto at") || q.startsWith("parquet at"))), jobs)
    assert(store.manifest.blocks.map(_.numSeries) == Seq(2L))
  }

  /** Store range [100, 300]: `a` at 100 and 300, `b` at 100 and 150, the
    * label-less `{}` at 100, `c` at 300 and also registered by a
    * rollback, `d` registered only. */
  private def deleteFixture(spillAt: Int): BlockStore = {
    val store = new BlockStore(tmp("graft-ix-delete"), 1000L, tombstoneSpillThreshold = spillAt)
    def s(i: String) = Map("job" -> "x", "i" -> i)
    store.write(seriesRows(100L, Seq(s("a"), s("b"), Map.empty[String, String])))
    store.write(seriesRows(150L, Seq(s("b"))))
    store.write(seriesRows(300L, Seq(s("a"), s("c"))))
    store.registerSeries(seriesRows(0L, Seq(s("c"), s("d"))))
    store
  }

  /** What a delete publishes: the manifest's inline records, side-table
    * records and per-block counters, and the intervals readers apply. */
  private def tombstones(store: BlockStore): (Seq[Any], Seq[Row]) = {
    val st = store.manifest
    (Seq(st.tombstones, st.tombstoneFiles, st.blocks.map(_.numTombstones)),
      rows(store.tombstoneTable(spark, store.manifest)))
  }

  test("a delete under the gate and one above it publish identical tombstones, inline and spilled") {
    for (spillAt <- Seq(10000, 2)) {
      val below = deleteFixture(spillAt)
      val above = bothSides(deleteFixture(spillAt))._2
      for (store <- Seq(below, above))
        store.delete(spark, 200L, 1000L, Matcher.neq("job", "y"))
      assert(tombstones(below) == tombstones(above), s"spill at $spillAt")
      // b's bounds miss the request; c clamps to its block bounds, not to
      // the open ones of its head registration; d and "{}" take the store's
      val want = Seq(("{}", 200L, 300L), ("{i=\"a\",job=\"x\"}", 200L, 300L),
        ("{i=\"c\",job=\"x\"}", 300L, 300L), ("{i=\"d\",job=\"x\"}", 200L, 300L))
      assert(tombstones(below)._2.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want.toSet)
      assert(below.manifest.tombstoneFiles.size == (if (spillAt == 2) 1 else 0))
    }
  }

  test("on a warm index, an inline delete starts no Spark job") {
    val store = deleteFixture(10000)
    store.labelNames(spark).collect()
    assert(jobsIn(store.delete(spark, 200L, 1000L, Eq("i", "a"))) == 0)
    assert(store.manifest.tombstones.map(_.seriesKey) == Seq("{i=\"a\",job=\"x\"}"))
    // the control: the Spark path's delete does start jobs
    assert(jobsIn(bothSides(store)._2.delete(spark, 200L, 1000L, Eq("i", "c"))) > 0)
  }

  test("addRef writes the same block dictionary on both sides of the gate; " +
    "an unknown ref fails with ErrNotFound on both") {
    def refs(t: Long, sets: Map[String, String]*): DataFrame =
      seriesRows(t, sets).drop("labels").withColumnRenamed("sample_id", "arrival")
    val below = deleteFixture(10000)
    val above = bothSides(deleteFixture(10000))._2
    val dicts = for (store <- Seq(below, above)) yield {
      val id = graft.ingest.Appender.txn(store, minValidTime = 0L)
        .addRef(refs(400L, Map("job" -> "x", "i" -> "a"), Map("job" -> "x", "i" -> "d")))
        .commit().get
      val e = intercept[IllegalArgumentException](graft.ingest.Appender.txn(store, minValidTime = 0L)
        .addRef(refs(500L, Map("job" -> "x", "i" -> "a"), Map("job" -> "nope"))).commit())
      assert(e.getMessage.contains("ErrNotFound") && e.getMessage.contains("{job=\"nope\"}"), e.getMessage)
      rows(store.blockIndex(spark, id))
    }
    assert(dicts.head == dicts(1))
    assert(dicts.head.map(_.getString(0)).distinct ==
      Seq("{i=\"a\",job=\"x\"}", "{i=\"d\",job=\"x\"}"))
  }
}
