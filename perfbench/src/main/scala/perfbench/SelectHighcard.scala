package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.Db
import graft.matchers.{Eq, Matcher, Re}
import graft.query.Postings
import graft.storage.Compaction

/** The library Querier path at high cardinality: ~50k series with the
  * reference's postings-benchmark label shapes (`n`, `i`, `j`), few
  * samples each, in an unmaintained store holding one ~30%-overlapping
  * re-ingest and some tombstones. One client runs the matcher sets at
  * two range widths, plus point seeks and label-values lookups. */
final class SelectHighcard extends Workload {
  val name = "select_highcard"
  val clients = 1

  private val Ns = 10
  private val Is = 5000
  private val Samples = 4
  private val IntervalMs = 60000L
  private val RangeMs = 3600 * 1000L
  private val T0 = 1700002800000L // a multiple of RangeMs
  private val Opts = Db.Options(blockRangeMs = RangeMs)
  // the deleted window: n="9" loses its first two samples
  private val DelMaxt = T0 + IntervalMs

  private final class S(val n: Int, val i: Int) {
    val labels: Map[String, String] =
      Map("n" -> n.toString, "i" -> i.toString, "j" -> (if (i % 2 == 0) "foo" else "bar"))
    val key: String = graft.model.Labels.fromMap(labels).canonical
    def reingested: Boolean = i % 10 < 3
    def v(t: Long, shift: Double): Double = n * 1000.0 + i + (t - T0) / IntervalMs * 0.25 + shift
  }

  private var series: IndexedSeq[S] = IndexedSeq.empty
  private var shift = 0.0 // the re-ingest's value offset, from the seed
  private var root = ""
  private var db: Db = _
  private var rng: java.util.SplittableRandom = _

  private val Sets: IndexedSeq[(String, Seq[Matcher])] = IndexedSeq(
    "n=1" -> Seq(Eq("n", "1")),
    "n=1,j=foo" -> Seq(Eq("n", "1"), Eq("j", "foo")),
    "n=1,j!=foo" -> Seq(Eq("n", "1"), Matcher.neq("j", "foo")),
    "i=~1.*" -> Seq(Re("i", "1.*")),
    "n=1,i=~.+,j=foo" -> Seq(Eq("n", "1"), Re("i", ".+"), Eq("j", "foo")),
    "i=~set" -> Seq(Re("i", "12|345|2000|4999|777")),
    "n=2,i!=''" -> Seq(Eq("n", "2"), Matcher.neq("i", "")),
    "n=9,i=~2.*" -> Seq(Eq("n", "9"), Re("i", "2.*")))

  def setup(ctx: Ctx): Unit = {
    series = for (n <- 0 until Ns; i <- 0 until Is) yield new S(n, i)
    shift = 1000 + Gen.rng(ctx.seed, 21).nextInt(1000)
    rng = Gen.rng(ctx.seed, 22)
    root = s"${ctx.work}/store"
    db = Db.open(ctx.spark, root, Opts)
    var arrival = 0L
    def batch(ss: Seq[S], shift: Double): org.apache.spark.sql.DataFrame = {
      val rows = mutable.ArrayBuffer.empty[Row]
      for (s <- ss; k <- 0 until Samples) {
        val t = T0 + k * IntervalMs
        arrival += 1
        rows += Row(s.key, s.labels, t, s.v(t, shift), arrival)
      }
      Gen.frame(ctx.spark, rows.toSeq)
    }
    ctx.phase("store_build_s") {
      db.appender().add(batch(series, 0.0)).commit()
      // the re-ingest overlaps the first block; later block wins
      db.appender(Long.MinValue).add(batch(series.filter(_.reingested), shift)).commit()
      db.delete(T0, DelMaxt, Eq("n", "9"))
    }
    ctx.facts("series") = series.size.toString
    ctx.facts("samples") = (series.size * Samples + series.count(_.reingested) * Samples).toString
    ctx.facts("blocks") = db.blocks.size.toString
    ctx.facts("store_bytes") = db.blocks.map(_.bytes).sum.toString
    ctx.facts("overlap_groups") = Compaction.overlappingGroups(db.blocks).size.toString
    // warm-up, untimed: an equality, a regex and a negated set, a seek
    // and a label lookup
    ctx.phase("warmup_s") {
      for (k <- Seq(1, 3, 6)) require(select(ctx, k, wide = k != 3).ok, s"warm-up ${Sets(k)._1}")
      require(seek(ctx).ok && labelValues(ctx).ok, "warm-up seek/labelValues")
    }
  }

  private def expected(ms: Seq[Matcher], mint: Long, maxt: Long): (Long, Long, Double) = {
    var rows = 0L
    var keys = 0L
    var sum = 0.0
    for (s <- series if ms.forall(m => m.matchesValue(s.labels.getOrElse(m.name, "")))) {
      val ts = (0 until Samples).map(T0 + _ * IntervalMs)
        .filter(t => t >= mint && t <= maxt && !(s.n == 9 && t <= DelMaxt))
      if (ts.nonEmpty) keys += 1
      rows += ts.size
      sum += ts.map(t => s.v(t, if (s.reingested) shift else 0.0)).sum
    }
    (rows, keys, sum)
  }

  def step(ctx: Ctx, client: Int, i: Int): Op =
    i % 10 match {
      case 4 => seek(ctx)
      case 9 => labelValues(ctx)
      case _ => select(ctx, rng.nextInt(Sets.size), wide = rng.nextBoolean())
    }

  /** A matcher select, collected: rows, distinct series and the value
    * sum must equal the closed form. */
  private def select(ctx: Ctx, k: Int, wide: Boolean): Op = {
    val (label, ms) = Sets(k)
    val (mint, maxt) = if (wide) (T0, T0 + Samples * IntervalMs) else (T0 + 2 * IntervalMs, T0 + 3 * IntervalMs)
    val (wRows, wKeys, wSum) = expected(ms, mint, maxt)
    var span = ""
    val op = ctx.timed("select") {
      val (rows, sp) = traced(ctx, "select")(
        db.query(mint, maxt, ms: _*).select("series_key", "t", "v").collect())
      span = sp
      val keys = rows.map(_.getString(0)).distinct.length
      val sum = rows.map(_.getDouble(2)).sum
      val ok = rows.length == wRows && keys == wKeys && math.abs(sum - wSum) <= 1e-6 * math.max(1.0, wSum)
      Outcome(ok, rows.length.toLong,
        if (ok) "" else s"$label: rows ${rows.length}/$wRows series $keys/$wKeys sum $sum/$wSum")
    }
    if (ctx.trace.nonEmpty && span.nonEmpty && op.ok) {
      val tr = ctx.trace.get
      val t = ctx.sparkLayers(span, op.seconds)
      ctx.layer("storage.read_s", op.seconds)
      ctx.layer("storage.rows_examined_per_sample_returned",
        if (op.samples > 0) t.inputRows.toDouble / op.samples else 0.0)
      val live = db.blocks.filter(_.overlaps(mint, maxt))
      ctx.layer("storage.blocks_touched", live.size)
      ctx.layer("storage.overlap_groups", Compaction.overlappingGroups(live).size)
      val st = db.store.manifest
      ctx.layer("storage.tombstone_intervals", st.tombstones.size + st.tombstoneFiles.map(_.count).sum)
      // matcher resolution alone, over the same index the read uses
      val idx = db.store.postingsIndex(ctx.spark)
      val extra = if (ms.exists(_.matchesValue(""))) ctx.spark.createDataFrame(
        java.util.List.of(Row("{}")), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("series_key", org.apache.spark.sql.types.StringType))))
        else idx.select("series_key").limit(0)
      val p0 = System.nanoTime()
      val (matched, psp) = tr.span("postings")(Postings.seriesFor(idx, extra, ms).count())
      ctx.layer("postings.resolve_s", (System.nanoTime() - p0) / 1e9)
      ctx.layer("postings.index_rows_read", tr.totals(psp).inputRows)
      ctx.layer("postings.series_matched", matched)
    }
    op
  }

  private def seek(ctx: Ctx): Op = {
    val s = series(rng.nextInt(series.size))
    val want = (0 until Samples).map(T0 + _ * IntervalMs).filter(t => !(s.n == 9 && t <= DelMaxt))
      .map(t => t -> s.v(t, if (s.reingested) shift else 0.0))
    val op = ctx.timed("seek") {
      val got = traced(ctx, "seek")(db.seek(s.labels, T0, T0 + Samples * IntervalMs)
        .select("t", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq)._1
      Outcome(got == want, got.size.toLong, if (got == want) "" else s"seek ${s.key}: $got want $want")
    }
    if (ctx.trace.nonEmpty && op.ok) ctx.layer("storage.seek_s", op.seconds)
    op
  }

  private def labelValues(ctx: Ctx): Op = {
    val name = if (rng.nextBoolean()) "n" else "j"
    val want = if (name == "n") (0 until Ns).map(_.toString).toSet else Set("foo", "bar")
    val op = ctx.timed("label_values") {
      val got = traced(ctx, "label_values")(db.labelValues(name).collect().map(_.getString(0)).toSet)._1
      Outcome(got == want, got.size.toLong, if (got == want) "" else s"labelValues($name) = $got")
    }
    if (ctx.trace.nonEmpty && op.ok) ctx.layer("storage.label_values_s", op.seconds)
    op
  }

  private def traced[T](ctx: Ctx, name: String)(f: => T): (T, String) =
    ctx.trace match {
      case Some(t) => t.span(name)(f)
      case None => (f, "")
    }

  def finish(ctx: Ctx): Unit = {
    val want = series.map(s => s.key -> (if (s.n == 9) Samples - 2 else Samples).toLong).toMap
    val got = Gen.seriesCounts(ctx.spark, root, Opts, T0, T0 + RangeMs)
    val diff = Gen.diffCounts(got, want)
    ctx.check("durability: per-series counts after re-open", diff.isEmpty, diff)
    liveSamples = got.values.sum
  }

  private var liveSamples = 0L
  def stored: (Long, Long) = (db.blocks.map(_.bytes).sum, liveSamples)

  val mix = Map("select" -> 8.0, "seek" -> 1.0, "label_values" -> 1.0)
  val mainKinds = Set("select")
  val sideKinds = Set("seek", "label_values")

  val names: Map[String, String] = Map(
    "op_p50_s" -> "select_p50_s", "op_tail_s" -> "select_tail_s",
    "ops_per_s" -> "selects_per_s", "side_op_p50_s" -> "seek_label_values_p50_s",
    "samples_per_s" -> "selected_samples_per_s")
}
