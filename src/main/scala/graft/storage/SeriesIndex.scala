package graft.storage

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.matchers.Matcher

/** One label dictionary loaded on the driver — a live block's
  * `dict/block_id=<n>/` or the head dictionary — identified by its
  * part-file names. Spark writes a fresh UUID into every part file, so
  * a block id reused after `destroy` + a rebuild, or a head dictionary
  * a rollback appended to, never matches a stale entry. Per series: its
  * key, its label map and its `[s_mint, s_maxt]` (`Long.MaxValue` /
  * `Long.MinValue`, an empty interval, where the dictionary records no
  * bounds: the head's). */
private[storage] final class DictEntry(
    val files: Seq[String],
    val keys: Array[String],
    val labels: Array[Map[String, String]],
    val mint: Array[Long],
    val maxt: Array[Long])

/** The driver-resident postings of one store state: the union of the
  * live blocks' and the head's dictionaries — the reference's
  * in-memory postings over its mmapped block indexes
  * (`index/index.go:113-147`), which `PostingsForMatchers`
  * (`querier.go:326-396`) resolves without touching a sample. Immutable:
  * a manifest or head change builds a new one from the entries that
  * survive plus the dictionaries that are new ([[SeriesIndex.refresh]]).
  * Its size class is the per-series label pivot the Spark path
  * broadcasts, so [[BlockStore]] keeps one only under its
  * `broadcastLimit`. */
private[storage] final class SeriesIndex(
    val blocks: Map[Long, DictEntry],
    val head: Option[DictEntry]) {

  /** Every indexed series in key order, with its label map and bounds;
    * a series in several dictionaries keeps the union of their pairs
    * (they agree: the key is a function of the label set) and the hull
    * of their bounds. */
  private val (keys, labels, mints, maxts) = {
    val byKey = new java.util.HashMap[String, (Map[String, String], Long, Long)]()
    for (e <- blocks.values ++ head; i <- e.keys.indices)
      byKey.merge(e.keys(i), (e.labels(i), e.mint(i), e.maxt(i)), (a, b) =>
        (if ((a._1 eq b._1) || a._1 == b._1) a._1 else a._1 ++ b._1,
          math.min(a._2, b._2), math.max(a._3, b._3)))
    val ks = byKey.keySet.asScala.toArray.sorted
    val vs = ks.map(byKey.get)
    (ks, vs.map(_._1), vs.map(_._2), vs.map(_._3))
  }

  /** label name → label value → ordinals of the series carrying it. */
  private val postings: Map[String, Map[String, Array[Int]]] = {
    val acc = mutable.HashMap.empty[String, mutable.HashMap[String, mutable.ArrayBuilder.ofInt]]
    for (i <- keys.indices; (n, v) <- labels(i))
      acc.getOrElseUpdate(n, mutable.HashMap.empty)
        .getOrElseUpdate(v, new mutable.ArrayBuilder.ofInt) += i
    acc.iterator.map { case (n, vs) =>
      n -> vs.iterator.map { case (v, b) => v -> b.result() }.toMap
    }.toMap
  }

  /** Distinct label names in Spark's string order (unsigned UTF-8
    * bytes, what `orderBy` gives; `String.compareTo`'s UTF-16 order
    * differs above U+FFFF). */
  val labelNames: Seq[String] = SeriesIndex.binarySorted(postings.keys)
  private val values: Map[String, Seq[String]] =
    postings.map { case (n, vs) => n -> SeriesIndex.binarySorted(vs.keys) }

  /** Distinct values of one label, in [[labelNames]]' order. */
  def labelValues(name: String): Seq[String] = values.getOrElse(name, Nil)

  private def ordinal(key: String): Int =
    java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], key)

  /** The label map of an indexed series, for sharing one instance
    * between the dictionaries that list it. */
  def labelsOf(key: String): Option[(String, Map[String, String])] = {
    val i = ordinal(key)
    if (i >= 0) Some((keys(i), labels(i))) else None
  }

  /** The sample bounds of a series as the block dictionaries record
    * them (the reference's in-memory series bounds, `head.go:972-977`);
    * None for a series no block lists — a head-only one, or the
    * label-less `"{}"`, which owns no dictionary row. The head records
    * no bounds, so it never widens a series that also lives in a block. */
  def bounds(key: String): Option[(Long, Long)] = {
    val i = ordinal(key)
    if (i >= 0 && mints(i) <= maxts(i)) Some((mints(i), maxts(i))) else None
  }

  /** The series keys a matcher conjunction selects — the rule of
    * [[graft.query.Postings.seriesFor]], evaluated here once per
    * distinct value: an absent label counts as `""`, match-all matchers
    * are dropped, and the label-less series `"{}"` (which owns no
    * postings) is added as a phantom key when every matcher matches
    * `""`. */
  def resolve(ms0: Seq[Matcher]): Seq[String] = {
    val ms = ms0.filterNot(Matcher.matchesAll)
    val hit = new java.util.BitSet(keys.length)
    hit.set(0, keys.length)
    for (m <- ms) {
      // a matches-empty matcher keeps every series but those carrying a
      // rejected value; any other keeps only those carrying an accepted one
      val emptyOk = m.matchesValue("")
      val sel = new java.util.BitSet(keys.length)
      if (emptyOk) sel.set(0, keys.length)
      for ((v, ids) <- postings.getOrElse(m.name, Map.empty)
           if m.matchesValue(v) != emptyOk; i <- ids)
        sel.set(i, !emptyOk)
      hit.and(sel)
    }
    val matched = hit.stream().toArray.toSeq.map(keys(_))
    if (ms.forall(_.matchesValue(""))) matched :+ "{}" else matched
  }

  @volatile private var frame: Option[(SparkSession, DataFrame)] = None

  /** `(series_key, labels)` of every indexed series as a local relation,
    * built once per index and session and reused by every labelled
    * read. */
  def labelsFrame(spark: SparkSession): DataFrame = frame match {
    case Some((s, df)) if s eq spark => df
    case _ =>
      val df = spark.createDataFrame(
        keys.indices.map(i => Row(keys(i), labels(i))).asJava, SeriesIndex.LabelsSchema)
      frame = Some((spark, df))
      df
  }
}

private[storage] object SeriesIndex {
  private val LabelsSchema = StructType(Seq(
    StructField("series_key", StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType))))

  private def binarySorted(xs: Iterable[String]): Seq[String] =
    xs.toVector.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0).map(_.toString)

  /** The part files of a dictionary directory, sorted — an entry's
    * identity. Empty when the directory does not exist. */
  def partFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted

  /** `prev` brought up to the given dictionaries: entries whose files
    * are unchanged are kept as they are, the others are read (all of
    * them in one Spark read), and entries no longer listed are dropped
    * — `prev` itself when nothing changed. Label maps of series `prev`
    * or an earlier new dictionary already holds are shared, so the heap
    * grows with live series, not with series × blocks. */
  def refresh(
      spark: SparkSession,
      prev: Option[SeriesIndex],
      blockDirs: Seq[(Long, String)],
      headDir: Option[String]): SeriesIndex = {
    val files = (blockDirs.map(_._2) ++ headDir).map(d => d -> partFiles(d)).toMap
    val kept = (blockDirs.flatMap { case (id, d) => prev.flatMap(_.blocks.get(id)).map(d -> _) } ++
      headDir.flatMap(d => prev.flatMap(_.head).map(d -> _)))
      .filter { case (d, e) => e.files == files(d) }.toMap
    val entries = kept ++ load(spark, files.filter { case (d, _) => !kept.contains(d) }, prev)
    val blocks = blockDirs.map { case (id, d) => id -> entries(d) }.toMap
    val head = headDir.map(entries)
    prev.filter(p => p.blocks == blocks && p.head == head)
      .getOrElse(new SeriesIndex(blocks, head))
  }

  /** The dictionaries `dirs` (directory → its part files) as entries,
    * read by one Spark job; a row finds its dictionary by the name of
    * its file's directory (`block_id=<n>` or `head`). */
  private def load(
      spark: SparkSession,
      dirs: Map[String, Seq[String]],
      prev: Option[SeriesIndex]): Map[String, DictEntry] = {
    val paths = for ((d, fs) <- dirs.toSeq; f <- fs) yield s"$d/$f"
    val rows =
      if (paths.isEmpty) Array.empty[Row]
      else BlockStore.readDict(spark, paths)
        .select(col("_metadata.file_path"), col("series_key"), col("label_name"), col("label_value"),
          coalesce(col("s_mint"), lit(Long.MaxValue)), coalesce(col("s_maxt"), lit(Long.MinValue)))
        .collect()
    val byDir = mutable.HashMap.empty[String, mutable.LinkedHashMap[String, (Map[String, String], Long, Long)]]
    for (r <- rows) {
      val path = r.getString(0).split('/')
      val bySeries = byDir.getOrElseUpdate(path(path.length - 2), mutable.LinkedHashMap.empty)
      val k = r.getString(1)
      val (m, lo, hi) = bySeries.getOrElse(k, (Map.empty[String, String], Long.MaxValue, Long.MinValue))
      bySeries(k) = (m + (r.getString(2) -> r.getString(3)),
        math.min(lo, r.getLong(4)), math.max(hi, r.getLong(5)))
    }
    val loaded = new java.util.HashMap[String, (String, Map[String, String])]()
    def intern(k: String, m: Map[String, String]): (String, Map[String, String]) =
      Option(loaded.get(k)).orElse(prev.flatMap(_.labelsOf(k))) match {
        case Some(hit @ (_, m0)) if m0 == m => hit
        case _ =>
          loaded.put(k, (k, m))
          (k, m)
      }
    dirs.map { case (d, fs) =>
      val bySeries = byDir.getOrElse(new java.io.File(d).getName, mutable.LinkedHashMap.empty)
      val shared = bySeries.iterator.map { case (k, (m, _, _)) => intern(k, m) }.toArray
      d -> new DictEntry(fs, shared.map(_._1), shared.map(_._2),
        bySeries.valuesIterator.map(_._2).toArray, bySeries.valuesIterator.map(_._3).toArray)
    }
  }
}
