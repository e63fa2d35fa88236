package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.matchers.Matcher

/** The reference's postings machinery as relational set algebra: an
  * inverted-index table `(label_name, label_value, series_key)` — one
  * row per label pair per series (reference `index/index.go:140-147`,
  * postings lists keyed by label pair; [[graft.storage.BlockStore.postingsIndex]]
  * unions the blocks' persisted ones) — and `PostingsForMatchers`
  * (`querier.go:326-396`) compiled to one aggregate:
  *
  *  - value-level matching runs on the index rows (one eval per distinct
  *    (series, pair), like the reference's per-value regex walk);
  *  - J2 Merge (OR over matching values) = the row filter itself;
  *  - J3 Without (matches-empty: series NOT carrying the label) = the
  *    per-series "has the label" bit;
  *  - J1 Intersect (matcher conjunction) = the AND across matchers.
  *
  * [[graft.storage.BlockStore]] resolves here above its
  * `broadcastLimit` gate — selectors for `readRange`, which touches the
  * fact table with one semi-join on the resolved keys, and the series a
  * `delete` records; below it the driver-resident
  * [[graft.storage.SeriesIndex]] applies the same rule to both. Ad-hoc frames
  * with wide source columns take the pushdown path instead
  * ([[TsdbSource.select]]), where matchers compile to scan filters.
  */
object Postings {

  /** `PostingsForMatchers` with the absent-label-is-empty rule
    * (`querier.go:331-396`): a matcher that matches "" also selects
    * every series without the label.
    *
    * The whole conjunction resolves in ONE aggregate pass over the
    * index — per series, per matcher, two map-side-combinable bits:
    * did any of the label's values match, and does the series carry the
    * label at all — then one predicate row per series:
    * `matched_i OR (matches-empty_i AND !has_i)` ANDed across matchers.
    * This replaces the earlier per-matcher subtree chain (present
    * branch + anti-join absent branch + semi-join intersect per
    * matcher: ~2×matchers consumers of the index and as many shuffles);
    * the aggregate touches the index once and shuffles #series rows,
    * whatever the matcher count. J1 intersect = the AND; J2 merge =
    * the OR; J3 without = the `!has` bit.
    *
    * Completeness caveat: the postings index only knows series with ≥1
    * label — in the canonical key scheme, every key except the
    * label-less `"{}"`. That one key is the ONLY universe the index can
    * miss, and it carries no labels, so it matches exactly when the
    * list is non-empty and EVERY matcher matches "" (reference test
    * `TestNotMatcherSelectsLabelsUnsetSeries`, `db_test.go:1165`): then
    * it is added as a phantom row. Harmless when no such series exists:
    * the caller's fact semi-join drops it, and a tombstone for it
    * filters nothing. Declaring the complement instead of passing a
    * full universe frame removes what used to be a per-query distinct +
    * anti-join over the whole index (~8 s of the 16-s `i=~""` row on
    * the 5M-series matcher bench).
    *
    * Match-all matchers (`=~".*"` — every value AND absent) are dropped
    * from the conjunction before the aggregate (the reference's
    * all-postings fast path): each would cost two aggregate bits per
    * series and filter nothing. */
  def seriesFor(postings: DataFrame, ms: Seq[Matcher]): DataFrame = {
    import postings.sparkSession.implicits._
    seriesFor(postings, Seq("{}").toDF("series_key"), ms)
  }

  /** [[seriesFor]] with the caller's own rows for the series the index
    * cannot know in place of the phantom `"{}"`, under the same rule.
    * The benchmark harness's traced resolution calls this form. */
  def seriesFor(postings: DataFrame, extraSeries: => DataFrame, ms0: Seq[Matcher]): DataFrame = {
    val ms = ms0.filterNot(Matcher.matchesAll)
    val fromIndex =
      if (ms.isEmpty) postings.select("series_key").distinct()
      else {
        val aggs = ms.zipWithIndex.flatMap { case (m, i) =>
          Seq(
            max(when(col("label_name") === m.name &&
              Matcher.toColumn(m, _ => col("label_value")), 1).otherwise(0)).as(s"__match_$i"),
            max(when(col("label_name") === m.name, 1).otherwise(0)).as(s"__has_$i"))
        }
        val pred = ms.zipWithIndex.map { case (m, i) =>
          if (m.matchesValue("")) col(s"__match_$i") === 1 || col(s"__has_$i") === 0
          else col(s"__match_$i") === 1
        }.reduce(_ && _)
        postings
          .groupBy("series_key").agg(aggs.head, aggs.tail: _*)
          .where(pred)
          .select("series_key")
      }
    if (ms0.nonEmpty && ms0.forall(_.matchesValue(""))) fromIndex.unionByName(extraSeries)
    else fromIndex
  }
}
