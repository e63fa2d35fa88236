package graft.query

import graft.SparkSuite
import graft.matchers.{Eq, InSet, Matcher, Re}
import graft.storage.BlockStore

/** The store's matcher resolution must agree with the pushdown path on
  * every matcher shape, on both sides of the `broadcastLimit` gate — the
  * battery mirrors the combinations of the reference's
  * `TestPostingsForMatchers` (`querier_test.go:1830-2082`). */
class PostingsSpec extends SparkSuite {

  lazy val src = TsdbSource.events(spark, sf)

  private val T0 = 1704067200000L
  private val HI = T0 + 40 * 86400000L

  /** One block of the events table; the second handle on the same root
    * resolves through the Spark postings aggregate. */
  private lazy val stores: Seq[BlockStore] = {
    val root = java.nio.file.Files.createTempDirectory("graft-postings").toString
    val store = new BlockStore(root, 7 * 86400000L)
    store.write(src.samples)
    Seq(store, new BlockStore(root, 7 * 86400000L, broadcastLimit = 0L))
  }

  /** The matched sample ids, identical on both sides of the gate. */
  private def viaPostings(ms: Matcher*): Set[Long] = {
    val Seq(cached, viaSpark) = stores.map(
      _.readRange(spark, T0, HI, ms: _*).select("sample_id").collect().map(_.getLong(0)).toSet)
    assert(cached == viaSpark, s"${ms.toList}: cached ${cached.size} vs Spark path ${viaSpark.size}")
    cached
  }

  private def viaPushdown(ms: Matcher*): Set[Long] =
    src.select(T0, HI, ms: _*)
      .select("sample_id").collect().map(_.getLong(0)).toSet

  private def agree(ms: Matcher*): Unit = {
    val got = viaPostings(ms: _*)
    val want = viaPushdown(ms: _*)
    assert(got == want, s"${ms.toList}: postings ${got.size} vs pushdown ${want.size}")
  }

  test("postings path agrees with pushdown on the matcher battery") {
    agree(Eq("name", "click"))
    agree(Eq("name", "missing-value"))
    agree(Eq("vip", "")) // empty eq selects label-less series
    agree(Matcher.neq("name", "click"))
    agree(Matcher.neq("vip", "1")) // negation over a sparse label
    agree(Re("name", "c.*|sig.*"))
    agree(Re("name", ".*")) // matches everything incl. absent
    agree(Re("vip", "|1")) // matches-empty alternation
    agree(Matcher.notRe("name", "c.*"))
    agree(InSet("name", Set("click", "view")))
    agree(Eq("name", "click"), Re("user", "1.*")) // conjunction = intersect
    agree(Eq("name", "purchase"), Matcher.neq("vip", "1"), Re("user", ".*7.*"))
  }

  test("matched sample sets are non-trivial (the battery isn't vacuous)") {
    assert(viaPostings(Eq("name", "click")).nonEmpty)
    assert(viaPostings(Matcher.neq("vip", "1")).nonEmpty)
    val all = viaPostings()
    assert(viaPostings(Re("name", ".*")) == all)
    assert(viaPostings(Eq("name", "missing-value")).isEmpty)
  }

  test("postings set algebra edge table (TestIntersect/TestMergedPostings/" +
    "TestWithoutPostings postings_test.go:64,320,738)") {
    import spark.implicits._
    // the reference's list postings as a tiny index: one label value =
    // one postings list. l1: A->{s1,s2,s3}, C->{s4,s5}; l2: B->{s2,s3,s4};
    // s6 carries only l2 (the label-absent row for the without cases)
    val idx = Seq(
      ("s1", "l1", "A"), ("s2", "l1", "A"), ("s3", "l1", "A"),
      ("s4", "l1", "C"), ("s5", "l1", "C"),
      ("s2", "l2", "B"), ("s3", "l2", "B"), ("s4", "l2", "B"),
      ("s6", "l2", "D"))
      .toDF("series_key", "label_name", "label_value")
    def got(ms: Matcher*): Set[String] =
      Postings.seriesFor(idx, ms).as[String].collect().toSet

    // J1 intersect: {1,2,3} ∩ {2,3,4} -> {2,3}
    assert(got(Eq("l1", "A"), Eq("l2", "B")) == Set("s2", "s3"))
    // an empty postings list anywhere in the conjunction absorbs it,
    // in any order (the reference's 8 orderings)
    assert(got(Eq("l1", "missing"), Eq("l1", "A"), Eq("l2", "B")).isEmpty)
    assert(got(Eq("l1", "A"), Eq("l1", "missing"), Eq("l2", "B")).isEmpty)
    assert(got(Eq("l1", "A"), Eq("l2", "B"), Eq("l1", "missing")).isEmpty)
    // disjoint lists intersect to empty: a series has one l1 value
    assert(got(Eq("l1", "A"), Eq("l1", "C")).isEmpty)
    // J2 merge: A ∪ C -> {1..5}
    assert(got(Re("l1", "A|C")) == Set("s1", "s2", "s3", "s4", "s5"))
    // J3 without: all \ A -> value-mismatched ∪ label-absent, and the
    // label-less "{}" the index cannot list (every matcher matches "")
    assert(got(Matcher.neq("l1", "A")) == Set("s4", "s5", "s6", "{}"))
    // removing a superset of the positive side leaves nothing
    assert(got(Eq("l1", "A"), Matcher.neq("l1", "A")).isEmpty)
    // removing nothing leaves the positive side intact
    assert(got(Eq("l1", "A"), Matcher.neq("l1", "missing")) == Set("s1", "s2", "s3"))
  }

  test("reference postings vectors (TestMultiIntersect/TestMultiMerge/" +
    "TestRemovedPostings/TestIntersectWithMerge postings_test.go:182,310,486,721)") {
    import spark.implicits._
    // each reference list-postings becomes one label's postings list in
    // a synthetic index; Intersect = matcher conjunction, Merge = the
    // value-OR regex, Removed = matches-empty negation. Results compare
    // as SETS — iterator order is the reference's concern, ours is the
    // bucketed layout's (O3-O6).
    def idx(lists: (String, String, Seq[Int])*) =
      lists.flatMap { case (name, value, ids) =>
        ids.map(i => (s"s$i", name, value)) }
        .toDF("series_key", "label_name", "label_value")
    def got(p: org.apache.spark.sql.DataFrame, ms: Matcher*): Set[Int] =
      Postings.seriesFor(p, ms)
        .as[String].collect().map(_.drop(1).toInt).toSet

    // TestMultiIntersect case 1
    val i1 = idx(
      ("l1", "1", Seq(1, 2, 3, 4, 5, 6, 1000, 1001)),
      ("l2", "1", Seq(2, 4, 5, 6, 7, 8, 999, 1001)),
      ("l3", "1", Seq(1, 2, 5, 6, 7, 8, 1001, 1200)))
    assert(got(i1, Eq("l1", "1"), Eq("l2", "1"), Eq("l3", "1"))
      == Set(2, 5, 6, 1001))
    // TestMultiIntersect case 2 — the prometheus#2616 regression vector
    val i2 = idx(
      ("l1", "1", Seq(1, 2)), ("l2", "1", Seq(1, 2)),
      ("l3", "1", Seq(1, 2)), ("l4", "1", Seq(2)))
    assert(got(i2, Eq("l1", "1"), Eq("l2", "1"), Eq("l3", "1"), Eq("l4", "1"))
      == Set(2))

    // TestMultiMerge — three lists under one label, value-OR
    val m = idx(
      ("g", "1", Seq(1, 2, 3, 4, 5, 6, 1000, 1001)),
      ("g", "2", Seq(2, 4, 5, 6, 7, 8, 999, 1001)),
      ("g", "3", Seq(1, 2, 5, 6, 7, 8, 1001, 1200)))
    assert(got(m, Re("g", "1|2|3"))
      == Set(1, 2, 3, 4, 5, 6, 7, 8, 999, 1000, 1001, 1200))

    // TestRemovedPostings — the full case table; membership labels:
    // "a"=positive list, "d"=drop list
    val removedCases = Seq(
      (Seq.empty[Int], Seq.empty[Int], Set.empty[Int]),
      (Seq(1, 2, 3, 4), Seq.empty[Int], Set(1, 2, 3, 4)),
      (Seq.empty[Int], Seq(1, 2, 3, 4), Set.empty[Int]),
      (Seq(1, 2, 3, 4, 5), Seq(6, 7, 8, 9, 10), Set(1, 2, 3, 4, 5)),
      (Seq(1, 2, 3, 4, 5), Seq(4, 5, 6, 7, 8), Set(1, 2, 3)),
      (Seq(1, 2, 3, 4, 9, 10), Seq(1, 4, 5, 6, 7, 8, 10, 11), Set(2, 3, 9)),
      (Seq(1, 2, 3, 4, 9, 10), Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11),
        Set.empty[Int]))
    removedCases.foreach { case (a, b, want) =>
      val p = idx(("a", "1", a), ("d", "1", b))
      assert(got(p, Eq("a", "1"), Matcher.neq("d", "1")) == want,
        s"removed($a, $b)")
    }

    // TestIntersectWithMerge — the other #2616 vector:
    // [21..25,30] ∩ merge([10,20,30], [15,26,30]) = {30}
    val im = idx(
      ("a", "1", Seq(21, 22, 23, 24, 25, 30)),
      ("g", "1", Seq(10, 20, 30)),
      ("g", "2", Seq(15, 26, 30)))
    assert(got(im, Eq("a", "1"), Re("g", "1|2")) == Set(30))
  }
}
