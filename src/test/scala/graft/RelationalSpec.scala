package graft

/** Plan-shape audits for the relational queries: the point at 100 TB is
  * not just the result but that dims broadcast and filters reach the scan.
  */
class RelationalSpec extends SparkSuite {

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q3_join broadcasts the customer dim") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q5_join broadcasts the dim star") {
    val p = plan("q5_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q1_agg pushes the shipdate filter to the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q_semi_join and q_anti_join plan as semi/anti hash joins") {
    assert(plan("q_semi_join").contains("LeftSemi"), plan("q_semi_join").take(1200))
    assert(plan("q_anti_join").contains("LeftAnti"), plan("q_anti_join").take(1200))
  }

  test("by-label family rides namedGridLatest: pruned scan, no grid join, " +
    "two hash exchanges") {
    // ts_count_values is a pure consumer (no lattice re-attach): the
    // whole plan must be scan -> latest aggregate -> (name, t, v)
    // aggregate -> output sort. A Join or a third hash exchange means
    // the series×instants grid crept back in.
    val p = plan("ts_count_values")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p.take(3000))
    // the [MINT - LOOKBACK, MAXT] range reaches the scan in the ts
    // column's own type (NTZ literals here; raw longs on nanos data)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      p.take(3000))
    // the zero-row consumers re-attach the lattice as a BROADCAST join
    // after aggregating — never a shuffled join
    val agg = plan("ts_minmax_by")
    assert(agg.contains("BroadcastHashJoin"), agg.take(3000))
    assert(!agg.contains("SortMergeJoin"), agg.take(3000))
  }

  test("doc_filter_pipeline fuses the row-wise signals: ONE join, two scans") {
    // r13: quality + langid are row-wise expressions over one scan; the
    // exact-dedup survivor attach is the only join left. Three
    // broadcast passes creeping back in = this fails.
    val p = plan("doc_filter_pipeline")
    assert(p.split("BroadcastHashJoin").length - 1 == 1, p.take(3000))
    assert(p.split("Scan parquet").length - 1 <= 2, p.take(3000))
  }

  test("promql_hist_arith plan stays truncated at the merge core") {
    // r13: hMergeGroups materializes its instant-grain input once; the
    // r12 plan re-derived the full source lineage ~16x per merge
    // (2,694 physical nodes, 148 parquet scans, 383 exchanges at 15
    // instants — a compile-time bomb that grew with the instant count).
    // Generous bounds so host-independent: before-change values were
    // 148 scans / 383 exchanges.
    val p = plan("promql_hist_arith")
    assert(p.split("Scan parquet").length - 1 <= 8, s"parquet scans: ${p.split("Scan parquet").length - 1}")
    assert(p.split("Exchange").length - 1 <= 80, s"exchanges: ${p.split("Exchange").length - 1}")
  }

  test("latest-pick order key (t, sample_id) is unique per series on the read path") {
    // The ArgPick latest-sample entries (ts_sort_desc, ts_limit_ratio,
    // ts_delta_gauge, ts_at_modifier) order by (t, sample_id) ONLY and
    // carry v as payload — pick-identical to max(struct(t, sample_id,
    // v)) exactly while this uniqueness holds (r12 ADVICE): a read-path
    // change that stops deduplicating must fail here loudly, not
    // surface as arrival-order-dependent output.
    import org.apache.spark.sql.functions._
    val dups = query.TsdbSource.events(spark, sf).samples
      .groupBy(col("series_key"), col("t"), col("sample_id"))
      .count().where(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("promql selectors push matchers and time bounds to the parquet scan") {
    // the pushdown hook compiles {name="click"} onto the SOURCE columns
    // — without it the predicate dies against the constructed labels
    // map and the scan reads the whole corpus
    val p = plan("promql_increase")
    assert(p.contains("EqualTo(event_type,click)"), p.take(3000))
    assert(p.contains("GreaterThanOrEqual(ts,"), p.take(3000))
  }

  test("every oracle key has a query and vice versa") {
    // r7: the rows-only set is empty. ts_series_id left it in r6 (its
    // oracle implements XXHash64 as DuckDB integer SQL);
    // ts_quantile_sketch left in r7 (its oracle pins the GK rank-error
    // CONTRACT — a within_bound boolean the twin fixes to TRUE —
    // rather than the engine-private sketch value).
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
