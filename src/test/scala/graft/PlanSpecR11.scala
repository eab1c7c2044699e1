package graft

/** Plan-shape guards for the round-11 operators (X107–X122): each
  * assertion pins the property that keeps the query viable at 100 TB.
  */
class PlanSpecR11 extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("skyline: prefix bound and frontier rejoin both broadcast — the fact never sort-merges") {
    val p = plan("q_skyline_parts")
    assert(p.contains("BroadcastHashJoin"), "prune bound must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "skyline must never join the fact quadratically:\n" + p)
  }

  test("winsorize: percentile bounds broadcast back onto the fact") {
    val p = plan("q_quality_winsorize")
    assert(p.contains("BroadcastHashJoin"), "bounds join must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "3-row bounds must not shuffle the fact:\n" + p)
  }

  test("CDC merge: one exchange, one window, zero joins") {
    val p = plan("q_source_cdc_merge")
    assert(!p.contains("Join"), "merge must resolve in the key window, not a join:\n" + p)
    assert(p.contains("Window"), "latest-seq survivor needs the window:\n" + p)
  }

  test("weighted median: value-collapse aggregate is partial (map-side combine) before its exchange") {
    val p = plan("q_agg_weighted_median")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "the (group, value) collapse must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"))
  }

  test("bootstrap: single scan of orders — no join, no explode amplification of the fact") {
    val p = plan("q_diag_bootstrap_ci")
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("orders"))
    assert(scans == 1, s"bootstrap must read orders exactly once, saw $scans:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no fact-side join:\n" + p)
  }

  test("group OLS: one aggregate pass, no window, no join") {
    val p = plan("q_ml_group_ols")
    assert(!p.contains("Join") && !p.contains("Window"),
      "closed-form OLS is one aggregate:\n" + p)
  }

  test("LOCF resample: both windows partition by the key — no global window over the grid") {
    val p = plan("q_events_locf_resample")
    // every Window operator must carry a partition spec (rs_key / user_id)
    val bad = p.linesIterator.filter(_.contains("windowspecdefinition("))
      .filterNot(l => l.contains("rs_key") || l.contains("user_id"))
    assert(bad.isEmpty, "unpartitioned window in LOCF plan:\n" + bad.mkString("\n"))
  }

  test("grid clustering: adjacency stays equi-joined on cell ids") {
    val p = plan("q_geo_grid_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "neighbor adjacency must be an equi-join on emitted cell ids:\n" + p)
  }

  test("KMV sketch: k-smallest per group rides WindowGroupLimit") {
    val p = plan("q_sketch_kmv_distinct")
    assert(p.contains("WindowGroupLimit"),
      "rank ≤ k must push a group limit below the exchange:\n" + p)
  }

  test("attribution: as-of credit is the native AsOfJoin exec, not a range join") {
    val p = plan("q_events_attribution")
    assert(p.contains("AsOfJoin"), "native exec must plan:\n" + p)
    assert(!p.contains("Window") && !p.contains("Union"),
      "as-of must not fall back to a union+window composition:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "lookback credit must not plan a range join:\n" + p)
  }

  test("rolling-origin: fold classification happens on the per-day rollup, not the fact") {
    val p = plan("q_ml_rolling_origin")
    // the events scan feeds an aggregate before any fold explosion:
    // generator (fold sequence) must sit above the first HashAggregate
    val gen = p.linesIterator.indexWhere(_.contains("Generate"))
    val agg = p.linesIterator.toSeq.lastIndexWhere(_.contains("HashAggregate"))
    assert(gen >= 0 && agg > gen,
      "per-day aggregate must run below the fold generator:\n" + p)
  }

  test("seasonal profile: hourly rollup below the moving-average window") {
    val p = plan("q_events_seasonal")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "decomposition is rollup + window + rollup:\n" + p)
  }

  test("multi-touch attribution: bucketed pairing, never a range nested loop") {
    val p = plan("q_events_attribution_linear")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "lookback pairing must ride the 2-probe bucket equi-join:\n" + p)
  }

  test("phrase search: top-k by matches plans TakeOrderedAndProject") {
    val p = plan("q_text_phrase_search")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must not global-sort:\n" + p)
    assert(!p.contains("CartesianProduct"))
  }

  test("KS test: argmax rides TakeOrderedAndProject over the scaled statistic") {
    val p = plan("q_diag_ks_test")
    assert(p.contains("TakeOrderedAndProject"),
      "limit(1) over the dabs order must take, not sort:\n" + p)
  }

  test("mode per user: count-collapse below the group-limit window") {
    val p = plan("q_agg_mode_per_user")
    assert(p.contains("WindowGroupLimit"),
      "top-1 per user must push the group limit:\n" + p)
  }

  test("change point: events collapse to the day rollup before the cumulative window") {
    val p = plan("q_events_changepoint")
    assert(p.contains("TakeOrderedAndProject"), "argmax is a take, not a sort:\n" + p)
  }
}
