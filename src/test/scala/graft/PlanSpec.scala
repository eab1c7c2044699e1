package graft

/** Plan-quality regression guards: the properties that make these
  * queries viable at 100 TB, asserted against the actual physical plan
  * so a refactor that silently degrades the plan (lost pushdown, join
  * downgrade, window without group-limit) fails CI, not production.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("sketch aggregates: HLL and quantile sketches within tolerance at sf0.001") {
    // smallest SF = fewest values per sketch = largest relative error;
    // the oracle hash-gates these booleans at sf0.01, this guards the
    // tolerance at the scale the gate never sees
    val rows = SparkEntry.queries("q_agg_sketches")(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("hll_ok")), s"hll out of tolerance: $r")
      assert(r.getBoolean(r.fieldIndex("median_ok")), s"median out of tolerance: $r")
    }
  }

  test("k-per-stratum sampler rides WindowGroupLimit (map-side k before the exchange)") {
    val p = plan("q_sample_group_topk")
    assert(p.contains("WindowGroupLimit"), "sampler must plan a group limit:\n" + p)
  }

  test("partitioned layout: lang predicate prunes at the directory level") {
    val p = plan("q_source_partitioned_prune")
    val scan = p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scan.contains("lang"),
      "lang IN (...) must land in PartitionFilters (directory pruning), got:\n" + p)
  }

  test("as-of join plans the native AsOfJoin exec — no window, no union, no range join") {
    val p = plan("q_join_asof_click")
    assert(p.contains("AsOfJoin"), "native exec must plan:\n" + p)
    assert(!p.contains("Window") && !p.contains("Union"),
      "as-of must not fall back to a union+window composition:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), "as-of must not plan a range join:\n" + p)
  }

  test("range join plans as an equi-join on the bucket, not a nested loop") {
    val p = plan("q_join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "BETWEEN predicate must ride the bucket equi-join")
  }

  test("revenue rollup: broadcast dims, pruned lineitem scan, no cartesian") {
    val p = plan("q_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(!p.contains("SortMergeJoin"), "no sort-merge at dim sizes")
    // lineitem scan must prune to the 3 needed columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      "lineitem scan not pruned:\n" + p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("top-k per group plans a WindowGroupLimit below the shuffle") {
    val p = plan("q_window_rank_topk_orders")
    assert(p.contains("WindowGroupLimit"), "rank<=k filter should push a group limit")
  }

  test("global top-n with LIMIT plans TakeOrderedAndProject") {
    val p = plan("q_limit_top_orders")
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit should not global-sort")
  }

  test("anti-join stays a real anti-join (no outer+filter emulation)") {
    val p = plan("q_join_anti_no_big_order")
    assert(p.contains("LeftAnti"), "should plan LeftAnti")
  }

  test("brute-force ANN broadcasts the query side only") {
    val p = plan("q_ann_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side should broadcast")
    assert(!p.contains("CartesianProduct"), "corpus must stream, not cartesian-shuffle")
  }

  test("stored IVF index probe prunes unprobed partitions dynamically") {
    val p = plan("q_ann_ivf_stored")
    // the index scan must carry a dynamic-pruning subquery on cent_id:
    // only the probed centroid partitions of the stored index are read
    assert(p.toLowerCase.contains("dynamicpruning"),
      "probe join must dynamically prune index partitions:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("PQ encode and ADC probe ride broadcast joins — corpus never sort-merges") {
    val p = plan("q_ann_pq_adc")
    assert(!p.contains("SortMergeJoin"),
      "codebooks and distance tables are broadcast-sized by construction:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "expected broadcast probes:\n" + p)
  }

  test("two-stage ANN re-rank probes the corpus with broadcast joins only") {
    val p = plan("q_ann_two_stage")
    // the float-vector corpus must never ride a shuffle: the shortlist
    // and query sides are broadcast, so any sort-merge join means a size
    // misestimate un-did the explicit broadcast hints
    assert(!p.contains("SortMergeJoin"),
      "re-rank must broadcast the shortlist, not shuffle the corpus:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "expected broadcast probe:\n" + p)
  }

  test("bigram LM scoring broadcasts its scalars; no cartesian against the corpus") {
    val p = plan("q_text_lm_score")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "vocab-size scalar must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), "no cartesian:\n" + p)
  }

  test("cosine pair join hash-joins shared terms; df cap broadcast-anti-joins") {
    // r13 bench drift bisect (5.18 → 6.80 s with no code change): the
    // strategy did NOT flip — isolated runs hold ~3.5 s warm with this
    // exact shape; the drift is in-suite allocation/GC contention from
    // the adjacent text queries. This pin fails loudly if the join
    // strategy ever actually flips (SMJ would sort ~3M exploded shingle
    // strings per side).
    val p = plan("q_text_cosine_pairs")
    assert(p.contains("ShuffledHashJoin"), "pair join must hash-join:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge anywhere in the pair pipeline (shingle strings must never sort):\n" + p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "df cap must be a broadcast anti-join:\n" + p)
  }

  test("negative sampler: top-k per query rides WindowGroupLimit") {
    val p = plan("q_sample_negatives")
    assert(p.contains("WindowGroupLimit"), "per-query k must group-limit:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge:\n" + p)
  }

  test("BPE merge count plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_text_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"), "top-k must take-ordered:\n" + p)
  }

  test("embedding drift: corpus centroid broadcasts; one corpus-sized shuffle only") {
    val p = plan("q_embed_centroid_drift")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "corpus centroid must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no corpus-sized sort-merge:\n" + p)
  }

  test("shingle pair generation hash-joins (no sort of exploded shingle strings)") {
    val p = plan("q_dedup_jaccard_pairs")
    assert(p.contains("ShuffledHashJoin"), "self-join should honor the shuffle_hash hint")
    assert(!p.contains("CartesianProduct"), "candidates come from the shingle equi-join")
  }

  test("IDW computes its candidate cross join once (single aggregation pass)") {
    val p = plan("q_geo_idw_acctbal")
    // one cross join node: the station count folds into the same
    // aggregation as the weighted sums (a second consumer would re-run
    // the 15M-pair join + haversine)
    val crossJoins = p.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(crossJoins == 1, s"expected 1 cross-join node, saw $crossJoins:\n" +
      p.linesIterator.filter(l => l.contains("Join")).mkString("\n"))
  }

  test("bucketed-by-key tables join with zero exchange") {
    import graft.sources.Bucketing
    val s = spark
    val orders = Tables.load(s, TestSpark.sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
    val li = Tables.load(s, TestSpark.sf0001, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("o_orderkey"),
        org.apache.spark.sql.functions.col("l_quantity"))
    Seq("b_orders", "b_lineitem").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        System.getProperty("java.io.tmpdir") + s"/graft-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Bucketing.writeBucketed(orders, "b_orders", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(li, "b_lineitem", 4, Seq("o_orderkey"))
    // at sf0.001 broadcast would win (and ignore buckets) — disable it to
    // exercise the fact-to-fact shape bucketing exists for
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(s, "b_orders", "b_lineitem", Seq("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), "scan should use buckets:\n" + p)
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p)
      assert(joined.count() > 0)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("events ts loads through Tables as TimestampType whatever the fixture wrote") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(ev.count() > 0)
    val y = ev.select(org.apache.spark.sql.functions.year(
      org.apache.spark.sql.functions.col("ts"))).distinct().collect().map(_.getInt(0))
    assert(y.forall(v => v > 1990 && v < 2100), s"years ${y.toSeq}") // sane epoch, not ns-as-s corruption
  }

  test("events ts nanos-as-long fixture truncates to exact microseconds") {
    // The generator has shipped events.ts as both TIMESTAMP(NANOS)
    // (reads as long under nanosAsLong) and TIMESTAMP(MICROS); the live
    // fixture only exercises one branch at a time, so pin the long
    // branch with a self-written fixture (nanosAsLong turns NANOS into
    // plain LongType before the loader ever sees it, so a long column
    // is the identical code path).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos_fix_")
    try {
      val nanos = 1609459200_123456789L // 2021-01-01T00:00:00.123456789
      Seq((1L, 7L, "view", nanos)).toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
      val ev = Tables.load(spark, dir.toString, "events")
      assert(ev.schema("ts").dataType.typeName == "timestamp")
      val us = ev.select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts"))).head().getLong(0)
      assert(us == 1609459200_123456L, s"expected exact ns div 1000, got $us")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("date grid generates without any exchange (pure generators)") {
    val df = graft.sources.DateGrid.dateHourGrid(spark, Seq(1996))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "grid generation must not shuffle:\n" + p)
  }

  test("bloom probe broadcasts the constant-size word table, never the fact side") {
    val p = plan("q_join_bloom_prune")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "bloom words must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "probe side must not sort-merge against the words:\n" + p)
  }

  test("trending top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_events_trending")
    assert(p.contains("TakeOrderedAndProject"), "trending must take-ordered:\n" + p)
  }

  test("collocation top-k plans TakeOrderedAndProject; scalars broadcast") {
    // the public topPmi checkpoints its result (so the query's own plan
    // is an RDD scan) — assert the shape on the unmaterialized frame
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val (frame, bg, uni) = graft.operators.Collocations.topPmiFrame(docs)
    try {
      val p = frame.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), "PMI top-k must take-ordered:\n" + p)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
        "n_uni/n_bi scalars must broadcast:\n" + p)
    } finally { bg.unpersist(); uni.unpersist() }
  }

  test("event n-gram top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_events_ngrams")
    assert(p.contains("TakeOrderedAndProject"), "ngram top-k must take-ordered:\n" + p)
  }

  test("label agreement broadcasts the query side; per-point top-k rides WindowGroupLimit") {
    val p = plan("q_ml_label_agreement_brute")
    assert(p.contains("BroadcastExchange"), "query side must broadcast:\n" + p)
    assert(p.contains("WindowGroupLimit"), "kNN cut must group-limit:\n" + p)
  }

  test("dup-ngram wash never goes quadratic: no cartesian, no nested-loop join") {
    val p = plan("q_text_dupgrams")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "gram wash must stay join-keyed:\n" + p)
  }

  test("k-core peel keeps every round equi-joined: no cartesian anywhere") {
    val p = plan("q_graph_kcore")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "peel must stay equi-joined:\n" + p)
  }

  test("incremental view merge is one full-outer join, no re-aggregation of history") {
    val p = plan("q_agg_incremental_view")
    assert(p.contains("FullOuter") || p.contains("full_outer") || p.contains("FullOuterJoin")
      || p.toLowerCase.contains("fullouter"), "merge must full-outer join:\n" + p)
  }

  test("manifest scan reads strictly fewer files than the full layout") {
    import graft.sources.ManifestScan
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmpBase = System.getProperty("java.io.tmpdir")

    // by-VALUE layout (range-clustered on the predicate column): a
    // selective range must skip most files
    val byValue = s"$tmpBase/graft_mscan_plan_value"
    docs.repartitionByRange(8, col("n_chars")).write.mode("overwrite").parquet(byValue)
    ManifestScan.buildManifest(spark, byValue, Seq("n_chars"))
    val (keptV, totalV) = ManifestScan.prunedFiles(spark, byValue, "n_chars", 200, 260)
    assert(totalV >= 8, s"staging must produce >= 8 files, got $totalV")
    assert(keptV.nonEmpty && keptV.length < totalV,
      s"range-clustered layout must skip files: kept ${keptV.length} of $totalV")
    // the scan itself must open exactly the kept files, nothing more
    val scanned = ManifestScan.readRange(spark, byValue, "n_chars", 200, 260)
    assert(scanned.inputFiles.toSet == keptV.toSet,
      "the pruned scan must read exactly the manifest-selected files")

    // by-KEY layout (clustered on doc_id — uncorrelated with n_chars):
    // every file overlaps the range, the meter's "re-cluster me" signal
    val byKey = s"$tmpBase/graft_mscan_plan_key"
    docs.repartitionByRange(8, col("doc_id")).write.mode("overwrite").parquet(byKey)
    ManifestScan.buildManifest(spark, byKey, Seq("n_chars"))
    val (keptK, totalK) = ManifestScan.prunedFiles(spark, byKey, "n_chars", 200, 260)
    assert(keptK.length == totalK,
      s"uncorrelated layout skips nothing: kept ${keptK.length} of $totalK")

    // correctness floor: pruned scan ≡ full-scan filter, both layouts
    val expect = docs.filter(col("n_chars").between(200, 260))
      .collect().map(_.mkString("|")).sorted.toSeq
    Seq(byValue, byKey).foreach { p =>
      val got = ManifestScan.readRange(spark, p, "n_chars", 200, 260)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(got == expect, s"manifest scan over $p must equal the full-scan filter")
    }

    // empty selection: a range outside every file's stats yields zero
    // rows with the data schema intact and no file reads
    val none = ManifestScan.readRange(spark, byValue, "n_chars", 100000, 200000)
    assert(none.count() == 0 && none.columns.toSeq == Seq("doc_id", "n_chars"))
  }

  test("budget selection sorts three narrow columns only (no payload in the sort)") {
    val df = SparkEntry.queries("q_sample_budget")(spark, TestSpark.sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the scan-side Project must compute the signals and DROP text
    // before the exchange: no Sort/Exchange line may reference it
    val heavy = p.linesIterator.filter(l =>
      l.contains("Sort [") || l.contains("Exchange")).mkString("\n")
    assert(heavy.nonEmpty && !heavy.contains("text#"),
      "the document payload must be pruned before the sort:\n" + p)
  }
}
