package graft.queries

import graft.Tables
import graft.operators.{Bootstrap, CdcMerge, ChangePoint, CohortLtv, Concentration, EmbeddingProfile, GridCluster, GroupRegression, KmvAggregator, KmvSketch, KsTest, MultiTouchAttribution, MutualInfo, NoveltyRate, PhraseSearch, Resample, RollingOrigin, Seasonal, SimilaritySearch, Skyline, Survival, TopK, WaterFill, WeightedMedian, Winsorizer}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 analytics extensions (SURVEY §2.12a X107–X114): frontier /
  * concentration / segmentation reporting, CDC state maintenance,
  * attribution, and time-series regularization — each one an operator
  * in graft.operators with a DuckDB oracle restating the semantics
  * (usually in its naive quadratic/recursive form, while the Spark
  * side runs the scale-shaped plan).
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  val queries: Seq[Q] = Seq(

    // X107 2-D skyline: the price/size Pareto frontier of the parts
    // catalog. The oracle states dominance as the quadratic NOT EXISTS;
    // the operator resolves it with a bucketed prefix-max prune + a
    // frontier-sized exact sweep (see operators/Skyline.scala).
    Q("q_skyline_parts",
      """WITH pts AS (SELECT p_partkey, p_retailprice AS x, p_size AS y FROM part)
        |SELECT p.p_partkey, round(p.x, 2) AS price, cast(p.y AS int) AS size
        |FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |                  WHERE q.x <= p.x AND q.y >= p.y
        |                    AND (q.x < p.x OR q.y > p.y))
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Skyline.frontier2d(t(s, dir, "part"),
          idCol = "p_partkey", xCol = "p_retailprice", yCol = "p_size",
          bucketWidth = 50.0)
        .select(col("sk_id").as("p_partkey"), round(col("sk_x"), 2).as("price"),
          col("sk_y").cast("int").as("size"))
        .orderBy(col("p_partkey"))
    },

    // X108 per-group winsorization: clip the price tails to the exact
    // [p05, p95] group percentiles; report clip counts and before/after
    // integer-cent sums (summation-order-independent).
    Q("q_quality_winsorize",
      """WITH b AS (SELECT l_returnflag,
        |                  round(quantile_cont(l_extendedprice, 0.05), 2) AS lo,
        |                  round(quantile_cont(l_extendedprice, 0.95), 2) AS hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, cast(count(*) AS bigint) AS n,
        |       cast(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS bigint) AS n_lo,
        |       cast(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS bigint) AS n_hi,
        |       cast(sum(cast(round(l_extendedprice * 100) AS bigint)) AS bigint) AS raw_cents,
        |       cast(sum(cast(round(least(greatest(l_extendedprice, lo), hi) * 100) AS bigint))
        |            AS bigint) AS wins_cents,
        |       min(lo) AS lo, min(hi) AS hi
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Winsorizer.winsorize(
          t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
          groupCol = "l_returnflag", valueCol = "l_extendedprice")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") < col("w_lo")).cast("long")).as("n_lo"),
          sum((col("l_extendedprice") > col("w_hi")).cast("long")).as("n_hi"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("raw_cents"),
          sum(round(col("l_extendedprice_w") * 100).cast("long")).as("wins_cents"),
          min(col("w_lo")).as("lo"), min(col("w_hi")).as("hi"))
        .orderBy(col("l_returnflag"))
    },

    // X109 RFM segmentation: recency/frequency/monetary quintiles per
    // customer, rolled up to segment counts. The quintile windows run
    // on the PER-CUSTOMER aggregate (orders-of-magnitude below the
    // fact); population quantiles that must scale past that swap in
    // QuantileBinning's boundary broadcast — same downstream shape.
    Q("q_agg_rfm",
      """WITH per AS (
        |  SELECT o_custkey,
        |         date_diff('day', max(cast(o_orderdate AS date)),
        |                   (SELECT max(cast(o_orderdate AS date)) FROM orders)) AS r,
        |         count(*) AS f,
        |         sum(cast(round(o_totalprice * 100) AS bigint)) AS m_cents
        |  FROM orders GROUP BY 1),
        |q AS (SELECT o_custkey, m_cents,
        |        ntile(5) OVER (ORDER BY r, o_custkey) AS r_q,
        |        ntile(5) OVER (ORDER BY f DESC, o_custkey) AS f_q,
        |        ntile(5) OVER (ORDER BY m_cents DESC, o_custkey) AS m_q
        |      FROM per)
        |SELECT cast(r_q AS int) AS r_q, cast(f_q AS int) AS f_q, cast(m_q AS int) AS m_q,
        |       cast(count(*) AS bigint) AS n_cust,
        |       cast(sum(m_cents) AS bigint) AS seg_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("lastd"),
          count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m_cents"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"), datediff(col("mxd"), col("lastd")).as("r"),
          col("f"), col("m_cents"))
      per.select(col("o_custkey"), col("m_cents"),
          ntile(5).over(Window.orderBy(col("r"), col("o_custkey"))).as("r_q"),
          ntile(5).over(Window.orderBy(col("f").desc, col("o_custkey"))).as("f_q"),
          ntile(5).over(Window.orderBy(col("m_cents").desc, col("o_custkey"))).as("m_q"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_cust"), sum(col("m_cents")).as("seg_cents"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },

    // X110 revenue concentration: Lorenz deciles + exact Gini over
    // per-customer revenue. Rank/sum products accumulate as
    // DECIMAL(38,0) (exact in any order; rank×cents exceeds long at
    // population scale) and cast to double only at the final ratio.
    Q("q_diag_gini",
      """WITH per AS (SELECT o_custkey AS id,
        |                    sum(cast(round(o_totalprice * 100) AS bigint)) AS units
        |             FROM orders GROUP BY 1),
        |r AS (SELECT id, units,
        |        row_number() OVER (ORDER BY units, id) AS i,
        |        ntile(10) OVER (ORDER BY units, id) AS b
        |      FROM per),
        |g AS (SELECT round(2.0 * cast(sum(i * units) AS double)
        |               / (count(*) * cast(sum(units) AS double))
        |               - (count(*) + 1.0) / count(*), 6) AS gini,
        |             cast(sum(units) AS double) AS s_x
        |      FROM r)
        |SELECT cast(b AS int) AS bucket, cast(count(*) AS bigint) AS n,
        |       cast(sum(units) AS bigint) AS bucket_units,
        |       cast(sum(sum(units)) OVER (ORDER BY b
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
        |         AS cum_units,
        |       round(cast(sum(sum(units)) OVER (ORDER BY b
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double)
        |             / (SELECT s_x FROM g), 6) AS cum_share,
        |       (SELECT gini FROM g) AS gini
        |FROM r GROUP BY b ORDER BY bucket""".stripMargin) { (s, dir) =>
      val per = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Concentration.lorenzGini(per, idCol = "o_custkey", unitsCol = "cents",
          nBuckets = 10)
        .orderBy(col("bucket"))
    },

    // X111 CDC merge: orders replayed as an upsert/delete changelog
    // (every-97th order is a tombstone) onto the customer balance
    // snapshot; latest sequence wins in ONE key-partitioned window —
    // the merge-on-read compaction shape.
    Q("q_source_cdc_merge",
      """WITH ch AS (SELECT o_custkey AS k, o_orderkey AS seq,
        |                   CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
        |                   cast(round(o_totalprice * 100) AS bigint) AS bal_cents
        |            FROM orders),
        |u AS (SELECT c_custkey AS k, cast(-9223372036854775807 - 1 AS bigint) AS seq,
        |             'U' AS op, cast(round(c_acctbal * 100) AS bigint) AS bal_cents
        |      FROM customer
        |      UNION ALL SELECT k, seq, op, bal_cents FROM ch),
        |r AS (SELECT k, op, bal_cents,
        |             row_number() OVER (PARTITION BY k ORDER BY seq DESC, op ASC) AS rn
        |      FROM u)
        |SELECT k AS c_custkey, bal_cents FROM r
        |WHERE rn = 1 AND op <> 'D' ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val changes = t(s, dir, "orders")
        .select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 97 === 0, "D").otherwise("U").as("op"),
          round(col("o_totalprice") * 100).cast("long").as("bal_cents"))
      CdcMerge.applyChanges(base, changes, key = "k", seqCol = "seq", opCol = "op")
        .select(col("k").as("c_custkey"), col("bal_cents"))
        .orderBy(col("c_custkey"))
    },

    // X112 last-touch attribution: each purchase credits the latest
    // click by the same user within a 7-day lookback (the native as-of
    // operator — no range join), rolled up
    // per purchase day with exact integer value/latency sums.
    Q("q_events_attribution",
      """WITH p AS (SELECT event_id, user_id, ts,
        |                  cast(round(value * 1000000) AS bigint) AS val_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.ts, p.val_us, c.ts AS cts,
        |             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts),
        |f AS (SELECT cast(ts AS date) AS day, val_us, gap_us,
        |             (cts IS NOT NULL AND gap_us <= 604800000000) AS attr
        |      FROM j)
        |SELECT day, cast(count(*) AS bigint) AS n_purchases,
        |       cast(sum(CASE WHEN attr THEN 1 ELSE 0 END) AS bigint) AS n_attributed,
        |       cast(sum(CASE WHEN attr THEN val_us ELSE 0 END) AS bigint) AS attr_value_us,
        |       cast(sum(CASE WHEN attr THEN gap_us ELSE 0 END) AS bigint) AS latency_us_sum
        |FROM f GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
          round(col("value") * 1000000).cast("long").as("val_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts", payloadCols = Seq("click_id", "click_ts"))
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("click_ts")))
        .withColumn("attr",
          col("click_ts").isNotNull && col("gap_us") <= 7L * 86400L * 1000000L)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("attr").cast("long")).as("n_attributed"),
          sum(when(col("attr"), col("val_us")).otherwise(0L)).as("attr_value_us"),
          sum(when(col("attr"), col("gap_us")).otherwise(0L)).as("latency_us_sum"))
        .orderBy(col("day"))
    },

    // X113 LOCF time-grid resample: a regular hourly series per sampled
    // user (span = first..last event hour), forward-filled from the
    // latest earlier observation — sequence-explode grid + two
    // key-partitioned windows, nothing global.
    Q("q_events_locf_resample",
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id, value
        |           FROM events WHERE user_id % 25 = 0),
        |lastv AS (SELECT user_id, hr, value FROM (
        |    SELECT user_id, hr, value,
        |           row_number() OVER (PARTITION BY user_id, hr
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |span AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM e GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
        |         FROM span),
        |f AS (SELECT g.user_id, g.hr,
        |             last_value(lv.value IGNORE NULLS) OVER (
        |               PARTITION BY g.user_id ORDER BY g.hr
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |      FROM grid g LEFT JOIN lastv lv
        |        ON g.user_id = lv.user_id AND g.hr = lv.hr)
        |SELECT user_id, cast(epoch_us(hr) AS bigint) AS hr_us, value
        |FROM f ORDER BY user_id, hr_us""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").filter(col("user_id") % 25 === 0)
      Resample.locfHourly(ev, keyCol = "user_id", tsCol = "ts",
          valueCol = "value", tieCol = "event_id")
        .select(col("user_id"), unix_micros(col("hr")).as("hr_us"), col("value"))
        .orderBy(col("user_id"), col("hr_us"))
    },

    // X114 grid-density clustering: points snap to 0.1° cells, cells
    // under 25 points drop, 8-adjacent dense cells merge through the
    // shared connected-components loop. The oracle replays adjacency as
    // a quadratic join + recursive transitive closure on the (tiny)
    // dense-cell frame; the Spark side never leaves equi-joins.
    Q("q_geo_grid_clusters",
      """WITH RECURSIVE pts AS (
        |  SELECT 45.0 + (p_partkey % 4) * 0.5 + ((p_partkey * 31) % 100) / 400.0 AS px,
        |         -74.0 + (p_partkey % 4) * 0.5 + ((p_partkey * 17) % 100) / 400.0 AS py
        |  FROM part),
        |dense AS (
        |  SELECT cast(floor(px / 0.1) AS bigint) AS cx,
        |         cast(floor(py / 0.1) AS bigint) AS cy, count(*) AS n_points
        |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 25),
        |cells AS (SELECT cx * 1000000 + cy AS cell, cx, cy, n_points FROM dense),
        |edges AS (SELECT a.cell AS src, b.cell AS dst
        |          FROM cells a JOIN cells b
        |            ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
        |reach(src, dst) AS (
        |  SELECT cell, cell FROM cells
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        |lab AS (SELECT src AS cell, min(dst) AS cluster_id FROM reach GROUP BY 1)
        |SELECT c.cx, c.cy, cast(c.n_points AS bigint) AS n_points,
        |       cast(l.cluster_id AS bigint) AS cluster_id
        |FROM cells c JOIN lab l USING (cell)
        |ORDER BY c.cx, c.cy""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "part").select(
        (lit(45.0) + (col("p_partkey") % 4) * 0.5 +
          ((col("p_partkey") * 31) % 100) / 400.0).as("px"),
        (lit(-74.0) + (col("p_partkey") % 4) * 0.5 +
          ((col("p_partkey") * 17) % 100) / 400.0).as("py"))
      GridCluster.clusters(pts, xCol = "px", yCol = "py",
          cellSize = 0.1, minPts = 25L)
        .orderBy(col("cx"), col("cy"))
    },

    // X115 KMV distinct-count sketch: per event type, estimate distinct
    // users from the 64 smallest Knuth-multiplicative hashes (rank
    // window → WindowGroupLimit: per-partition top-k before the
    // shuffle) next to the exact count and its relative error. Groups
    // below k report exactly (the sketch is lossless there).
    Q("q_sketch_kmv_distinct",
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |                  (user_id * 2654435761) % 4294967296 AS h
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |kk AS (SELECT grp, max(h) AS hk, count(*) AS m
        |       FROM r WHERE rn <= 64 GROUP BY 1),
        |ex AS (SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact
        |       FROM events GROUP BY 1),
        |j AS (SELECT grp, cast(n_exact AS bigint) AS n_exact,
        |             CASE WHEN m < 64 THEN cast(m AS double)
        |                  ELSE 63 * 4294967296.0 / hk END AS est_raw
        |      FROM kk JOIN ex USING (grp))
        |SELECT grp AS event_type, n_exact, round(est_raw, 2) AS est,
        |       round(abs(est_raw - n_exact) / n_exact, 4) AS rel_err
        |FROM j ORDER BY event_type""".stripMargin) { (s, dir) =>
      KmvSketch.distinctEstimate(t(s, dir, "events"),
          groupCol = "event_type", keyCol = "user_id", k = 64)
        .withColumnRenamed("grp", "event_type")
        .orderBy(col("event_type"))
    },

    // X213 KMV set algebra: union/Jaccard/intersection estimates for
    // every PAIR of event-type segments from the per-segment KMV
    // sketches alone (merge two sketches, re-take k smallest; the
    // fraction of the union sketch present in BOTH inputs estimates
    // Jaccard) — overlap questions across N segments from N·k longs,
    // never a pairwise distinct-join of the corpus. The hash is the
    // same replayable Knuth arithmetic as X115, so DuckDB re-derives
    // every sketch, every merged rank, and every estimate bit-for-bit.
    Q("q_sketch_kmv_setops",
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |                  (user_id * 2654435761) % 4294967296 AS h
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |s AS (SELECT grp, h FROM r WHERE rn <= 64),
        |g AS (SELECT DISTINCT grp FROM s),
        |p AS (SELECT a.grp AS ga, b.grp AS gb FROM g a, g b WHERE a.grp < b.grp),
        |m AS (SELECT ga, gb, h, max(ina) AS ina, max(inb) AS inb FROM (
        |        SELECT p.ga, p.gb, s.h, 1 AS ina, 0 AS inb
        |        FROM p JOIN s ON s.grp = p.ga
        |        UNION ALL
        |        SELECT p.ga, p.gb, s.h, 0 AS ina, 1 AS inb
        |        FROM p JOIN s ON s.grp = p.gb) u
        |      GROUP BY 1, 2, 3),
        |mr AS (SELECT ga, gb, h, ina, inb,
        |              row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        |       FROM m),
        |agg AS (SELECT ga, gb, count(*) AS m_union, max(h) AS hk_union,
        |               sum(ina * inb) AS inter_k
        |        FROM mr WHERE rn <= 64 GROUP BY 1, 2),
        |est AS (SELECT ga, gb, m_union, hk_union, inter_k,
        |               CASE WHEN m_union < 64 THEN cast(m_union AS double)
        |                    ELSE 63 * 4294967296.0 / hk_union END AS eu,
        |               cast(inter_k AS double) / m_union AS jr
        |        FROM agg)
        |SELECT ga, gb, cast(m_union AS bigint) AS m_union,
        |       cast(hk_union AS bigint) AS hk_union,
        |       cast(inter_k AS bigint) AS inter_k,
        |       round(eu, 2) AS est_union, round(jr, 6) AS est_jaccard,
        |       round(jr * eu, 2) AS est_intersect
        |FROM est ORDER BY ga, gb""".stripMargin) { (s, dir) =>
      KmvSketch.setOpsPairwise(t(s, dir, "events"),
          groupCol = "event_type", keyCol = "user_id", k = 64)
        .orderBy(col("ga"), col("gb"))
    },

    // X220 DIRECTIONAL containment from sketches: what fraction of
    // segment A's users also appear in B (and vice versa) — the
    // asymmetric overlap question (funnel leakage, cross-surface
    // audience containment) Jaccard alone cannot answer, estimated
    // entirely from the X213 pair sketches joined to the X115
    // per-segment estimates: cont(A⊆B) = est|A∩B| / est|A|, clamped to
    // 1 (estimators can overshoot). Still N·k longs total — never a
    // pairwise distinct-join of the corpus.
    Q("q_sketch_kmv_containment",
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |                  (user_id * 2654435761) % 4294967296 AS h
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |s AS (SELECT grp, h FROM r WHERE rn <= 64),
        |kk AS (SELECT grp, max(h) AS hk, count(*) AS m FROM s GROUP BY 1),
        |eg AS (SELECT grp, round(CASE WHEN m < 64 THEN cast(m AS double)
        |                              ELSE 63 * 4294967296.0 / hk END, 2) AS est
        |       FROM kk),
        |g AS (SELECT DISTINCT grp FROM s),
        |p AS (SELECT a.grp AS ga, b.grp AS gb FROM g a, g b WHERE a.grp < b.grp),
        |m2 AS (SELECT ga, gb, h, max(ina) AS ina, max(inb) AS inb FROM (
        |         SELECT p.ga, p.gb, s.h, 1 AS ina, 0 AS inb
        |         FROM p JOIN s ON s.grp = p.ga
        |         UNION ALL
        |         SELECT p.ga, p.gb, s.h, 0 AS ina, 1 AS inb
        |         FROM p JOIN s ON s.grp = p.gb) u
        |       GROUP BY 1, 2, 3),
        |mr AS (SELECT ga, gb, h, ina, inb,
        |              row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        |       FROM m2),
        |agg AS (SELECT ga, gb, count(*) AS m_union, max(h) AS hk_union,
        |               sum(ina * inb) AS inter_k
        |        FROM mr WHERE rn <= 64 GROUP BY 1, 2),
        |sel AS (SELECT ga, gb,
        |               round((cast(inter_k AS double) / m_union) *
        |                     (CASE WHEN m_union < 64 THEN cast(m_union AS double)
        |                           ELSE 63 * 4294967296.0 / hk_union END), 2) AS ei
        |        FROM agg)
        |SELECT ga, gb, ea.est AS est_a, eb.est AS est_b,
        |       round(least(1.0, ei / ea.est), 6) AS cont_a,
        |       round(least(1.0, ei / eb.est), 6) AS cont_b
        |FROM sel JOIN eg ea ON ea.grp = sel.ga
        |         JOIN eg eb ON eb.grp = sel.gb
        |ORDER BY ga, gb""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val pairs = KmvSketch.setOpsPairwise(ev, "event_type", "user_id", k = 64)
      val ests = KmvSketch.distinctEstimate(ev, "event_type", "user_id", k = 64)
        .select(col("grp"), col("est"))
      pairs
        .join(ests.select(col("grp").as("ga"), col("est").as("est_a")), Seq("ga"))
        .join(ests.select(col("grp").as("gb"), col("est").as("est_b")), Seq("gb"))
        .select(col("ga"), col("gb"), col("est_a"), col("est_b"),
          round(least(lit(1.0), col("est_intersect") / col("est_a")), 6).as("cont_a"),
          round(least(lit(1.0), col("est_intersect") / col("est_b")), 6).as("cont_b"))
        .orderBy(col("ga"), col("gb"))
    },

    // X191 bottom-k-by-hash quantile summary: deciles of
    // l_extendedprice read off a 1024-row uniform sample selected by
    // the k SMALLEST md5 ranks — a mergeable, partition-independent,
    // hash-replayable quantile sketch (union two nodes' bottom-k sets,
    // re-keep k), unlike GK/KLL whose compaction state depends on
    // arrival order and can never be replayed by an external engine.
    // Selection plans as TakeOrderedAndProject (no global sort); the
    // accuracy bound |F(est_p) − p| = O(1/√k) is property-tested in
    // HashSampleSketchSpec against the exact ECDF.
    Q("q_sketch_bottomk_quantiles",
      """WITH ranked AS (
        |  SELECT l_extendedprice AS v,
        |         ('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 15))::BIGINT AS rk
        |  FROM lineitem),
        |samp AS (SELECT rk, v FROM ranked ORDER BY rk, v LIMIT 1024),
        |sorted AS (SELECT v, rk, row_number() OVER (ORDER BY v, rk) AS rn,
        |                  count(*) OVER () AS n
        |           FROM samp),
        |ps AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS p)
        |SELECT p, v AS est, cast(n AS bigint) AS n_sample
        |FROM sorted JOIN ps ON rn = 1 + floor(p * (n - 1))
        |ORDER BY p""".stripMargin) { (s, dir) =>
      graft.operators.HashSampleSketch.quantiles(
        t(s, dir, "lineitem"),
        key = concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        value = col("l_extendedprice"), k = 1024,
        probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    },

    // X192 the grouped variant of X191: per-returnflag quartiles from
    // independent per-group bottom-k samples — selection rides a
    // WindowGroupLimit (per-partition k before the shuffle) instead of
    // a global TakeOrdered, so adding groups never serializes through
    // the driver. Groups below k are exact (lossless sample).
    Q("q_sketch_bottomk_grouped",
      """WITH ranked AS (
        |  SELECT l_returnflag AS grp, l_extendedprice AS v,
        |         ('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 15))::BIGINT AS rk
        |  FROM lineitem),
        |samp AS (SELECT grp, rk, v FROM (
        |  SELECT grp, rk, v,
        |         row_number() OVER (PARTITION BY grp ORDER BY rk, v) AS sel
        |  FROM ranked) WHERE sel <= 512),
        |sorted AS (SELECT grp, v, rk,
        |                  row_number() OVER (PARTITION BY grp ORDER BY v, rk) AS rn,
        |                  count(*) OVER (PARTITION BY grp) AS n
        |           FROM samp),
        |ps AS (SELECT unnest([0.25, 0.5, 0.75]) AS p)
        |SELECT grp AS "group", p, v AS est, cast(n AS bigint) AS n_sample
        |FROM sorted JOIN ps ON rn = 1 + floor(p * (n - 1))
        |ORDER BY "group", p""".stripMargin) { (s, dir) =>
      graft.operators.HashSampleSketch.quantilesByGroup(
        t(s, dir, "lineitem"),
        group = col("l_returnflag"),
        key = concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        value = col("l_extendedprice"), k = 512,
        probs = Seq(0.25, 0.5, 0.75))
    },

    // X116 per-group weighted median: quantity-weighted median line
    // price — value/weight collapse first (frame bounded by value
    // cardinality), integer cum·2 ≥ total crossing, no interpolation.
    Q("q_agg_weighted_median",
      """WITH vw AS (SELECT l_returnflag,
        |                   cast(round(l_extendedprice * 100) AS bigint) AS v,
        |                   sum(cast(l_quantity AS bigint)) AS w
        |            FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, w,
        |             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |      FROM vw)
        |SELECT l_returnflag, cast(min(v) AS bigint) AS wmedian_cents,
        |       cast(min(tot) AS bigint) AS total_weight
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      WeightedMedian.weightedMedian(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            col("l_quantity").cast("long").as("qty")),
          groupCol = "l_returnflag", valueCol = "cents", weightCol = "qty")
        .select(col("grp").as("l_returnflag"), col("wmedian").as("wmedian_cents"),
          col("total_weight"))
        .orderBy(col("l_returnflag"))
    },

    // X118 deterministic bootstrap CI: 32 half-sample replicates of the
    // mean order value, each defined by an arithmetic (key, b) hash the
    // oracle restates — all replicates ride ONE scan as conditional
    // aggregates (no 32× amplification), CI = [2nd, 31st] replicate
    // order statistics.
    Q("q_diag_bootstrap_ci",
      """WITH bb AS (SELECT unnest(generate_series(0, 31)) AS b),
        |r AS (SELECT bb.b,
        |        sum(CASE WHEN (o_orderkey * 2654435761 + bb.b * 1013904223)
        |                      % 4294967296 < 2147483648
        |                 THEN cast(round(o_totalprice * 100) AS bigint) ELSE 0 END) AS s,
        |        sum(CASE WHEN (o_orderkey * 2654435761 + bb.b * 1013904223)
        |                      % 4294967296 < 2147483648
        |                 THEN 1 ELSE 0 END) AS n
        |      FROM orders CROSS JOIN bb GROUP BY 1),
        |m AS (SELECT b, cast(s AS double) / n AS mean_b,
        |             row_number() OVER (ORDER BY cast(s AS double) / n, b) AS rn
        |      FROM r),
        |fl AS (SELECT sum(cast(round(o_totalprice * 100) AS bigint)) AS s_full,
        |              count(*) AS n_full
        |       FROM orders)
        |SELECT cast(32 AS bigint) AS n_replicates,
        |       round(cast(s_full AS double) / n_full, 2) AS mean_cents,
        |       round((SELECT mean_b FROM m WHERE rn = 2), 2) AS ci_lo_cents,
        |       round((SELECT mean_b FROM m WHERE rn = 31), 2) AS ci_hi_cents
        |FROM fl""".stripMargin) { (s, dir) =>
      Bootstrap.halfSampleCi(
        t(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        keyCol = "o_orderkey", centsCol = "cents", b = 32)
    },

    // X119 per-group OLS (price = a + b·quantity per return flag):
    // closed-form slope/intercept/R² from five DECIMAL(38,0) co-moment
    // sums in one aggregate pass — exact until the stated double casts,
    // which the oracle mirrors cast-for-cast.
    Q("q_ml_group_ols",
      """WITH m AS (SELECT l_returnflag,
        |             count(*) AS n,
        |             sum(cast(l_quantity AS bigint)) AS sx,
        |             sum(cast(round(l_extendedprice * 100) AS bigint)) AS sy,
        |             sum(cast(l_quantity AS bigint) * cast(l_quantity AS bigint)) AS sxx,
        |             sum(cast(round(l_extendedprice * 100) AS bigint)
        |                 * cast(round(l_extendedprice * 100) AS bigint)) AS syy,
        |             sum(cast(l_quantity AS bigint)
        |                 * cast(round(l_extendedprice * 100) AS bigint)) AS sxy
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, cast(n AS bigint) AS n,
        |  round(cast(n*sxy - sx*sy AS double) / cast(n*sxx - sx*sx AS double), 6) AS slope,
        |  round((cast(sy AS double)
        |         - cast(n*sxy - sx*sy AS double) / cast(n*sxx - sx*sx AS double)
        |           * cast(sx AS double)) / n, 6) AS intercept,
        |  round(cast(n*sxy - sx*sy AS double) * cast(n*sxy - sx*sy AS double)
        |        / (cast(n*sxx - sx*sx AS double) * cast(n*syy - sy*sy AS double)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      GroupRegression.ols(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("cents")),
          groupCol = "l_returnflag", xCol = "qty", yCol = "cents")
        .select(col("grp").as("l_returnflag"), col("n"), col("slope"),
          col("intercept"), col("r2"))
        .orderBy(col("l_returnflag"))
    },

    // X120 rolling-origin CV folds: expanding-window train/test splits
    // over the event timeline (integer day arithmetic, per-day rollup
    // first) — the leakage-free temporal complement to the hash-based
    // group split.
    Q("q_ml_rolling_origin",
      """WITH perday AS (SELECT cast(ts AS date) AS d, count(*) AS n,
        |                       sum(cast(round(value * 1000000) AS bigint)) AS v_us
        |                FROM events GROUP BY 1),
        |sp AS (SELECT min(d) AS d0, max(d) AS d1 FROM perday),
        |days AS (SELECT date_diff('day', d0, d) AS day, n, v_us,
        |                date_diff('day', d0, d1) - 3 AS trainable
        |         FROM perday, sp),
        |folds AS (SELECT unnest(generate_series(1, 4)) AS fold),
        |x AS (SELECT f.fold, (f.fold * d.trainable) // 4 AS train_end_day,
        |             d.day, d.n, d.v_us
        |      FROM days d CROSS JOIN folds f)
        |SELECT cast(fold AS int) AS fold, cast(train_end_day AS int) AS train_end_day,
        |       cast(sum(CASE WHEN day <= train_end_day THEN n ELSE 0 END) AS bigint)
        |         AS n_train,
        |       cast(sum(CASE WHEN day > train_end_day AND day <= train_end_day + 3
        |                     THEN n ELSE 0 END) AS bigint) AS n_test,
        |       cast(sum(CASE WHEN day > train_end_day AND day <= train_end_day + 3
        |                     THEN v_us ELSE 0 END) AS bigint) AS test_value_us
        |FROM x GROUP BY 1, 2 ORDER BY fold""".stripMargin) { (s, dir) =>
      RollingOrigin.folds(t(s, dir, "events"), tsCol = "ts", valueCol = "value",
          nFolds = 4, horizonDays = 3)
        .orderBy(col("fold"))
    },

    // X121 water-filling budget allocation: max-min fair split of a
    // character budget (60% of the corpus) across document sources —
    // exact integer water level + deterministic remainder, stated
    // formula-for-formula in the oracle.
    Q("q_sample_waterfill",
      """WITH dem AS (SELECT source AS src, sum(cast(n_chars AS bigint)) AS demand
        |             FROM documents GROUP BY 1),
        |tot AS (SELECT (sum(demand) * 3) // 5 AS b FROM dem),
        |r AS (SELECT src, demand,
        |        row_number() OVER (ORDER BY demand, src) AS k,
        |        sum(demand) OVER (ORDER BY demand, src
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
        |        count(*) OVER () AS n
        |      FROM dem),
        |s AS (SELECT r.*, (SELECT b FROM tot) AS b,
        |             demand * (n - k + 1) <= (SELECT b FROM tot) - (pk - demand)
        |               AS served
        |      FROM r),
        |st AS (SELECT sum(CASE WHEN served THEN demand ELSE 0 END) AS p_served,
        |              sum(CASE WHEN served THEN 1 ELSE 0 END) AS n_served,
        |              max(n) AS n_all FROM s),
        |f AS (SELECT s.src, s.demand, s.served, s.k, s.b, st.p_served, st.n_served,
        |             st.n_all - st.n_served AS n_unserved FROM s, st)
        |SELECT src AS source, cast(demand AS bigint) AS demand,
        |       cast(CASE WHEN served THEN demand
        |            ELSE least(demand,
        |                 (b - p_served) // n_unserved
        |                 + CASE WHEN k - n_served <= (b - p_served) % n_unserved
        |                        THEN 1 ELSE 0 END) END AS bigint) AS alloc,
        |       served
        |FROM f ORDER BY source""".stripMargin) { (s, dir) =>
      val dem = t(s, dir, "documents").groupBy(col("source").as("src"))
        .agg(sum(col("n_chars")).as("demand"))
      // one-row driver-side total (bounded by source cardinality logic:
      // it's a scalar) to parameterize the allocation
      val total = dem.agg(sum(col("demand"))).head().getLong(0)
      WaterFill.allocate(dem, srcCol = "src", demandCol = "demand",
          budget = total * 3 / 5)
        .select(col("src").as("source"), col("demand"), col("alloc"), col("served"))
        .orderBy(col("source"))
    },

    // X122 seasonal decomposition: hour-of-day profile of the detrended
    // (centered 25-hour MA) hourly event counts, exact in 1/25 units
    // until the final division — "3 AM is always quiet" separated from
    // weekly growth, the anomaly-baseline input.
    Q("q_events_seasonal",
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |                FROM events GROUP BY 1),
        |w AS (SELECT hr, cnt,
        |        count(*) OVER win AS win_n,
        |        sum(cnt) OVER win AS win_sum
        |      FROM hourly
        |      WINDOW win AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |d AS (SELECT extract(hour FROM hr) AS hod, cnt * 25 - win_sum AS d25
        |      FROM w WHERE win_n = 25)
        |SELECT cast(hod AS int) AS hod, cast(count(*) AS bigint) AS n_hours,
        |       round(cast(sum(d25) AS double) / count(*) / 25.0, 4) AS seasonal,
        |       round(cast(count(*) * sum(d25 * d25) - sum(d25) * sum(d25) AS double)
        |             / (count(*) * count(*)) / 625.0, 4) AS dispersion
        |FROM d GROUP BY 1 ORDER BY hod""".stripMargin) { (s, dir) =>
      Seasonal.hourOfDayProfile(t(s, dir, "events"), tsCol = "ts")
    },

    // X123 linear multi-touch attribution: every click inside the
    // 7-day lookback shares the purchase value — bucketed equi-join
    // pairing (bucket width = lookback, conversions probe 2 buckets),
    // exact integer credit split with the remainder to the most recent
    // touches. The oracle states the naive per-user range join.
    Q("q_events_attribution_linear",
      """WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus,
        |                  cast(round(value * 1000000) AS bigint) AS val_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cus,
        |             cast(ts AS date) AS cday
        |      FROM events WHERE event_type = 'click'),
        |pairs AS (SELECT p.pid, p.val_us, c.cid, c.cday, c.cus, p.pus - c.cus AS gap
        |          FROM p JOIN c ON p.user_id = c.user_id
        |          WHERE p.pus - c.cus BETWEEN 0 AND 604800000000),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY gap, cus) AS rn,
        |              count(*) OVER (PARTITION BY pid) AS n
        |       FROM pairs),
        |credit AS (SELECT cday, (val_us // n)
        |             + CASE WHEN rn <= val_us % n THEN 1 ELSE 0 END AS cr
        |           FROM rk)
        |SELECT cday AS day, cast(count(*) AS bigint) AS n_credits,
        |       cast(sum(cr) AS bigint) AS credited_value_us
        |FROM credit GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          unix_micros(col("ts")).as("pus"),
          round(col("value") * 1000000).cast("long").as("val_us"))
      val touch = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("cid"),
          unix_micros(col("ts")).as("cus"), to_date(col("ts")).as("cday"))
      MultiTouchAttribution.linearCredit(conv, touch, keyCol = "user_id",
          convIdCol = "pid", convTsUs = "pus", touchTsUs = "cus",
          valueUsCol = "val_us", lookbackUs = 604800000000L)
        .groupBy(col("cday").as("day"))
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit_us")).as("credited_value_us"))
        .orderBy(col("day"))
    },

    // X124 cohort LTV: revenue by signup-cohort week × weeks-since-
    // signup with the cumulative curve — the value-weighted companion
    // to the retention triangle. Integer epoch-week arithmetic.
    Q("q_events_cohort_ltv",
      """WITH e AS (SELECT user_id AS u, event_type AS typ, epoch_us(ts) AS us,
        |                  cast(round(value * 1000000) AS bigint) AS val_us
        |           FROM events),
        |c AS (SELECT u, min(us) // 604800000000 AS cohort_week
        |      FROM e WHERE typ = 'signup' GROUP BY 1),
        |r AS (SELECT u, us // 604800000000 AS rev_week, val_us
        |      FROM e WHERE typ = 'purchase'),
        |g AS (SELECT cohort_week, rev_week - cohort_week AS age_weeks,
        |             count(DISTINCT u) AS n_buyers, sum(val_us) AS rev_us
        |      FROM r JOIN c USING (u) WHERE rev_week - cohort_week >= 0
        |      GROUP BY 1, 2)
        |SELECT cast(cohort_week AS bigint) AS cohort_week,
        |       cast(age_weeks AS bigint) AS age_weeks,
        |       cast(n_buyers AS bigint) AS n_buyers, cast(rev_us AS bigint) AS rev_us,
        |       cast(sum(rev_us) OVER (PARTITION BY cohort_week ORDER BY age_weeks
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
        |         AS cum_rev_us
        |FROM g ORDER BY cohort_week, age_weeks""".stripMargin) { (s, dir) =>
      CohortLtv.weeklyLtv(t(s, dir, "events"), userCol = "user_id",
          typeCol = "event_type", tsCol = "ts", valueCol = "value")
        .orderBy(col("cohort_week"), col("age_weeks"))
    },

    // X125 positional phrase search: documents with "table value" as
    // adjacent tokens via posting-list equi-joins on (doc, pos−offset);
    // top-20 by match count plans TakeOrderedAndProject.
    Q("q_text_phrase_search",
      """WITH toks AS (SELECT doc_id,
        |                     unnest(string_split(text, ' ')) AS w,
        |                     unnest(range(0, len(string_split(text, ' ')))) AS pos
        |              FROM documents),
        |p0 AS (SELECT doc_id, pos AS p FROM toks WHERE w = 'table'),
        |p1 AS (SELECT doc_id, pos - 1 AS p FROM toks WHERE w = 'value'),
        |m AS (SELECT doc_id, count(*) AS n_matches
        |      FROM p0 JOIN p1 USING (doc_id, p) GROUP BY 1)
        |SELECT doc_id, cast(n_matches AS bigint) AS n_matches
        |FROM m ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      PhraseSearch.search(t(s, dir, "documents"), phrase = Seq("table", "value"),
        k = 20)
    },

    // X126 exact two-sample KS distance between the R and N price
    // distributions: the whole argmax search runs on the scaled
    // integer statistic |F1·n2 − F2·n1| (one double division at the
    // end), per-value collapse before the single CDF window.
    Q("q_diag_ks_test",
      """WITH x AS (SELECT cast(round(l_extendedprice * 100) AS bigint) AS v,
        |                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
        |                  CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS b
        |           FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |g AS (SELECT v, sum(a) AS ca, sum(b) AS cb FROM x GROUP BY 1),
        |c AS (SELECT v,
        |        sum(ca) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |        sum(cb) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |      FROM g),
        |t AS (SELECT sum(a) AS n1, sum(b) AS n2 FROM x),
        |d AS (SELECT n1, n2, v, abs(f1 * n2 - f2 * n1) AS dabs FROM c, t)
        |SELECT cast(n1 AS bigint) AS n1, cast(n2 AS bigint) AS n2,
        |       cast(dabs AS bigint) AS d_scaled, cast(v AS bigint) AS at_v,
        |       round(cast(dabs AS double) / (n1 * cast(n2 AS double)), 6) AS d
        |FROM d ORDER BY dabs DESC, v LIMIT 1""".stripMargin) { (s, dir) =>
      KsTest.twoSample(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        groupCol = "l_returnflag", valueCol = "cents",
        groupA = "R", groupB = "N")
    },

    // X127 hierarchical ratio-to-parent: nation revenue with its share
    // of the region and the region's share of the total — child/parent
    // rollups joined by broadcast, shares as one double division each.
    Q("q_agg_ratio_to_parent",
      """WITH nat AS (
        |  SELECT r.r_name AS region, n.n_name AS nation,
        |         sum(cast(round(o.o_totalprice * 100) AS bigint)) AS rev_cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |reg AS (SELECT region, sum(rev_cents) AS reg_cents FROM nat GROUP BY 1),
        |tot AS (SELECT sum(reg_cents) AS tot_cents FROM reg)
        |SELECT nat.region, nat.nation, cast(nat.rev_cents AS bigint) AS rev_cents,
        |       round(cast(nat.rev_cents AS double) / reg.reg_cents, 6)
        |         AS share_in_region,
        |       round(cast(reg.reg_cents AS double) / tot.tot_cents, 6)
        |         AS region_share_total
        |FROM nat JOIN reg USING (region), tot
        |ORDER BY region, nation""".stripMargin) { (s, dir) =>
      val nat = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      val reg = nat.groupBy(col("region")).agg(sum(col("rev_cents")).as("reg_cents"))
      val tot = reg.agg(sum(col("reg_cents")).as("tot_cents"))
      nat.join(broadcast(reg), Seq("region")).crossJoin(broadcast(tot))
        .select(col("region"), col("nation"), col("rev_cents"),
          round(col("rev_cents").cast("double") / col("reg_cents"), 6)
            .as("share_in_region"),
          round(col("reg_cents").cast("double") / col("tot_cents"), 6)
            .as("region_share_total"))
        .orderBy(col("region"), col("nation"))
    },

    // X128 CUSUM change-point: the day where the cumulative deviation
    // of daily event counts from the global mean peaks — scaled by n
    // so the argmax search never touches a float.
    Q("q_events_changepoint",
      """WITH perday AS (SELECT cast(ts AS date) AS d, count(*) AS x
        |                FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_days, sum(x) AS total FROM perday),
        |c AS (SELECT d,
        |        sum(x * n_days - total) OVER (ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |        n_days, total
        |      FROM perday, t)
        |SELECT cast(n_days AS bigint) AS n_days, cast(total AS bigint) AS total,
        |       d AS cp_day, cast(abs(c) AS bigint) AS c_scaled,
        |       round(cast(abs(c) AS double) / (n_days * cast(total AS double)), 6)
        |         AS stat
        |FROM c ORDER BY abs(c) DESC, d LIMIT 1""".stripMargin) { (s, dir) =>
      ChangePoint.cusumDaily(t(s, dir, "events"), tsCol = "ts")
    },

    // X129 per-group mode: each user's most frequent event type
    // (deterministic count-desc/type-asc tie-break) with its share —
    // the categorical summary statistic, count-collapse first so the
    // group-limit window sees type-cardinality rows, not events.
    Q("q_agg_mode_per_user",
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |tot AS (SELECT user_id, sum(cnt) AS n FROM c GROUP BY 1),
        |r AS (SELECT user_id, event_type, cnt,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY cnt DESC, event_type) AS rk
        |      FROM c)
        |SELECT r.user_id, r.event_type AS top_type, cast(r.cnt AS bigint) AS cnt,
        |       round(cast(r.cnt AS double) / tot.n, 6) AS share
        |FROM r JOIN tot USING (user_id) WHERE r.rk = 1
        |ORDER BY r.user_id""".stripMargin) { (s, dir) =>
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val totals = counts.groupBy(col("user_id")).agg(sum(col("cnt")).as("n"))
      TopK.perGroup(counts, partitionBy = Seq(col("user_id")),
          orderBy = Seq(col("cnt").desc, col("event_type")), k = 1)
        .join(totals, Seq("user_id"))
        .select(col("user_id"), col("event_type").as("top_type"), col("cnt"),
          round(col("cnt").cast("double") / col("n"), 6).as("share"))
        .orderBy(col("user_id"))
    },

    // X130 per-dimension embedding profile: top-10 dimensions by
    // variance across the corpus — the dead-dimension / whitening
    // diagnostic. Coordinates quantize to exact integer micros, so
    // even the variance RANKING compares exact integers.
    Q("q_embed_dim_profile",
      """WITH e AS (SELECT unnest(embedding::DOUBLE[]) AS x,
        |                  unnest(range(0, len(embedding))) AS dim
        |           FROM embeddings),
        |q AS (SELECT dim, cast(round(x * 1000000) AS bigint) AS v FROM e),
        |m AS (SELECT dim, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
        |      FROM q GROUP BY 1),
        |r AS (SELECT dim, n, s1, s2, n * s2 - s1 * s1 AS var_num FROM m)
        |SELECT cast(dim AS int) AS dim, cast(n AS bigint) AS n,
        |       round(cast(s1 AS double) / n / 1000000.0, 6) AS mean,
        |       round(cast(var_num AS double) / (n::DOUBLE * n) / 1.0e12, 6) AS variance
        |FROM r ORDER BY var_num DESC, dim LIMIT 10""".stripMargin) { (s, dir) =>
      EmbeddingProfile.topVarianceDims(
        t(s, dir, "embeddings").select(col("embedding")),
        vecCol = "embedding", k = 10)
    },

    // X219 per-dimension LABEL-LEAKAGE screen: mutual information
    // between each binned embedding coordinate and the class label —
    // the audit that finds dimensions encoding the label (target
    // leakage / memorized supervision) before training. All
    // probabilities are ratios of exact integer counts (micro-quantized
    // coords, exact pmod floor-division bins); ln only in the final
    // displayed terms, and the ranking orders by the ROUNDED score so
    // the replay cannot disagree below displayed precision.
    Q("q_embed_label_mi",
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |                  cast(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS v
        |           FROM embeddings WHERE label IS NOT NULL),
        |b AS (SELECT dim, label,
        |             (v - ((v % 100000 + 100000) % 100000)) / 100000 AS bin
        |      FROM e),
        |c AS (SELECT dim, bin, label, count(*) AS nbl FROM b GROUP BY 1, 2, 3),
        |tb AS (SELECT dim, bin, sum(nbl) AS nb FROM c GROUP BY 1, 2),
        |tl AS (SELECT dim, label, sum(nbl) AS nl FROM c GROUP BY 1, 2),
        |tn AS (SELECT dim, sum(nbl) AS n FROM c GROUP BY 1),
        |mi AS (SELECT c.dim,
        |              max(n) AS n,
        |              sum((nbl::DOUBLE / n) *
        |                  ln(nbl::DOUBLE * n / (nb::DOUBLE * nl))) AS mi_raw
        |       FROM c JOIN tb USING (dim, bin) JOIN tl USING (dim, label)
        |              JOIN tn USING (dim)
        |       GROUP BY 1)
        |SELECT cast(dim AS int) AS dim, cast(n AS bigint) AS n,
        |       round(mi_raw, 6) AS mi
        |FROM mi ORDER BY round(mi_raw, 6) DESC, dim""".stripMargin) { (s, dir) =>
      MutualInfo.labelLeakage(
        t(s, dir, "embeddings").select(col("embedding"), col("label")),
        vecCol = "embedding", labelCol = "label")
    },

    // X217 cross-dimension covariance top-k: the redundancy diagnostic
    // next to X130's per-dim variance — pairs with high |covariance|
    // are rotation/whitening candidates before PQ. Micro-quantized
    // exact arithmetic; the RANKING compares the exact integer
    // numerator n·Σxy − Σx·Σy in DECIMAL(38)/HUGEINT (a long overflows
    // at corpus scale), floats only in the displayed division.
    Q("q_embed_covariance",
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |                  cast(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS v
        |           FROM embeddings),
        |p AS (SELECT a.i AS i, b.i AS j, a.v AS vi, b.v AS vj
        |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i < b.i),
        |m AS (SELECT i, j, count(*) AS n,
        |             sum(cast(vi AS HUGEINT)) AS s1, sum(cast(vj AS HUGEINT)) AS s2,
        |             sum(cast(vi AS HUGEINT) * vj) AS sxy
        |      FROM p GROUP BY 1, 2),
        |c AS (SELECT i, j, n, cast(n AS HUGEINT) * sxy - s1 * s2 AS cov_num FROM m)
        |SELECT cast(i AS int) AS i, cast(j AS int) AS j, cast(n AS bigint) AS n,
        |       round(cast(cov_num AS double) / (n::DOUBLE * n) / 1.0e12, 6) AS cov
        |FROM c ORDER BY abs(cov_num) DESC, i, j LIMIT 15""".stripMargin) { (s, dir) =>
      EmbeddingProfile.covarianceTopK(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        vecCol = "embedding", k = 15)
    },

    // X218 Johnson–Lindenstrauss random projection with a REPLAYABLE
    // hash sign matrix: 64 dims → 16, one codegen'd map pass per row
    // (zip_with + aggregate — no explode, no shuffle, no broadcast
    // matrix), output the EXACT integer projections so DuckDB replays
    // every bit. Distortion bands pinned in RandomProjectionSpec; the
    // projected table is the cheap first stage for ANN prefiltering
    // at 100 TB (16/64 of the bytes, distances preserved to O(1/√k)).
    Q("q_embed_randproj",
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |                  cast(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS v
        |           FROM embeddings),
        |js AS (SELECT unnest(range(0, 16)) AS j),
        |s AS (SELECT vec_id, j,
        |             sum(CASE WHEN ((xor(i * 2654435761, j * 2246822519)
        |                             % 4294967296) * 48611) % 4294967296
        |                        < 2147483648 THEN v ELSE -v END) AS y
        |      FROM e CROSS JOIN js GROUP BY 1, 2)
        |SELECT vec_id, cast(j AS int) AS j, cast(y AS bigint) AS y
        |FROM s ORDER BY vec_id, j""".stripMargin) { (s, dir) =>
      EmbeddingProfile.randomProject(
          t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 16)
        .orderBy(col("vec_id"), col("j"))
    },

    // X131 Nelson–Aalen conversion-hazard curve: signup → first
    // purchase with right censoring at the observation edge — the
    // estimator that keeps the users still waiting, which plain mean
    // latency drops. Hazard increments quantize to integer nanos
    // before the cumulative sum.
    Q("q_events_survival",
      """WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |mx AS (SELECT max(us) AS mx FROM b),
        |su AS (SELECT user_id, min(us) AS su FROM b
        |       WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT b.user_id, min(b.us) AS pu FROM b JOIN su USING (user_id)
        |       WHERE b.event_type = 'purchase' AND b.us > su.su GROUP BY 1),
        |dur AS (SELECT CASE WHEN pu IS NOT NULL THEN (pu - su) // 86400000000
        |                    ELSE (mx - su) // 86400000000 END AS t,
        |               CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END AS ev
        |        FROM su LEFT JOIN pu USING (user_id), mx),
        |perT AS (SELECT t, sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS d,
        |                count(*) AS c_all
        |         FROM dur GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM dur),
        |c AS (SELECT t, d, c_all,
        |        coalesce(sum(c_all) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM perT),
        |h AS (SELECT t, d, n_total - cum_prev AS n_risk,
        |             cast(round(d * 1000000000 / (n_total - cum_prev)) AS bigint)
        |               AS h_ppb
        |      FROM c, tot WHERE d > 0)
        |SELECT cast(t AS bigint) AS t, cast(d AS bigint) AS d,
        |       cast(n_risk AS bigint) AS n_risk,
        |       round(cast(h_ppb AS double) / 1e9, 6) AS hazard,
        |       round(cast(sum(h_ppb) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) / 1e9, 6)
        |         AS cum_hazard
        |FROM h ORDER BY t""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val mx = base.agg(max(col("us")).as("mx"))
      val su = base.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("su"))
      val pu = base.filter(col("event_type") === "purchase").join(su, "user_id")
        .filter(col("us") > col("su"))
        .groupBy(col("user_id")).agg(min(col("us")).as("pu"))
      val durations = su.join(pu, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(col("pu").isNotNull, expr("(pu - su) div 86400000000"))
            .otherwise(expr("(mx - su) div 86400000000")).as("t"),
          when(col("pu").isNotNull, 1).otherwise(0).as("event"))
      Survival.nelsonAalen(durations, tCol = "t", eventCol = "event")
        .orderBy(col("t"))
    },

    // X132 the KMV sketch as a typed Aggregator (the engine's UDAF
    // surface): identical estimate to the window formulation (X115),
    // but with the k-hash sketch as mergeable aggregation state —
    // map-side combined, partition-associative, streaming-capable.
    Q("q_sketch_kmv_udaf",
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |                  (user_id * 2654435761) % 4294967296 AS h
        |           FROM events),
        |r AS (SELECT grp, h,
        |             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |kk AS (SELECT grp, max(h) AS hk, count(*) AS m
        |       FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT grp AS event_type, cast(m AS bigint) AS m, cast(hk AS bigint) AS hk,
        |       round(CASE WHEN m < 64 THEN cast(m AS double)
        |                  ELSE 63 * 4294967296.0 / hk END, 2) AS est
        |FROM kk ORDER BY event_type""".stripMargin) { (s, dir) =>
      val sketch = udaf(new KmvAggregator(64))
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(sketch(col("user_id")).as("kmv"))
        .select(col("event_type"), col("kmv.m").as("m"), col("kmv.hk").as("hk"),
          round(col("kmv.est"), 2).as("est"))
        .orderBy(col("event_type"))
    },

    // X133 the UDTF surface: trigram counts through the custom
    // Catalyst Generator `graft_ngrams` reached via SQL LATERAL VIEW —
    // one text row in, one row per n-gram out, no intermediate array.
    // The oracle rebuilds the trigrams with positional self-joins.
    Q("q_sql_udtf_ngrams",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |                     unnest(range(0, len(string_split(text, ' ')))) AS pos
        |              FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS ngram
        |        FROM toks a
        |        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
        |SELECT ngram, cast(count(*) AS bigint) AS n
        |FROM tri GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents_udtf_v")
      s.sql(
        """SELECT ngram, count(*) AS n
          |FROM documents_udtf_v
          |LATERAL VIEW graft_ngrams(text, 3) t AS pos, ngram
          |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin)
    },

    // X134 corpus novelty curve: fraction of never-seen-before
    // trigrams per arrival batch (doc_id div 100 stands in for the
    // crawl batch) — the source-saturation signal. First-sight is one
    // min-aggregate per distinct n-gram, never a window.
    Q("q_text_novelty",
      """WITH toks AS (SELECT doc_id // 100 AS b,
        |                     unnest(string_split(text, ' ')) AS w,
        |                     unnest(range(0, len(string_split(text, ' ')))) AS pos,
        |                     doc_id
        |              FROM documents),
        |tri AS (SELECT a.b, a.w || ' ' || x.w || ' ' || c.w AS g
        |        FROM toks a
        |        JOIN toks x ON a.doc_id = x.doc_id AND x.pos = a.pos + 1
        |        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |pg AS (SELECT g, b, count(*) AS c FROM tri GROUP BY 1, 2),
        |fs AS (SELECT g, min(b) AS fb FROM pg GROUP BY 1)
        |SELECT b AS batch,
        |       cast(sum(c) AS bigint) AS n_occurrences,
        |       cast(count(*) AS bigint) AS n_distinct,
        |       cast(sum(CASE WHEN fb = b THEN 1 ELSE 0 END) AS bigint) AS n_new,
        |       round(cast(sum(CASE WHEN fb = b THEN 1 ELSE 0 END) AS double)
        |             / count(*), 6) AS novelty
        |FROM pg JOIN fs USING (g) GROUP BY 1 ORDER BY batch""".stripMargin) { (s, dir) =>
      NoveltyRate.perBatch(
          t(s, dir, "documents").select(expr("doc_id div 100").as("batch"),
            col("text")),
          batchCol = "batch", textCol = "text", n = 3)
        .orderBy(col("batch"))
    },

    // X135 mutual nearest neighbors: pairs where each is the other's
    // cosine top-1 — the high-precision duplicate signal (one-sided
    // nearest is cheap to fake; mutual is not). Sampled probe set,
    // exact cosine, pairs reported once (a < b).
    Q("q_embed_mutual_nn",
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id % 4 = 0),
        |pairs AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
        |                 (CASE WHEN sqrt(list_dot_product(a.v, a.v))
        |                            * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
        |                       ELSE list_dot_product(a.v, b.v)
        |                            / (sqrt(list_dot_product(a.v, a.v))
        |                               * sqrt(list_dot_product(b.v, b.v))) END) AS cosine
        |          FROM q a JOIN q b ON a.vec_id != b.vec_id),
        |nn AS (SELECT qa, qb, cosine FROM (
        |         SELECT qa, qb, cosine,
        |                row_number() OVER (PARTITION BY qa
        |                                   ORDER BY cosine DESC, qb) AS rk
        |         FROM pairs) WHERE rk = 1)
        |SELECT x.qa AS id_a, x.qb AS id_b, round(x.cosine, 5) AS cosine
        |FROM nn x JOIN nn y ON x.qb = y.qa AND y.qb = x.qa AND x.qa < x.qb
        |ORDER BY id_a""".stripMargin) { (s, dir) =>
      val probe = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      val nn = SimilaritySearch.bruteForceTopK(
          probe.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          probe, k = 1)
        .select(col("query_id").as("qa"), col("vec_id").as("qb"), col("cosine"))
      nn.alias("x")
        .join(nn.alias("y"),
          col("x.qb") === col("y.qa") && col("y.qb") === col("x.qa") &&
            col("x.qa") < col("x.qb"))
        .select(col("x.qa").as("id_a"), col("x.qb").as("id_b"),
          round(col("x.cosine"), 5).as("cosine"))
        .orderBy(col("id_a"))
    },

    // X136 recursive CTE executed BY SPARK (4.x WITH RECURSIVE): every
    // customer walks the synthetic parent chain k → k div 7 to the
    // root; depth histogram out. Inverts the q_graph_khop arrangement,
    // where only the DuckDB oracle recursed and Spark ran the
    // iterative operator — here both engines recurse natively
    // (dialect seam: integer division spells `div` / `//`).
    Q("q_sql_recursive_hierarchy",
      """WITH RECURSIVE walk(start, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT start, cur // 7, depth + 1 FROM walk WHERE cur > 0)
        |SELECT depth AS root_depth, cast(count(*) AS bigint) AS n
        |FROM (SELECT start, max(depth) AS depth FROM walk GROUP BY start)
        |GROUP BY 1 ORDER BY root_depth""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """WITH RECURSIVE walk(start, cur, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM customer
          |  UNION ALL
          |  SELECT start, cur div 7, depth + 1 FROM walk WHERE cur > 0)
          |SELECT depth AS root_depth, cast(count(*) AS bigint) AS n
          |FROM (SELECT start, max(depth) AS depth FROM walk GROUP BY start)
          |GROUP BY 1 ORDER BY root_depth""".stripMargin)
    },

    // X137 LATERAL correlated subquery, ONE SQL text verbatim on both
    // engines: per-customer order rollup via a lateral scalar
    // aggregate, reduced per market segment.
    {
      val lateralSql =
        """SELECT c_mktsegment,
          |       cast(sum(l.n) AS bigint) AS n_orders,
          |       cast(sum(cast(round(l.mx * 100) AS bigint)) AS bigint)
          |         AS sum_max_cents
          |FROM customer c,
          |     LATERAL (SELECT count(*) AS n, max(o_totalprice) AS mx
          |              FROM orders WHERE o_custkey = c.c_custkey) l
          |WHERE l.n > 0
          |GROUP BY 1 ORDER BY 1""".stripMargin
      Q("q_sql_lateral_rollup", lateralSql) { (s, dir) =>
        graft.Tables.registerAll(s, dir)
        s.sql(lateralSql)
      }
    },

    // X148 burst-collapse debounce: per (user, event_type), keep only
    // events with no predecessor within 24h — the duplicate-burst
    // suppression gate (double fires, retry storms). Same one-shuffle
    // lag-window shape as sessionize; reported per event type.
    Q("q_events_debounce",
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id, event_type ORDER BY ts) AS gap_us
        |  FROM events)
        |SELECT event_type,
        |       cast(count(*) AS bigint) AS n_raw,
        |       cast(sum(CASE WHEN gap_us IS NULL OR gap_us >= 86400000000
        |                     THEN 1 ELSE 0 END) AS bigint) AS n_kept,
        |       round(1.0 - cast(sum(CASE WHEN gap_us IS NULL OR gap_us >= 86400000000
        |                                 THEN 1 ELSE 0 END) AS double) / count(*), 6)
        |         AS suppressed
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val flagged = graft.operators.Debounce.flag(t(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", minGapUs = 86400000000L)
      flagged.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("event_type"), col("n_raw"), col("n_kept"),
          round(lit(1.0) - col("n_kept").cast("double") / col("n_raw"), 6)
            .as("suppressed"))
        .orderBy(col("event_type"))
    },

    // X151 time-weighted average of the event value per user: each
    // value holds until the user's next event (closed-open), weights
    // are exact micros, products accumulate in DECIMAL(38,0) — the
    // irregular-series aggregate a plain mean gets wrong.
    Q("q_events_twap",
      """WITH s AS (SELECT user_id, epoch_us(ts) AS us,
        |                  CAST(round(value * 100) AS BIGINT) AS v_centi
        |           FROM events),
        |d AS (SELECT user_id, v_centi,
        |             lead(us) OVER (PARTITION BY user_id ORDER BY us) - us AS dt_us
        |      FROM s),
        |f AS (SELECT * FROM d WHERE dt_us IS NOT NULL)
        |SELECT user_id, cast(count(*) AS bigint) AS n_intervals,
        |       cast(sum(dt_us) AS bigint) AS span_us,
        |       round(cast(sum(cast(v_centi AS DECIMAL(38,0)) * dt_us) AS double)
        |             / 100.0 / cast(sum(dt_us) AS double), 6) AS twap
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.operators.TimeWeightedAverage.twap(
          t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy(col("user_id"))
    },

    // X156 OHLC bar downsampling: weekly bars per user — open/close via
    // min_by/max_by on exact micros (no window, ONE map-side-combined
    // groupBy); volume rides centi-longs so partial-sum order never
    // shows.
    Q("q_events_ohlc",
      """WITH s AS (SELECT user_id, epoch_us(ts) AS us, value AS v FROM events)
        |SELECT user_id, cast(us // 604800000000 AS bigint) AS bucket,
        |       min({'us': us, 'v': v}).v AS open, max(v) AS high, min(v) AS low,
        |       max({'us': us, 'v': v}).v AS close,
        |       cast(count(*) AS bigint) AS n,
        |       cast(sum(CAST(round(v * 100) AS BIGINT)) AS double) / 100.0 AS v_sum
        |FROM s GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      graft.operators.Ohlc.bars(t(s, dir, "events"), "user_id", "ts", "value",
          bucketUs = 604800000000L)
        .select(col("key").as("user_id"), col("bucket"), col("open"), col("high"),
          col("low"), col("close"), col("n"), col("v_sum"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // X157 growth accounting: weekly new/retained/resurrected/churned/
    // active decomposition — distinct (user, period) first, then ONE
    // lag/lead window per user; churn lands on the period after the gap
    // opens.
    Q("q_events_growth",
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS p FROM events),
        |t AS (SELECT u, p,
        |             lag(p) OVER (PARTITION BY u ORDER BY p) AS prev,
        |             lead(p) OVER (PARTITION BY u ORDER BY p) AS nxt
        |      FROM act),
        |a AS (SELECT p AS period,
        |             sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
        |             sum(CASE WHEN prev = p - 1 THEN 1 ELSE 0 END) AS n_retained,
        |             sum(CASE WHEN prev IS NOT NULL AND prev < p - 1 THEN 1 ELSE 0 END)
        |               AS n_resurrected,
        |             count(*) AS n_active
        |      FROM t GROUP BY 1),
        |c AS (SELECT p + 1 AS period, count(*) AS n_churned
        |      FROM t WHERE nxt IS NULL OR nxt > p + 1 GROUP BY 1),
        |m AS (SELECT max(period) AS mp FROM a)
        |SELECT cast(period AS bigint) AS period,
        |       cast(coalesce(n_new, 0) AS bigint) AS n_new,
        |       cast(coalesce(n_retained, 0) AS bigint) AS n_retained,
        |       cast(coalesce(n_resurrected, 0) AS bigint) AS n_resurrected,
        |       cast(coalesce(c.n_churned, 0) AS bigint) AS n_churned,
        |       cast(coalesce(n_active, 0) AS bigint) AS n_active
        |FROM a FULL JOIN c USING (period) CROSS JOIN m
        |WHERE period <= mp ORDER BY period""".stripMargin) { (s, dir) =>
      graft.operators.GrowthAccounting.report(t(s, dir, "events"), "user_id", "ts",
          periodUs = 604800000000L)
        .select(col("period"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_churned"), col("n_active"))
        .orderBy(col("period"))
    },

    // X172 autocorrelation function: pooled Pearson r of (v_t, v_t+lag)
    // pairs per user at lags 1..5 — exact centi-long moments in ONE
    // windowed pass + one aggregate; r is a fixed double expression of
    // the longs, so the curve hash-replays.
    Q("q_events_acf", {
      val lagCols = (1 to 5).map(l => s"lag(v, $l) OVER w AS v$l").mkString(", ")
      val momentCols = (1 to 5).map { l =>
        s"""count(*) FILTER (WHERE v$l IS NOT NULL) AS n$l,
           |  sum(v$l) FILTER (WHERE v$l IS NOT NULL) AS sx$l,
           |  sum(v) FILTER (WHERE v$l IS NOT NULL) AS sy$l,
           |  sum(v$l * v) FILTER (WHERE v$l IS NOT NULL) AS sxy$l,
           |  sum(v$l * v$l) FILTER (WHERE v$l IS NOT NULL) AS sxx$l,
           |  sum(v * v) FILTER (WHERE v$l IS NOT NULL) AS syy$l""".stripMargin
      }.mkString(",\n        |  ")
      val lagRows = (1 to 5).map { l =>
        s"""SELECT $l AS lag, cast(n$l AS bigint) AS n_pairs,
           |  CASE WHEN n$l >= 2
           |        AND cast(n$l AS double) * cast(sxx$l AS double)
           |              - cast(sx$l AS double) * cast(sx$l AS double) > 0
           |        AND cast(n$l AS double) * cast(syy$l AS double)
           |              - cast(sy$l AS double) * cast(sy$l AS double) > 0
           |       THEN round((cast(n$l AS double) * cast(sxy$l AS double)
           |                    - cast(sx$l AS double) * cast(sy$l AS double))
           |                  / (sqrt(cast(n$l AS double) * cast(sxx$l AS double)
           |                           - cast(sx$l AS double) * cast(sx$l AS double))
           |                     * sqrt(cast(n$l AS double) * cast(syy$l AS double)
           |                            - cast(sy$l AS double) * cast(sy$l AS double))), 6)
           |       END AS r FROM m""".stripMargin
      }.mkString("\n        |UNION ALL\n        |")
      s"""WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
         |                  CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |l AS (SELECT k, us, v, $lagCols
         |      FROM e WINDOW w AS (PARTITION BY k ORDER BY us, v)),
         |m AS (SELECT
         |  $momentCols
         |FROM l)
         |$lagRows
         |ORDER BY lag""".stripMargin
    }) { (s, dir) =>
      graft.operators.Autocorrelation.acf(t(s, dir, "events"),
        "user_id", "ts", "value", maxLag = 5)
    },

    // X164 Bradley–Terry preference strengths: per-user pairwise
    // "preferences" between event types (higher exact centi-value
    // wins), two unrolled MM iterations with integer-grid-floored
    // denominators — the preference-model fit replays hash-identically
    // because every float is a fixed expression of exact longs.
    Q("q_events_bradley_terry",
      """WITH pv AS (SELECT user_id AS u, event_type AS et,
        |                   sum(CAST(round(value * 100) AS BIGINT)) AS cv
        |            FROM events GROUP BY 1, 2),
        |d AS (SELECT a.et AS wi, b.et AS lo, count(*) AS n
        |      FROM pv a JOIN pv b ON a.u = b.u AND a.cv > b.cv GROUP BY 1, 2),
        |g AS (SELECT wi AS i, lo AS j, n FROM d UNION ALL SELECT lo, wi, n FROM d),
        |ng AS (SELECT i, j, sum(n) AS nij FROM g GROUP BY 1, 2),
        |wins AS (SELECT wi AS i, sum(n) AS w FROM d GROUP BY 1),
        |items AS (SELECT DISTINCT i FROM ng),
        |d1 AS (SELECT i, sum(CAST(floor(nij * 1000000.0 / (1.0 + 1.0)) AS BIGINT)) AS den
        |       FROM ng GROUP BY 1),
        |w1 AS (SELECT items.i,
        |              cast(coalesce(wins.w, 0) AS double) * 1000000.0
        |                / cast(d1.den AS double) AS s
        |       FROM items JOIN d1 USING (i) LEFT JOIN wins USING (i)),
        |d2 AS (SELECT ng.i, sum(CAST(floor(ng.nij * 1000000.0 / (wa.s + wb.s)) AS BIGINT)) AS den
        |       FROM ng JOIN w1 wa ON ng.i = wa.i JOIN w1 wb ON ng.j = wb.i GROUP BY 1),
        |w2 AS (SELECT items.i,
        |              cast(coalesce(wins.w, 0) AS double) * 1000000.0
        |                / cast(d2.den AS double) AS s
        |       FROM items JOIN d2 USING (i) LEFT JOIN wins USING (i)),
        |mx AS (SELECT max(s) AS m FROM w2),
        |tg AS (SELECT i, sum(nij) AS games FROM ng GROUP BY 1)
        |SELECT w2.i AS item, cast(coalesce(wins.w, 0) AS bigint) AS n_wins,
        |       cast(tg.games AS bigint) AS n_games,
        |       round(w2.s / mx.m, 6) AS strength
        |FROM w2 JOIN tg USING (i) LEFT JOIN wins USING (i) CROSS JOIN mx
        |ORDER BY strength DESC, item""".stripMargin) { (s, dir) =>
      val pv = t(s, dir, "events")
        .select(col("user_id").as("u"), col("event_type").as("et"),
          round(col("value") * 100).cast("long").as("vc"))
        .groupBy(col("u"), col("et")).agg(sum(col("vc")).as("cv"))
      val a = pv.select(col("u"), col("et").as("wet"), col("cv").as("wcv"))
      val b = pv.select(col("u"), col("et").as("let"), col("cv").as("lcv"))
      val games = a.join(b, Seq("u")).filter(col("wcv") > col("lcv"))
        .groupBy(col("wet").as("win"), col("let").as("lose"))
        .agg(count(lit(1)).as("n"))
      graft.operators.BradleyTerry.strengths(games, "win", "lose", "n", iterations = 2)
    },

    // X159 hourly linear-interpolation resample (X113 LOCF's
    // continuous-signal sibling): grid ∪ observations, one forward +
    // one backward carry window on the same key shuffle, row-local lerp
    // over exact centi-longs/micros. Oracle = two DuckDB ASOF joins
    // (prev ≤ grid ≤ next) + the identical float expression.
    Q("q_events_lerp_resample",
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |                   CAST(round(value * 100) AS BIGINT) AS vc
        |            FROM events),
        |b AS (SELECT u, min(us // 3600000000 * 3600000000) AS mn,
        |             max(us // 3600000000 * 3600000000) AS mx FROM ev GROUP BY u),
        |g AS (SELECT u, unnest(generate_series(mn, mx, 3600000000)) AS gus FROM b),
        |p AS (SELECT g.u, g.gus, pe.us AS t0, pe.vc AS v0
        |      FROM g ASOF LEFT JOIN ev pe ON g.u = pe.u AND pe.us <= g.gus),
        |pn AS (SELECT p.u, p.gus, p.t0, p.v0, ne.us AS t1, ne.vc AS v1
        |       FROM p ASOF LEFT JOIN ev ne ON p.u = ne.u AND ne.us >= p.gus)
        |SELECT u AS user_id, cast(gus AS bigint) AS hr_us,
        |       round(CASE WHEN v0 IS NULL THEN cast(v1 AS double)
        |                  WHEN v1 IS NULL THEN cast(v0 AS double)
        |                  WHEN t1 = t0 THEN cast(v0 AS double)
        |                  ELSE cast(v0 AS double) + cast(v1 - v0 AS double)
        |                       * (cast(gus - t0 AS double) / cast(t1 - t0 AS double))
        |             END / 100.0, 6) AS value
        |FROM pn ORDER BY user_id, hr_us""".stripMargin) { (s, dir) =>
      graft.operators.Resample.lerpHourly(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy(col("user_id"), col("hr_us"))
    },

    // X184 HBOS multivariate outliers: per-feature equi-width histogram
    // densities multiplied into one anomaly score (the Goldstein-Dengel
    // Σlog(1/density) kept in product form — IEEE mul/div only, so the
    // score is bit-deterministic and the top-20 boundary is safe to
    // hash). The fact table is NEVER shuffled: one min/max aggregate,
    // one melted tiny groupBy, then broadcast joins — scoring is
    // map-side. Multivariate sibling of q_quality_robust_outliers.
    Q("q_anomaly_hbos",
      """WITH f AS (SELECT l_orderkey, l_linenumber,
        |                  cast(l_quantity AS double) AS q,
        |                  cast(l_extendedprice AS double) AS p,
        |                  cast(l_discount AS double) AS d
        |           FROM lineitem
        |           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |             AND l_discount IS NOT NULL),
        |mm AS (SELECT min(q) AS mnq, max(q) AS mxq, min(p) AS mnp, max(p) AS mxp,
        |              min(d) AS mnd, max(d) AS mxd FROM f),
        |b AS (SELECT l_orderkey, l_linenumber,
        |             least(greatest(cast(floor((q - mnq) / (mxq - mnq) * 20) AS int), 0), 19) AS bin_q,
        |             least(greatest(cast(floor((p - mnp) / (mxp - mnp) * 20) AS int), 0), 19) AS bin_p,
        |             least(greatest(cast(floor((d - mnd) / (mxd - mnd) * 20) AS int), 0), 19) AS bin_d
        |      FROM f CROSS JOIN mm),
        |cq AS (SELECT bin_q, count(*) AS c FROM b GROUP BY 1),
        |cp AS (SELECT bin_p, count(*) AS c FROM b GROUP BY 1),
        |cd AS (SELECT bin_d, count(*) AS c FROM b GROUP BY 1),
        |mx AS (SELECT (SELECT max(c) FROM cq) AS mq, (SELECT max(c) FROM cp) AS mp,
        |              (SELECT max(c) FROM cd) AS md),
        |scored AS (
        |  SELECT b.l_orderkey, b.l_linenumber, b.bin_q, b.bin_p, b.bin_d,
        |         (cast(mx.mq AS double) / cast(cq.c AS double))
        |           * (cast(mx.mp AS double) / cast(cp.c AS double))
        |           * (cast(mx.md AS double) / cast(cd.c AS double)) AS hbos
        |  FROM b JOIN cq USING (bin_q) JOIN cp USING (bin_p) JOIN cd USING (bin_d)
        |  CROSS JOIN mx)
        |SELECT l_orderkey, l_linenumber, bin_q, bin_p, bin_d, hbos
        |FROM scored
        |ORDER BY hbos DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin) { (s, dir) =>
      graft.operators.Hbos.topOutliers(t(s, dir, "lineitem"),
          keyCols = Seq("l_orderkey", "l_linenumber"),
          features = Seq("l_quantity", "l_extendedprice", "l_discount"),
          nBins = 20, k = 20)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("bin_l_quantity").as("bin_q"), col("bin_l_extendedprice").as("bin_p"),
          col("bin_l_discount").as("bin_d"), col("hbos"))
    })
}
