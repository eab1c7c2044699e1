package graft.queries

import graft.Tables
import graft.operators.{Bfs, FdAudit, KAnonymity, LabelPropagation, Modularity, CountMinSketch, IntervalJoin, QuantileBinning, SaltedJoin, ScanFanout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan / projection / filter / join / aggregation / set-op coverage
  * (SURVEY §2.1-2.4, §2.7): one deterministic, oracle-checked query per
  * operator family, over the driver's TPC-H-ish tables.
  *
  * Scale notes: all joins here are equi-joins Catalyst plans as
  * broadcast (dims) or shuffled hash/sort-merge (facts); aggregations are
  * partial (map-side combine) before the single shuffle on the group key.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Distinct customer↔supplier trade pairs (c, sup) — the shared edge
    * prep of the whole PageRank family (`q_graph_pagerank`, `_dangling`,
    * `q_graph_ppr` each symmetrize/direct these same pairs). (Rounds
    * ≤ 19 memoized this frame per (session, sf-dir) across queries;
    * round 20 removed the memo — a cross-query memo of computed data
    * keyed on the input dir amortizes work the bench is supposed to
    * measure per query. No checkpoint either: each caller now scans the
    * frame exactly ONCE — the in-row explode symmetrize replaced the
    * two-branch union — straight into PageRank's own edge persist, so
    * an eager materialization here would be a redundant extra pass.)
    * The lineitem side is fanned out first (guide §2.5): the probe-side
    * map join + the distinct's partial aggregation otherwise run fused
    * onto the one-task scan of a single-row-group parquet file.
    */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    ScanFanout.byKey(t(s, dir, "lineitem"), col("l_orderkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup")).distinct()

  /** Part co-occurrence counts over order baskets — the shared edge prep
    * of q_graph_{kcore,triangles,clustering,link_prediction}: (u, v,
    * cnt) with u < v, cnt = number of baskets containing both parts.
    *
    * Round-20 rewrite (guide §2.4 "remove shuffles outright"): the old
    * shape was distinct(o, p) followed by a self-join on o and a pair
    * aggregation — four exchanges (distinct, both join sides, pair
    * groupBy) and a join that materializes d² rows per basket before
    * filtering. This shape is ONE aggregation per basket
    * (collect_set ≡ the old distinct, same exchange) + an in-row pair
    * explosion of the sorted item array (d(d−1)/2 rows, u < v by
    * construction) + the pair aggregation: 2 exchanges, no join. Counts
    * are identical — both count the baskets containing both parts.
    * Scale: per-basket cost is the same Σd² the self-join paid; the cap
    * on degenerate baskets (when needed) is the caller's filter, as
    * before.
    */
  private def partCoPairs(s: SparkSession, dir: String): DataFrame =
    // BasketPairs carries the in-row pair explosion (round 20's shape,
    // unchanged here: hotThreshold defaults to None because TPC-H
    // baskets are ≤ 7 items) plus the round-21 salted hot-basket guard
    // a 100 TB caller enables — see BasketPairs' scaladoc and
    // BasketPairsSpec.
    graft.operators.BasketPairs.pairsPerBasket(
        ScanFanout.byKey(
          t(s, dir, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          col("o")),
        "o", "p")
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))

  val queries: Seq[Q] = Seq(

    // A1/A2 group-by count+sum+avg (TPC-H Q1 shape), P2 cast, P3 filter.
    Q("q_agg_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // J2 multi-way inner equi-join (fact ⋈ dims) + group-by revenue.
    // At scale: nation/region/customer broadcast; lineitem⋈orders
    // co-shuffles on the order key once.
    Q("q_join_revenue_by_nation",
      """SELECT n.n_name AS nation, r.r_name AS region,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n.n_name, r.r_name
        |ORDER BY nation, region""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("nation"), col("region"))
    },

    // J4 anti-join (reference emulates with left_outer+isnull filter;
    // we use the direct left_anti): customers with no high-value order.
    Q("q_join_anti_no_big_order",
      """SELECT c.c_custkey AS c_custkey, c.c_mktsegment AS c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // Semi-join: segments of customers having at least one open order.
    Q("q_join_semi_open_order",
      """SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |GROUP BY c.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      t(s, dir, "customer")
        .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    // J5 full-outer domain completion + na.fill(0): order-count
    // histogram including zero-order customers.
    Q("q_join_fullouter_order_histogram",
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        |)
        |SELECT coalesce(p.n_orders, 0) AS n_orders,
        |       count(*) AS n_customers
        |FROM customer c FULL OUTER JOIN per_cust p ON c.c_custkey = p.o_custkey
        |GROUP BY coalesce(p.n_orders, 0)
        |ORDER BY n_orders""".stripMargin) { (s, dir) =>
      val perCust = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .na.fill(0L, Seq("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_orders"))
    },

    // J7 self-join: max pairwise price spread per order (mirrors the
    // reference's max-pairwise-distance street length,
    // src/road_network.py:48-82).
    Q("q_join_self_price_spread",
      """SELECT a.l_orderkey AS l_orderkey,
        |       round(max(abs(a.l_extendedprice - b.l_extendedprice)), 2) AS price_spread,
        |       count(*) AS n_pairs
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        |GROUP BY a.l_orderkey
        |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber"))
        .groupBy(col("a.l_orderkey").as("l_orderkey"))
        .agg(
          round(max(abs(col("a.l_extendedprice") - col("b.l_extendedprice"))), 2).as("price_spread"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("l_orderkey"))
    },

    // J1 cross join (dim × dim only — never fact × fact).
    Q("q_join_cross_nation_region",
      """SELECT n.n_name AS n_name, r.r_name AS r_name
        |FROM nation n CROSS JOIN region r
        |ORDER BY n_name, r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "nation").select("n_name")
        .crossJoin(broadcast(t(s, dir, "region").select("r_name")))
        .orderBy(col("n_name"), col("r_name"))
    },

    // J6 join on a computed key (reference joins on a vector element,
    // mains/main_train_base.py:46-51): orders ⋈ bucket stats on a
    // derived bucket expression.
    Q("q_join_computed_key_bucket",
      """WITH buckets AS (
        |  SELECT cast(floor(o_totalprice / 50000) AS bigint) AS bucket,
        |         count(*) AS bucket_n
        |  FROM orders GROUP BY 1
        |)
        |SELECT o.o_orderpriority AS o_orderpriority,
        |       count(*) AS n_orders,
        |       cast(sum(b.bucket_n) AS bigint) AS sum_bucket_n
        |FROM orders o JOIN buckets b
        |  ON cast(floor(o.o_totalprice / 50000) AS bigint) = b.bucket
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val bucketExpr = floor(col("o_totalprice") / 50000)
      val buckets = orders.groupBy(bucketExpr.as("bucket")).agg(count(lit(1)).as("bucket_n"))
      orders.join(broadcast(buckets), bucketExpr === col("bucket"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("bucket_n")).as("sum_bucket_n"))
        .orderBy(col("o_orderpriority"))
    },

    // A3 group-by max/min over a mid-cardinality key.
    Q("q_agg_minmax_by_supplier",
      """SELECT l_suppkey,
        |       round(max(l_extendedprice), 2) AS max_price,
        |       round(min(l_extendedprice), 2) AS min_price,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(
          round(max(col("l_extendedprice")), 2).as("max_price"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_suppkey"))
    },

    // A5 pivot (reference: confusion-matrix pivot,
    // src/random_forest.py:174-183).
    Q("q_agg_pivot_returnflag",
      """SELECT l_linestatus,
        |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_linestatus"))
    },

    // Count-min sketch: depth-4 × width-512 counter grid over
    // l_partkey, point-estimated for a probe set and compared to the
    // exact counts. The md5 hash family replays in DuckDB, so the
    // sketch CELLS are hash-checked — not just an error-bound boolean.
    Q("q_agg_cms_partkey",
      """WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (SELECT l_partkey, j,
        |                 ('0x' || substr(md5(l_partkey::VARCHAR), 1 + 8 * j, 8))::BIGINT % 512 AS bucket
        |          FROM lineitem CROSS JOIN js),
        |sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 200 = 7),
        |pc AS (SELECT l_partkey, j,
        |              ('0x' || substr(md5(l_partkey::VARCHAR), 1 + 8 * j, 8))::BIGINT % 512 AS bucket
        |       FROM probes CROSS JOIN js),
        |est AS (SELECT pc.l_partkey, min(coalesce(s.cnt, 0)) AS est
        |        FROM pc LEFT JOIN sketch s ON pc.j = s.j AND pc.bucket = s.bucket GROUP BY 1),
        |ex AS (SELECT l_partkey, count(*) AS exact FROM lineitem
        |       WHERE l_partkey % 200 = 7 GROUP BY 1)
        |SELECT e.l_partkey, ex.exact, e.est
        |FROM est e JOIN ex ON e.l_partkey = ex.l_partkey
        |ORDER BY e.l_partkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val sketch = CountMinSketch.build(li, "l_partkey", depth = 4, width = 512)
      val probes = li.filter(col("l_partkey") % 200 === 7).select(col("l_partkey")).distinct()
      val exact = li.filter(col("l_partkey") % 200 === 7)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("exact"))
      CountMinSketch.pointEstimate(sketch, probes, "l_partkey", depth = 4, width = 512)
        .join(exact, "l_partkey")
        .select(col("l_partkey"), col("exact"), col("est"))
        .orderBy(col("l_partkey"))
    },

    // A6 floor-bucketed histogram (reference: probability buckets,
    // src/random_forest.py:165-169).
    Q("q_agg_histogram_discount",
      """SELECT cast(floor(l_discount * 20) AS bigint) AS bucket,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_discount") * 20).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("bucket"))
    },

    // U1 positional union of overlapping year slices + P6 distinct
    // (reference unions per-year frames then dedups,
    // src/preprocess.py:247-254).
    Q("q_union_distinct_years",
      """WITH u AS (
        |  SELECT o_orderkey, cast(year(o_orderdate) AS int) AS o_year
        |  FROM orders WHERE year(o_orderdate) <= 1998
        |  UNION ALL
        |  SELECT o_orderkey, cast(year(o_orderdate) AS int) AS o_year
        |  FROM orders WHERE year(o_orderdate) >= 1998
        |)
        |SELECT o_year, count(*) AS n_orders
        |FROM (SELECT DISTINCT o_orderkey, o_year FROM u)
        |GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val a = o.filter(col("o_year") <= 1998)
      val b = o.filter(col("o_year") >= 1998)
      a.union(b).distinct()
        .groupBy(col("o_year")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_year"))
    },

    // ROLLUP hierarchy totals (subtotal + grand-total rows in one pass —
    // Catalyst plans one Expand + one aggregation, not three scans).
    // Subtotal rows are labeled via grouping(), not coalesce: coalesce
    // would conflate a genuine NULL key with the subtotal marker.
    Q("q_agg_rollup_revenue",
      """SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        |       CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        |       round(sum(l_extendedprice), 2) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        // grouping() resolves only inside the rollup's aggregate list,
        // not in a downstream projection
        .agg(
          when(grouping(col("l_returnflag")) === 1, lit("ALL"))
            .otherwise(col("l_returnflag")).as("rflag"),
          when(grouping(col("l_linestatus")) === 1, lit("ALL"))
            .otherwise(col("l_linestatus")).as("lstatus"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(col("rflag"), col("lstatus"), col("revenue"), col("n_rows"))
        .orderBy(col("rflag"), col("lstatus"))
    },

    // Exact interpolated percentiles per group. Exact percentile sorts
    // values per group — fine for bounded group cardinality; an unbounded
    // 100 TB rollout would switch to approx_percentile (t-digest sketch,
    // constant memory), which no longer hash-matches an exact oracle.
    Q("q_agg_percentiles_price",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("l_extendedprice"), lit(0.50)), 4).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.75)), 4).as("p75"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // Distinct aggregates (two distinct columns → Expand-based plan with
    // partial aggregation per distinct group).
    Q("q_agg_count_distinct",
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // Quantile discretization on exact percentiles (QuantileDiscretizer
    // without the unreplayable sketch): quartile-bin order prices, roll
    // up per bin. The oracle recomputes the boundaries with
    // quantile_cont and the same strict-comparison assignment.
    Q("q_feature_quantile_bins",
      """WITH q AS (
        |  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |         quantile_cont(o_totalprice, 0.50) AS q2,
        |         quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders)
        |SELECT (CASE WHEN o_totalprice > q1 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > q2 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > q3 THEN 1 ELSE 0 END) AS bin,
        |       count(*) AS n_orders,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price
        |FROM orders CROSS JOIN q
        |GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val bs = QuantileBinning.bins(orders, "o_totalprice", numBins = 4)
      orders
        .groupBy(QuantileBinning.assignBin(col("o_totalprice"), bs).as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("bin"))
    },

    // Range join (no native Spark support — a naive BETWEEN join plans
    // as a nested-loop cartesian): each point is a one-point interval
    // for IntervalJoin.overlap, so it bucket-equi-joins the intervals
    // overlapping its bucket, exact BETWEEN filters after. Oracle is the
    // plain BETWEEN join.
    Q("q_join_range_bucketed",
      """WITH pts AS (
        |  SELECT o_orderkey % 50000 AS p, o_orderkey FROM orders),
        |iv AS (
        |  SELECT s_suppkey, (s_suppkey * 97) % 50000 AS lo,
        |         (s_suppkey * 97) % 50000 + s_suppkey % 400 AS hi
        |  FROM supplier)
        |SELECT s_suppkey, count(*) AS n_pts,
        |       cast(min(o_orderkey) AS bigint) AS min_key,
        |       cast(max(o_orderkey) AS bigint) AS max_key
        |FROM pts JOIN iv ON p BETWEEN lo AND hi
        |GROUP BY 1 ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "orders")
        .select(pmod(col("o_orderkey"), lit(50000)).as("p"), col("o_orderkey"))
      val iv = t(s, dir, "supplier").select(
        col("s_suppkey"),
        pmod(col("s_suppkey") * 97, lit(50000)).as("lo"),
        (pmod(col("s_suppkey") * 97, lit(50000)) + pmod(col("s_suppkey"), lit(400))).as("hi"))
      // each point is the one-point interval [p, p]
      IntervalJoin.overlap(pts, iv, "p", "p", "lo", "hi", bucketUs = 256L)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_pts"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("s_suppkey"))
    },

    // Sketch aggregates — the 100 TB path for distinct counts and
    // quantiles (HyperLogLog++ and an approximate-quantile sketch both
    // merge associatively across partitions with constant state; exact
    // distinct/percentile shuffle every value). Sketch values aren't
    // replayable in another engine, so the query emits ASSERTIONS about
    // them — booleans comparing each sketch against the exact answer
    // computed in the same pass — plus the exact values; the oracle
    // computes the exact side and literal `true`s, so a sketch drifting
    // out of tolerance flips a boolean and fails the hash gate. Both
    // sketches are deterministic for fixed input (hash-based,
    // merge-order-independent), making the booleans stable.
    Q("q_agg_sketches",
      """SELECT l_returnflag,
        |       cast(count(DISTINCT l_partkey) AS bigint) AS exact_parts,
        |       round(cast(quantile_cont(l_extendedprice, 0.5) AS double), 4) AS exact_median,
        |       true AS hll_ok, true AS median_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_acd"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_median"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("_apx_median"))
        .select(
          col("l_returnflag"), col("exact_parts"), col("exact_median"),
          (abs(col("_acd") - col("exact_parts")) <=
            col("exact_parts") * 0.06).as("hll_ok"), // 3× the 2% rsd
          (abs(col("_apx_median") - col("exact_median")) <=
            col("exact_median") * 0.01).as("median_ok"))
        .orderBy(col("l_returnflag"))
    },

    // INTERSECT / EXCEPT set semantics (absent from the reference, which
    // only unions — SURVEY §2.7): customers ordering in both/only-one of
    // two years. Catalyst plans both as aggregated semi/anti joins.
    Q("q_setop_intersect_except",
      """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1997),
        |y98 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE year(o_orderdate) = 1998),
        |both_years AS (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98),
        |only_97 AS (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
        |SELECT 'both' AS cohort, count(*) AS n_cust,
        |       cast(min(o_custkey) AS bigint) AS min_cust
        |FROM both_years
        |UNION ALL
        |SELECT 'only_1997' AS cohort, count(*) AS n_cust,
        |       cast(min(o_custkey) AS bigint) AS min_cust
        |FROM only_97
        |ORDER BY cohort""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      val y97 = o.filter(col("y") === 1997).select("o_custkey").distinct()
      val y98 = o.filter(col("y") === 1998).select("o_custkey").distinct()
      val both = y97.intersect(y98)
        .agg(count(lit(1)).as("n_cust"), min(col("o_custkey")).as("min_cust"))
        .select(lit("both").as("cohort"), col("n_cust"), col("min_cust"))
      val only97 = y97.except(y98)
        .agg(count(lit(1)).as("n_cust"), min(col("o_custkey")).as("min_cust"))
        .select(lit("only_1997").as("cohort"), col("n_cust"), col("min_cust"))
      both.unionByName(only97).orderBy(col("cohort"))
    },

    // Skew-salted fact⋈dim join (operators/SaltedJoin): row-identical to
    // the plain join — the oracle IS the plain join — with the salt
    // count derived from the observed key histogram (a tiny per-salt row
    // budget so the test SF actually spreads over >1 sub-key; production
    // uses the reducer-sized default).
    Q("q_join_salted_revenue",
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice), 2) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val fact = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
      SaltedJoin.inner(
          fact,
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          leftKey = "l_orderkey", rightKey = "o_orderkey",
          nSalts = SaltedJoin.deriveSalts(fact, "l_orderkey", rowsPerSalt = 2L, maxSalts = 8))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority"))
    },

    // The plain-SQL front door: Tables.registerAll + ONE SQL text run
    // verbatim by BOTH engines (spark.sql and the DuckDB oracle) — a
    // user who only speaks SQL strings gets the full engine (views,
    // multi-way joins, Catalyst planning) with no DataFrame code. The
    // shared text is the strongest cross-engine check in the suite: any
    // divergence in parsing or semantics on this dialect subset breaks
    // the hash.
    {
      val sharedSql =
        """SELECT r_name,
          |       cast(count(DISTINCT c_custkey) AS int) AS n_customers,
          |       cast(count(*) AS int) AS n_orders,
          |       round(sum(o_totalprice), 2) AS total_price
          |FROM region
          |JOIN nation ON n_regionkey = r_regionkey
          |JOIN customer ON c_nationkey = n_nationkey
          |JOIN orders ON o_custkey = c_custkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin
      Q("q_sql_frontdoor", sharedSql) { (s, dir) =>
        graft.Tables.registerAll(s, dir)
        s.sql(sharedSql)
      }
    },

    // The SQL front door, window + join half: the other query shape a
    // SQL-only user pastes daily — a multi-way join feeding a
    // partitioned window rank with a top-k subquery filter. Same
    // discipline as q_sql_frontdoor: ONE SQL text runs verbatim on both
    // engines (rk cast to int because DuckDB's row_number is BIGINT
    // while Spark's is int — the one dialect seam, pinned by the cast).
    {
      val sharedSql =
        """SELECT n_name, o_orderkey, total_price, cast(rk AS int) AS rk
          |FROM (
          |  SELECT n_name, o_orderkey,
          |         round(o_totalprice, 2) AS total_price,
          |         row_number() OVER (PARTITION BY n_name
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
          |  FROM orders
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |) ranked
          |WHERE rk <= 3
          |ORDER BY n_name, rk""".stripMargin
      Q("q_sql_frontdoor_window", sharedSql) { (s, dir) =>
        graft.Tables.registerAll(s, dir)
        s.sql(sharedSql)
      }
    },

    // Join-key skew audit: top heavy hitters with share + cumulative
    // share — the pre-join diagnostic feeding SaltedJoin.deriveSalts.
    Q("q_diag_heavy_hitters",
      """WITH c AS (SELECT cast(user_id AS varchar) AS key, cast(count(*) AS bigint) AS cnt
        |           FROM events GROUP BY 1),
        |tot AS (SELECT cast(sum(cnt) AS bigint) AS total FROM c),
        |top AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rk
        |        FROM c QUALIFY rk <= 10),
        |sh AS (SELECT rk, key, cnt,
        |              cast(cnt AS double) / cast(total AS double) AS share
        |       FROM top CROSS JOIN tot)
        |SELECT cast(rk AS int) AS rk, key, cnt, round(share, 6) AS share,
        |       round(sum(share) OVER (ORDER BY rk
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_share
        |FROM sh ORDER BY rk""".stripMargin) { (s, dir) =>
      graft.operators.SkewDiagnostics.heavyHitters(t(s, dir, "events"), "user_id", k = 10)
        .orderBy(col("rk"))
    },

    // Bloom-filter runtime pruning: the filter is built on the urgent
    // orders' keys and every distinct lineitem key is probed. The md5
    // hash family and 32-bits-per-word bitmap replay in DuckDB, so the
    // stats row is sensitive to EVERY bit of the filter: a single wrong
    // word flips n_candidate/n_false_pos. n_false_neg must be 0 by
    // construction.
    Q("q_join_bloom_prune",
      """WITH js AS (SELECT unnest([0, 1, 2]) AS j),
        |dim AS (SELECT DISTINCT o_orderkey AS key FROM orders
        |        WHERE o_orderpriority = '1-URGENT'),
        |bpos AS (SELECT key, (('0x' || substr(md5(key::VARCHAR), 1 + 8 * j, 8))::BIGINT % 16384) AS pos
        |         FROM dim CROSS JOIN js),
        |words AS (SELECT pos // 32 AS widx, bit_or((1::BIGINT) << (pos % 32)::INT) AS word
        |          FROM bpos GROUP BY 1),
        |probes AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
        |ppos AS (SELECT key, (('0x' || substr(md5(key::VARCHAR), 1 + 8 * j, 8))::BIGINT % 16384) AS pos
        |         FROM probes CROSS JOIN js),
        |hits AS (SELECT p.key,
        |                count(*) = sum(CASE WHEN ((coalesce(w.word, 0) >> (p.pos % 32)::INT) & 1) = 1
        |                               THEN 1 ELSE 0 END) AS candidate
        |         FROM ppos p LEFT JOIN words w ON p.pos // 32 = w.widx GROUP BY p.key),
        |lab AS (SELECT h.key, h.candidate, d.key IS NOT NULL AS member
        |        FROM hits h LEFT JOIN dim d ON h.key = d.key)
        |SELECT cast(count(*) AS BIGINT) AS n_probe,
        |       cast(count(*) FILTER (WHERE member) AS BIGINT) AS n_member,
        |       cast(count(*) FILTER (WHERE candidate) AS BIGINT) AS n_candidate,
        |       cast(count(*) FILTER (WHERE candidate AND NOT member) AS BIGINT) AS n_false_pos,
        |       cast(count(*) FILTER (WHERE member AND NOT candidate) AS BIGINT) AS n_false_neg
        |FROM lab""".stripMargin) { (s, dir) =>
      import graft.operators.BloomFilter
      val dim = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("key")).distinct()
      val probes = t(s, dir, "lineitem").select(col("l_orderkey").as("key")).distinct()
      val bloom = BloomFilter.build(dim, "key", k = 3, mBits = 16384)
      BloomFilter.mightContain(bloom, probes, "key", k = 3, mBits = 16384)
        .join(dim.withColumn("member", lit(true)), Seq("key"), "left")
        .select(col("candidate"), coalesce(col("member"), lit(false)).as("member"))
        .agg(count(lit(1)).as("n_probe"),
          sum(when(col("member"), 1L).otherwise(0L)).as("n_member"),
          sum(when(col("candidate"), 1L).otherwise(0L)).as("n_candidate"),
          sum(when(col("candidate") && !col("member"), 1L).otherwise(0L)).as("n_false_pos"),
          sum(when(col("member") && !col("candidate"), 1L).otherwise(0L)).as("n_false_neg"))
    },

    // Integer PageRank over the customer↔supplier trade graph, 3 damped
    // iterations in exact scaled-integer arithmetic (floor-divided
    // contributions, d = 85/100, scale 10^6) — every iteration is
    // bit-identical across engines, so the CENTRALITY VALUES are
    // hash-checked, not just the ranking.
    Q("q_graph_pagerank",
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT 'c:' || c AS src, 's:' || sup AS dst FROM e0
        |          UNION ALL SELECT 's:' || sup, 'c:' || c FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r1 AS (SELECT n.node, 150000 + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN (SELECT node, 1000000 AS rank FROM nodes) r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |r2 AS (SELECT n.node, 150000 + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r1 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |r3 AS (SELECT n.node, 150000 + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r2 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node))
        |SELECT node, cast(rank AS BIGINT) AS rank,
        |       cast(row_number() OVER (ORDER BY rank DESC, node) AS int) AS rk
        |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val e0 = tradePairs(s, dir)
      // symmetrize in-row (explode), not via union: union would scan the
      // pair frame twice and double the partition count of the edge
      // frame PageRank persists (guide §2.4)
      val edges = e0.select(explode(array(
          struct(concat(lit("c:"), col("c")).as("src"),
            concat(lit("s:"), col("sup")).as("dst")),
          struct(concat(lit("s:"), col("sup")).as("src"),
            concat(lit("c:"), col("c")).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rank").desc, col("node").asc)
      graft.operators.PageRank.ranks(edges, iterations = 3)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .withColumn("rk", row_number().over(w))
        .select(col("node"), col("rank"), col("rk"))
        .orderBy(col("rk"))
    },

    // Strict random-surfer PageRank on the DIRECTED customer→supplier
    // graph: every supplier is a sink, so the dangling-mass
    // redistribution (sink rank summed to one scalar, floor-divided by
    // N, broadcast into the update) carries real weight here — with
    // absorbing sinks the suppliers would drain the whole graph. Same
    // exact-integer discipline, so values hash-match per iteration.
    Q("q_graph_pagerank_dangling",
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT 'c:' || c AS src, 's:' || sup AS dst FROM e0),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT cast(count(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, cast(1000000 AS BIGINT) AS rank FROM nodes),
        |d1 AS (SELECT coalesce(sum(r.rank), 0) // (SELECT n FROM nn) AS sh
        |       FROM r0 r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        |r1 AS (SELECT n.node, 150000 + (85 * (coalesce(s.m, 0) + (SELECT sh FROM d1))) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r0 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |d2 AS (SELECT coalesce(sum(r.rank), 0) // (SELECT n FROM nn) AS sh
        |       FROM r1 r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        |r2 AS (SELECT n.node, 150000 + (85 * (coalesce(s.m, 0) + (SELECT sh FROM d2))) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r1 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |d3 AS (SELECT coalesce(sum(r.rank), 0) // (SELECT n FROM nn) AS sh
        |       FROM r2 r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
        |r3 AS (SELECT n.node, 150000 + (85 * (coalesce(s.m, 0) + (SELECT sh FROM d3))) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r2 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node))
        |SELECT node, cast(rank AS BIGINT) AS rank,
        |       cast(row_number() OVER (ORDER BY rank DESC, node) AS int) AS rk
        |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val e0 = tradePairs(s, dir)
      val edges = e0.select(concat(lit("c:"), col("c")).as("src"),
        concat(lit("s:"), col("sup")).as("dst"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rank").desc, col("node").asc)
      graft.operators.PageRank.ranks(edges, iterations = 3, redistributeDangling = true)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .withColumn("rk", row_number().over(w))
        .select(col("node"), col("rank"), col("rk"))
        .orderBy(col("rk"))
    },

    // Personalized PageRank: restart mass lands only on three seed
    // customers, so rank = proximity to the seed set ("more like
    // these" expansion). Same exact-integer unroll as q_graph_pagerank;
    // the seed flag rides the node frame, costing no extra join per
    // iteration.
    Q("q_graph_ppr",
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT 'c:' || c AS src, 's:' || sup AS dst FROM e0
        |          UNION ALL SELECT 's:' || sup, 'c:' || c FROM e0),
        |nodes AS (SELECT node, node IN ('c:1', 'c:7', 'c:13') AS seed
        |          FROM (SELECT DISTINCT src AS node FROM edges)),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, CASE WHEN seed THEN cast(1000000 AS BIGINT) ELSE 0 END AS rank
        |       FROM nodes),
        |r1 AS (SELECT n.node, (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |                      + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r0 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |r2 AS (SELECT n.node, (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |                      + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r1 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node)),
        |r3 AS (SELECT n.node, (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |                      + (85 * coalesce(s.m, 0)) // 100 AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
        |         FROM edges e JOIN r2 r ON e.src = r.node
        |         JOIN deg d ON e.src = d.src GROUP BY 1) s USING (node))
        |SELECT node, cast(rank AS BIGINT) AS rank,
        |       cast(row_number() OVER (ORDER BY rank DESC, node) AS int) AS rk
        |FROM r3 WHERE rank > 0 ORDER BY rank DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val e0 = tradePairs(s, dir)
      // in-row symmetrize — see q_graph_pagerank
      val edges = e0.select(explode(array(
          struct(concat(lit("c:"), col("c")).as("src"),
            concat(lit("s:"), col("sup")).as("dst")),
          struct(concat(lit("s:"), col("sup")).as("src"),
            concat(lit("c:"), col("c")).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row("c:1"),
          org.apache.spark.sql.Row("c:7"), org.apache.spark.sql.Row("c:13")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType))))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rank").desc, col("node").asc)
      graft.operators.PageRank.personalizedRanks(edges, seeds, iterations = 3)
        .filter(col("rank") > 0)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .withColumn("rk", row_number().over(w))
        .select(col("node"), col("rank"), col("rk"))
        .orderBy(col("rk"))
    },

    // Bounded-round k-core peel over the part co-occurrence graph
    // (parts sharing ≥2 order baskets): three degree-threshold rounds,
    // each replayed relationally — the graph-density filter that
    // separates genuinely connected communities from weakly-glued
    // fringe (635/167/59 parts peel in rounds 1-3 at sf0.01).
    Q("q_graph_kcore",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pr AS (SELECT a.p AS a, b.p AS b FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |ed0 AS (SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr),
        |n0 AS (SELECT DISTINCT src AS node FROM ed0),
        |d1 AS (SELECT n.node, coalesce(c.d, 0) AS deg FROM n0 n LEFT JOIN
        |       (SELECT src, cast(count(*) AS bigint) AS d FROM ed0 GROUP BY 1) c
        |       ON n.node = c.src),
        |rm1 AS (SELECT node FROM d1 WHERE deg < 3),
        |n1 AS (SELECT node FROM d1 WHERE deg >= 3),
        |ed1 AS (SELECT e.src, e.dst FROM ed0 e JOIN n1 x ON e.src = x.node
        |        JOIN n1 y ON e.dst = y.node),
        |d2 AS (SELECT n.node, coalesce(c.d, 0) AS deg FROM n1 n LEFT JOIN
        |       (SELECT src, cast(count(*) AS bigint) AS d FROM ed1 GROUP BY 1) c
        |       ON n.node = c.src),
        |rm2 AS (SELECT node FROM d2 WHERE deg < 3),
        |n2 AS (SELECT node FROM d2 WHERE deg >= 3),
        |ed2 AS (SELECT e.src, e.dst FROM ed1 e JOIN n2 x ON e.src = x.node
        |        JOIN n2 y ON e.dst = y.node),
        |d3 AS (SELECT n.node, coalesce(c.d, 0) AS deg FROM n2 n LEFT JOIN
        |       (SELECT src, cast(count(*) AS bigint) AS d FROM ed2 GROUP BY 1) c
        |       ON n.node = c.src),
        |rm3 AS (SELECT node FROM d3 WHERE deg < 3),
        |n3 AS (SELECT node FROM d3 WHERE deg >= 3),
        |ed3 AS (SELECT e.src, e.dst FROM ed2 e JOIN n3 x ON e.src = x.node
        |        JOIN n3 y ON e.dst = y.node),
        |df AS (SELECT n.node, coalesce(c.d, 0) AS deg FROM n3 n LEFT JOIN
        |       (SELECT src, cast(count(*) AS bigint) AS d FROM ed3 GROUP BY 1) c
        |       ON n.node = c.src)
        |SELECT node, removed_round, deg FROM (
        |  SELECT node, 1 AS removed_round, cast(0 AS bigint) AS deg FROM rm1
        |  UNION ALL SELECT node, 2, cast(0 AS bigint) FROM rm2
        |  UNION ALL SELECT node, 3, cast(0 AS bigint) FROM rm3
        |  UNION ALL SELECT node, 0, deg FROM df)
        |ORDER BY node""".stripMargin) { (s, dir) =>
      val pr = partCoPairs(s, dir).filter(col("cnt") >= 2)
        .select(col("u").as("a"), col("v").as("b"))
      graft.operators.KCore.peel(pr, k = 3, rounds = 3)
    },

    // Market-basket association rules over order baskets: top pairs by
    // lift with exact integer support counts; confidence and lift
    // divide those longs once at the end.
    Q("q_basket_rules",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT cast(count(DISTINCT o) AS bigint) AS n_baskets FROM li),
        |ci AS (SELECT p, cast(count(*) AS bigint) AS c FROM li GROUP BY 1),
        |pairs AS (SELECT a.p AS pa, b.p AS pb, cast(count(*) AS bigint) AS c_ab
        |          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |          GROUP BY 1, 2 HAVING count(*) >= 3),
        |scored AS (
        |  SELECT pa AS item_a, pb AS item_b, c_ab,
        |         round(c_ab::DOUBLE / ca.c::DOUBLE, 6) AS confidence,
        |         round(c_ab::DOUBLE * n.n_baskets::DOUBLE / (ca.c::DOUBLE * cb.c::DOUBLE), 6) AS lift
        |  FROM pairs JOIN ci ca ON pairs.pa = ca.p JOIN ci cb ON pairs.pb = cb.p CROSS JOIN n)
        |SELECT cast(row_number() OVER (ORDER BY lift DESC, item_a, item_b) AS int) AS rk,
        |       item_a, item_b, c_ab, confidence, lift
        |FROM scored ORDER BY lift DESC, item_a, item_b LIMIT 20""".stripMargin) { (s, dir) =>
      graft.operators.AssociationRules.topLift(t(s, dir, "lineitem"),
          basketCol = "l_orderkey", itemCol = "l_partkey", k = 20, minSupport = 3L)
        .orderBy(col("rk"))
    },

    // Incremental aggregate maintenance: Spark folds a pre-1997 base
    // view and a 1997+ delta batch together with one full-outer merge;
    // the ORACLE RECOMPUTES FROM SCRATCH — the hash match is the proof
    // that incremental refresh ≡ full rebuild. Cents keep sums exact.
    Q("q_agg_incremental_view",
      """SELECT o_custkey,
        |       cast(count(*) AS bigint) AS cnt,
        |       cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS sm,
        |       cast(min(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS mn,
        |       cast(max(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS mx
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import graft.operators.IncrementalAgg
      val cents = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = IncrementalAgg.partial(
        cents.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        "o_custkey", "cents")
      val delta = IncrementalAgg.partial(
        cents.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")),
        "o_custkey", "cents")
      IncrementalAgg.merge(base, delta, "o_custkey").orderBy(col("o_custkey"))
    },

    // X169 delete-aware view refresh: base partials minus a delete
    // batch — count/sum retract arithmetically, min/max recompute ONLY
    // for keys whose deleted extremum touches the stored one. The
    // oracle recomputes the post-delete state from scratch; the hash
    // match proves retract ≡ rebuild.
    Q("q_agg_incremental_retract",
      """SELECT o_custkey,
        |       cast(count(*) AS bigint) AS cnt,
        |       cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS sm,
        |       cast(min(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS mn,
        |       cast(max(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS mx
        |FROM orders WHERE o_orderkey % 7 != 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import graft.operators.IncrementalAgg
      val cents = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = IncrementalAgg.partial(cents, "o_custkey", "cents")
      val deletes = cents.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      val remaining = cents.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      IncrementalAgg.retract(base, deletes, remaining, "o_custkey", "cents")
        .orderBy(col("o_custkey"))
    },

    // X168 data-skipping audit: the same range predicate against two
    // file layouts — key-ordered files (stats straddle everything,
    // nothing skips) vs value-clustered files (tight stats, most files
    // skip) — the re-cluster payoff quantified per file.
    Q("q_diag_manifest_prune",
      """WITH a AS (SELECT 'by_key' AS layout, doc_id // 50 AS file_id, n_chars FROM documents
        |           UNION ALL
        |           SELECT 'by_value', n_chars // 60, n_chars FROM documents)
        |SELECT layout, cast(file_id AS bigint) AS file_id,
        |       cast(count(*) AS bigint) AS n_rows,
        |       cast(min(n_chars) AS bigint) AS v_min,
        |       cast(max(n_chars) AS bigint) AS v_max,
        |       NOT (max(n_chars) < 200 OR min(n_chars) > 400) AS scanned,
        |       cast(count(*) FILTER (WHERE n_chars BETWEEN 200 AND 400) AS bigint) AS n_hits
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.operators.ManifestPrune
      val docs = t(s, dir, "documents")
      ManifestPrune.rangeAudit(docs, expr("doc_id div 50"), "n_chars", 200, 400)
        .withColumn("layout", lit("by_key"))
        .unionByName(
          ManifestPrune.rangeAudit(docs, expr("n_chars div 60"), "n_chars", 200, 400)
            .withColumn("layout", lit("by_value")))
        .select(col("layout"), col("file_id").cast("long").as("file_id"),
          col("n_rows"), col("v_min"), col("v_max"), col("scanned"), col("n_hits"))
        .orderBy(col("layout"), col("file_id"))
    },

    // Triangle listing on the part co-occurrence graph (support >= 2):
    // ordered edges u < v make each triangle appear exactly once as
    // (a,b)(b,c)(a,c) — the full triangle list is hash-checked.
    Q("q_graph_triangles",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT a, b, c FROM tri ORDER BY a, b, c""".stripMargin) { (s, dir) =>
      val e = partCoPairs(s, dir).filter(col("cnt") >= 2).select(col("u"), col("v"))
      graft.operators.Triangles.listTriangles(e).orderBy(col("a"), col("b"), col("c"))
    },

    // Per-node local clustering coefficient over the same co-occurrence
    // graph: 2·tri/(deg·(deg−1)) — the community-vs-spam complement to
    // k-core (high degree + near-zero coefficient = link-farm shape).
    // Counts stay exact longs; one float ratio at the end.
    Q("q_graph_clustering",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tv AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, cast(count(*) AS bigint) AS tri FROM tv GROUP BY 1),
        |nd AS (SELECT node, cast(count(*) AS bigint) AS deg FROM
        |       (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1)
        |SELECT n.node, n.deg, coalesce(t.tri, 0) AS tri,
        |       CASE WHEN n.deg >= 2
        |            THEN round((2.0 * coalesce(t.tri, 0)) / (n.deg * (n.deg - 1)), 6)
        |            ELSE 0.0 END AS coeff
        |FROM nd n LEFT JOIN tc t USING (node) ORDER BY node""".stripMargin) { (s, dir) =>
      // localCheckpoint: nodeClustering scans the edge list four times
      // (degree union + three wedge-join sides) — checkpointing the
      // two-exchange pair pipeline pays it once (guide §2.4)
      val e = partCoPairs(s, dir).filter(col("cnt") >= 2).select(col("u"), col("v"))
        .localCheckpoint(true)
      graft.operators.Triangles.nodeClustering(e)
    },

    // X170 common-neighbor link prediction over the same co-occurrence
    // graph: non-adjacent pairs ranked by neighborhood Jaccard, wedge
    // candidates only (never all pairs), super-hub centers capped at
    // degree 10 — the df-cap discipline applied to graphs.
    Q("q_graph_link_prediction",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT a AS node, cast(count(*) AS bigint) AS deg FROM e GROUP BY 1),
        |ok AS (SELECT node FROM deg WHERE deg <= 10),
        |w AS (SELECT e1.a AS x, e2.b AS z
        |      FROM e e1 JOIN ok ON e1.b = ok.node JOIN e e2 ON e1.b = e2.a
        |      WHERE e1.a < e2.b),
        |cn AS (SELECT x, z, cast(count(*) AS bigint) AS cn FROM w GROUP BY 1, 2),
        |cand AS (SELECT cn.x, cn.z, cn.cn, da.deg AS deg_src, db.deg AS deg_dst
        |         FROM cn JOIN deg da ON cn.x = da.node JOIN deg db ON cn.z = db.node
        |         WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = cn.x AND e0.v = cn.z)),
        |scored AS (SELECT x, z, cn, deg_src, deg_dst,
        |                  round(cn::DOUBLE / (deg_src + deg_dst - cn)::DOUBLE, 6) AS jaccard
        |           FROM cand)
        |SELECT x AS src, z AS dst, cn, deg_src, deg_dst, jaccard,
        |       cast(row_number() OVER (ORDER BY jaccard DESC, x, z) AS int) AS rk
        |FROM scored ORDER BY jaccard DESC, src, dst LIMIT 20""".stripMargin) { (s, dir) =>
      // localCheckpoint: the symmetrized edge list feeds jaccardTopK's
      // degree aggregate, both wedge sides, and the existing-edge
      // anti-join — checkpoint the pair pipeline once (guide §2.4)
      val e0 = partCoPairs(s, dir).filter(col("cnt") >= 2).select(col("u"), col("v"))
        .localCheckpoint(true)
      // in-row symmetrize — see q_graph_pagerank
      val edges = e0.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.LinkPrediction.jaccardTopK(edges, k = 20, maxCenterDegree = 10L)
    },

    // Blocked fuzzy entity resolution: multi-attribute entity strings,
    // a (first-word, size) blocking key, levenshtein <= 2 gate, best
    // match per dirty record — the full match list is hash-checked.
    Q("q_er_match",
      """WITH ent AS (SELECT p_partkey AS id,
        |               p_name || ' ' || p_brand || ' ' || p_type || ' sz' || p_size AS name,
        |               string_split(p_name, ' ')[1] AS blk1, p_size AS blk2
        |             FROM part),
        |dirty AS (SELECT id AS d_id, substr(name, 1, len(name) - 1) AS d_name, blk1, blk2
        |          FROM ent WHERE id % 7 = 3),
        |blocked AS (SELECT d.d_id, d.d_name, c.id AS c_id, c.name AS c_name
        |            FROM dirty d JOIN ent c USING (blk1, blk2)),
        |scored AS (SELECT d_id, c_id, levenshtein(d_name, c_name) AS lev
        |           FROM blocked WHERE levenshtein(d_name, c_name) <= 2),
        |best AS (SELECT d_id, c_id, cast(lev AS int) AS lev,
        |                row_number() OVER (PARTITION BY d_id ORDER BY lev, c_id) AS rn
        |         FROM scored)
        |SELECT d_id, c_id, lev FROM best WHERE rn = 1 ORDER BY d_id""".stripMargin) { (s, dir) =>
      val ent = t(s, dir, "part").select(col("p_partkey").as("id"),
        concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
          concat(lit("sz"), col("p_size"))).as("name"),
        element_at(split(col("p_name"), " "), 1).as("blk1"), col("p_size").as("blk2"))
      val dirty = ent.filter(col("id") % 7 === 3)
        .select(col("id"), expr("substr(name, 1, length(name) - 1)").as("name"),
          col("blk1"), col("blk2"))
      graft.operators.EntityResolution.resolve(dirty, ent,
          blockCols = Seq("blk1", "blk2"), maxDistance = 2)
        .orderBy(col("d_id"))
    },

    // One-pass table profile: per-column null/distinct counts and
    // typed min/max rendered to strings — the ingest data-quality
    // snapshot.
    Q("q_diag_profile",
      """WITH p AS (
        |  SELECT 1 AS ord, 'o_orderkey' AS "column", count(*) AS n_rows,
        |         count(*) - count(o_orderkey) AS n_null, count(DISTINCT o_orderkey) AS n_distinct,
        |         min(o_orderkey)::VARCHAR AS min_s, max(o_orderkey)::VARCHAR AS max_s FROM orders
        |  UNION ALL
        |  SELECT 2, 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |         count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 3, 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |         count(DISTINCT o_totalprice), min(o_totalprice)::VARCHAR, max(o_totalprice)::VARCHAR FROM orders
        |  UNION ALL
        |  SELECT 4, 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |         count(DISTINCT o_orderdate), min(o_orderdate)::VARCHAR, max(o_orderdate)::VARCHAR FROM orders)
        |SELECT cast(ord AS int) AS ord, "column", cast(n_rows AS bigint) AS n_rows,
        |       cast(n_null AS bigint) AS n_null, cast(n_distinct AS bigint) AS n_distinct,
        |       min_s, max_s
        |FROM p ORDER BY ord""".stripMargin) { (s, dir) =>
      graft.operators.TableProfiler.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"))
        .orderBy(col("ord"))
    },

    // Sketch-based join-size estimation (CMS inner product): the
    // planner-side estimate vs the true join cardinality, neither
    // table ever joined to the other to produce the estimate.
    Q("q_diag_join_size",
      """WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |ca AS (SELECT j, ('0x' || substr(md5(l_orderkey::VARCHAR), 1 + 8 * j, 8))::BIGINT % 65536 AS bucket,
        |              count(*) AS cnt
        |       FROM lineitem CROSS JOIN js GROUP BY 1, 2),
        |cb AS (SELECT j, ('0x' || substr(md5(o_orderkey::VARCHAR), 1 + 8 * j, 8))::BIGINT % 65536 AS bucket,
        |              count(*) AS cnt
        |       FROM orders CROSS JOIN js GROUP BY 1, 2),
        |ip AS (SELECT ca.j, cast(sum(ca.cnt * cb.cnt) AS bigint) AS est
        |       FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket GROUP BY 1),
        |exact AS (SELECT cast(count(*) AS bigint) AS true_size
        |          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT cast(min(est) AS bigint) AS est_join_size, max(true_size) AS true_join_size
        |FROM ip CROSS JOIN exact""".stripMargin) { (s, dir) =>
      import graft.operators.CountMinSketch
      val est = CountMinSketch.innerProduct(
        CountMinSketch.build(t(s, dir, "lineitem"), "l_orderkey", depth = 4, width = 65536),
        CountMinSketch.build(t(s, dir, "orders"), "o_orderkey", depth = 4, width = 65536))
      val exact = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("true_join_size"))
      est.crossJoin(exact)
    },

    // Islands & gaps: contiguous runs of present keys (row_number
    // difference grouping) — the sequence-completeness audit for
    // ingest ids and date spines.
    Q("q_diag_islands",
      """WITH k AS (SELECT DISTINCT o_orderkey AS id FROM orders WHERE o_orderkey % 997 != 3),
        |g AS (SELECT id, id - row_number() OVER (ORDER BY id) AS grp FROM k),
        |isl AS (SELECT min(id) AS island_start, max(id) AS island_end,
        |               cast(count(*) AS bigint) AS n
        |        FROM g GROUP BY grp)
        |SELECT cast(row_number() OVER (ORDER BY island_start) AS int) AS rk,
        |       island_start, island_end, n
        |FROM isl ORDER BY island_start""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      val w2 = org.apache.spark.sql.expressions.Window.orderBy(col("island_start"))
      t(s, dir, "orders").filter(col("o_orderkey") % 997 =!= 3)
        .select(col("o_orderkey").as("id")).distinct()
        .withColumn("grp", col("id") - row_number().over(w))
        .groupBy(col("grp"))
        .agg(min(col("id")).as("island_start"), max(col("id")).as("island_end"),
          count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w2))
        .select(col("rk"), col("island_start"), col("island_end"), col("n"))
        .orderBy(col("island_start"))
    },

    // Referential-integrity audit across every FK edge of the star
    // schema: orphan counts via anti-joins (each one shuffle on the key
    // or a broadcast of the parent's key column) — the standing data-
    // quality gate a lake runs after every ingest batch.
    Q("q_diag_ref_integrity",
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS fk,
        |         (SELECT cast(count(*) AS bigint) FROM lineitem) AS n_rows,
        |         (SELECT cast(count(*) AS bigint) FROM lineitem l
        |          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |          WHERE o.o_orderkey IS NULL) AS n_orphans
        |  UNION ALL SELECT 'lineitem->part',
        |         (SELECT cast(count(*) AS bigint) FROM lineitem),
        |         (SELECT cast(count(*) AS bigint) FROM lineitem l
        |          LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |          WHERE p.p_partkey IS NULL)
        |  UNION ALL SELECT 'lineitem->supplier',
        |         (SELECT cast(count(*) AS bigint) FROM lineitem),
        |         (SELECT cast(count(*) AS bigint) FROM lineitem l
        |          LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |          WHERE s.s_suppkey IS NULL)
        |  UNION ALL SELECT 'orders->customer',
        |         (SELECT cast(count(*) AS bigint) FROM orders),
        |         (SELECT cast(count(*) AS bigint) FROM orders o
        |          LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |          WHERE c.c_custkey IS NULL)
        |  UNION ALL SELECT 'customer->nation',
        |         (SELECT cast(count(*) AS bigint) FROM customer),
        |         (SELECT cast(count(*) AS bigint) FROM customer c
        |          LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |          WHERE n.n_nationkey IS NULL)
        |  UNION ALL SELECT 'nation->region',
        |         (SELECT cast(count(*) AS bigint) FROM nation),
        |         (SELECT cast(count(*) AS bigint) FROM nation n
        |          LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |          WHERE r.r_regionkey IS NULL)
        |) ORDER BY fk""".stripMargin) { (s, dir) =>
      def edge(fk: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String) = {
        val orphans = child.join(parent.select(col(parentKey)).distinct(),
          child(childKey) === col(parentKey), "left_anti")
        child.agg(count(lit(1)).as("n_rows"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(fk).as("fk"), col("n_rows"), col("n_orphans"))
      }
      Seq(
        edge("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        edge("lineitem->part", t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"),
        edge("lineitem->supplier", t(s, dir, "lineitem"), "l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
        edge("orders->customer", t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"),
        edge("customer->nation", t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"),
        edge("nation->region", t(s, dir, "nation"), "n_regionkey", t(s, dir, "region"), "r_regionkey"))
        .reduce(_ unionByName _)
        .orderBy(col("fk"))
    },

    // Benford first-digit audit on order totals: leading-digit shares
    // vs log10(1 + 1/d) — the classic fabricated-data screen. The
    // expectations ride as 6-dp LITERALS (identical doubles on both
    // engines; a live log10 could differ in the last ulp between libm
    // and the JVM); counts stay exact, one ratio per digit.
    Q("q_diag_benford",
      """WITH d AS (SELECT cast(substr(cast(cast(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        |                  AS digit
        |           FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, cast(count(*) AS bigint) AS n FROM d GROUP BY 1),
        |tot AS (SELECT sum(n) AS t FROM c),
        |e(digit, ex) AS (VALUES (1, 0.301030), (2, 0.176091), (3, 0.124939),
        |  (4, 0.096910), (5, 0.079181), (6, 0.066947), (7, 0.057992),
        |  (8, 0.051153), (9, 0.045757))
        |SELECT c.digit, c.n,
        |       round(c.n / cast(t AS DOUBLE), 6) AS share,
        |       round(c.n / cast(t AS DOUBLE) - e.ex, 6) AS dev
        |FROM c JOIN e ON c.digit = e.digit, tot ORDER BY c.digit""".stripMargin) { (s, dir) =>
      val expected = expr("element_at(map(" +
        "1, 0.301030D, 2, 0.176091D, 3, 0.124939D, 4, 0.096910D, 5, 0.079181D, " +
        "6, 0.066947D, 7, 0.057992D, 8, 0.051153D, 9, 0.045757D), digit)")
      val d = t(s, dir, "orders").filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      val c = d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = c.agg(sum(col("n")).as("t"))
      c.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n") / col("t").cast("double"), 6).as("share"),
          round(col("n") / col("t").cast("double") - expected, 6).as("dev"))
        .orderBy(col("digit"))
    },

    // Compaction planning: documents stand in for a file listing (doc_id
    // = file, n_chars = size) and the next-fit prefix-sum sweep assigns
    // them to ~16KB output bins — the distributed small-files remedy
    // (FFD would need sequentially data-dependent bin state no window
    // function can express; next-fit is one prefix sum and ≥ half-full
    // bins when sizes ≤ target).
    Q("q_diag_compaction",
      // every column cast to bigint EXPLICITLY: DuckDB's windowed
      // sum(bigint) yields HUGEINT, so an un-cast `cb // 16384` would
      // emit an int128 bin column — value-identical to Spark's int64
      // but hashed as a different physical type by the driver (the
      // round-11 red row)
      """WITH u AS (SELECT doc_id, cast(n_chars AS bigint) AS sz FROM documents),
        |c AS (SELECT doc_id, sz,
        |             sum(sz) OVER (ORDER BY doc_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               - sz AS cb
        |      FROM u)
        |SELECT cast(cb // 16384 AS bigint) AS bin,
        |       cast(count(*) AS bigint) AS n_units,
        |       cast(sum(sz) AS bigint) AS total_size,
        |       cast(min(doc_id) AS bigint) AS min_id,
        |       cast(max(doc_id) AS bigint) AS max_id
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      graft.operators.CompactionPlan.plan(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        targetSize = 16384L, idCol = "doc_id", sizeCol = "n_chars")
        .select(col("bin").cast("long").as("bin"),
          col("n_units").cast("long").as("n_units"),
          col("total_size").cast("long").as("total_size"),
          col("min_id").cast("long").as("min_id"),
          col("max_id").cast("long").as("max_id"))
        .orderBy(col("bin"))
    },

    // X162 data-contract audit: a 4-expectation suite (null budget,
    // value range, pattern conformance, cardinality cap) evaluated in
    // ONE map-side-combined aggregate pass; every metric is an exact
    // long, so the verdict frame hash-replays.
    Q("q_diag_contract",
      """WITH m AS (SELECT
        |  cast(count(*) AS bigint) AS n_rows,
        |  cast(count(*) FILTER (WHERE o_custkey IS NULL) AS bigint) AS m_null,
        |  cast(count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |         AND (o_totalprice < 0 OR o_totalprice > 600000)) AS bigint) AS m_range,
        |  cast(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
        |         AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS bigint) AS m_regex,
        |  cast(count(DISTINCT o_orderstatus) AS bigint) AS m_card
        |FROM orders)
        |SELECT * FROM (
        |  SELECT 'in_range' AS check_name, 'o_totalprice' AS column_name,
        |         n_rows, m_range AS metric, cast(0 AS bigint) AS bound, m_range <= 0 AS pass
        |  FROM m
        |  UNION ALL
        |  SELECT 'matches_regex', 'o_orderpriority', n_rows, m_regex, 0, m_regex <= 0 FROM m
        |  UNION ALL
        |  SELECT 'max_distinct', 'o_orderstatus', n_rows, m_card, 3, m_card <= 3 FROM m
        |  UNION ALL
        |  SELECT 'not_null', 'o_custkey', n_rows, m_null, 0, m_null <= 0 FROM m)
        |ORDER BY check_name, column_name""".stripMargin) { (s, dir) =>
      import graft.operators.DataContract
      DataContract.audit(t(s, dir, "orders"), Seq(
        DataContract.NotNull("o_custkey"),
        DataContract.InRange("o_totalprice", 0, 600000),
        DataContract.MatchesRegex("o_orderpriority", "^[1-5]-"),
        DataContract.MaxDistinct("o_orderstatus", 3)))
    },

    // X166 consistent-hash shard rebalancing plan: documents on a
    // 4-shard md5 vnode ring, migration matrix for growing to 5 —
    // diagonal rows stay put (≈ 4/5 of keys, the consistent-hashing
    // guarantee, asserted in ShardPlanSpec); ring positions replay in
    // the oracle via the same md5 hash family as the Bloom/CMS queries.
    Q("q_diag_shard_plan",
      """WITH ids AS (SELECT doc_id,
        |                    ('0x' || substr(md5('doc:' || doc_id), 1, 15))::BIGINT AS p
        |             FROM documents),
        |r5 AS (SELECT cast(s.shard AS bigint) AS shard,
        |              ('0x' || substr(md5('vn:' || s.shard || ':' || r.replica), 1, 15))::BIGINT AS pos
        |       FROM (SELECT unnest(generate_series(0, 4)) AS shard) s
        |       CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS replica) r),
        |r4 AS (SELECT * FROM r5 WHERE shard < 4),
        |a4 AS (SELECT i.doc_id,
        |              coalesce(min([r.pos, r.shard]) FILTER (WHERE r.pos >= i.p),
        |                       min([r.pos, r.shard]))[2] AS from_shard
        |       FROM ids i CROSS JOIN r4 r GROUP BY i.doc_id, i.p),
        |a5 AS (SELECT i.doc_id,
        |              coalesce(min([r.pos, r.shard]) FILTER (WHERE r.pos >= i.p),
        |                       min([r.pos, r.shard]))[2] AS to_shard
        |       FROM ids i CROSS JOIN r5 r GROUP BY i.doc_id, i.p)
        |SELECT cast(from_shard AS bigint) AS from_shard,
        |       cast(to_shard AS bigint) AS to_shard,
        |       cast(count(*) AS bigint) AS n_keys
        |FROM a4 JOIN a5 USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.operators.ShardPlan.rebalance(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        nShards = 4, newShards = 5, vnodes = 8)
    },

    // GROUPING SETS with grouping_id: three aggregation granularities
    // in one pass, null group keys disambiguated by the grouping id.
    Q("q_agg_grouping_sets",
      """SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
        |       coalesce(l_linestatus, '<all>') AS l_linestatus,
        |       cast(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS int) AS gid,
        |       cast(sum(cast(floor(l_quantity * 100) AS bigint)) AS bigint) AS qty_cents,
        |       cast(count(*) AS bigint) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(floor(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("gid"), col("qty_cents"), col("n"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    },

    // Unpivot (wide → long) plus order-deterministic string_agg — the
    // reshaping pair every reporting layer needs.
    Q("q_reshape_unpivot",
      """WITH wide AS (SELECT l_returnflag,
        |                     cast(sum(cast(floor(l_quantity * 100) AS bigint)) AS bigint) AS qty_cents,
        |                     cast(sum(cast(floor(l_extendedprice * 100) AS bigint)) AS bigint) AS price_cents,
        |                     cast(count(*) AS bigint) AS n_rows
        |              FROM lineitem GROUP BY 1),
        |long AS (SELECT l_returnflag, 'qty_cents' AS measure, qty_cents AS value FROM wide
        |         UNION ALL
        |         SELECT l_returnflag, 'price_cents', price_cents FROM wide
        |         UNION ALL
        |         SELECT l_returnflag, 'n_rows', n_rows FROM wide)
        |SELECT l_returnflag, measure, value
        |FROM long ORDER BY l_returnflag, measure""".stripMargin) { (s, dir) =>
      val wide = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(sum(floor(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          count(lit(1)).as("n_rows"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("qty_cents"), col("price_cents"), col("n_rows")), "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // Order-deterministic string aggregation: sorted-distinct list so
    // the concatenation is engine- and partitioning-independent.
    Q("q_agg_stringagg",
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       cast(count(*) AS bigint) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // X85 interval overlap join: signup windows × error windows (each
    // event opens a [ts, ts + value·1s] window). The oracle states the
    // raw quadratic overlap predicate; the Spark side runs the bucketed
    // equi-join (IntervalJoin) — same pairs, no cartesian.
    Q("q_join_interval_overlap",
      """WITH s AS (SELECT event_id AS s_id, cast(epoch_us(ts) AS bigint) AS s_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 1000000) AS BIGINT) AS s_end
        |           FROM events WHERE event_type = 'signup'),
        |e AS (SELECT event_id AS e_id, cast(epoch_us(ts) AS bigint) AS e_start,
        |             cast(epoch_us(ts) AS bigint)
        |               + CAST(round(value * 1000000) AS BIGINT) AS e_end
        |      FROM events WHERE event_type = 'error')
        |SELECT s_id, e_id, cast((least(s_end, e_end) - greatest(s_start, e_start)) AS bigint)
        |         AS overlap_us
        |FROM s JOIN e ON s_start <= e_end AND e_start <= s_end
        |ORDER BY s_id, e_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      def side(typ: String, id: String, st: String, en: String): DataFrame =
        ev.filter(col("event_type") === typ)
          .select(col("event_id").as(id), unix_micros(col("ts")).as(st),
            (unix_micros(col("ts")) +
              round(col("value") * 1000000).cast("long")).as(en))
      IntervalJoin.overlap(
          side("signup", "s_id", "s_start", "s_end"),
          side("error", "e_id", "e_start", "e_end"),
          "s_start", "s_end", "e_start", "e_end")
        .select(col("s_id"), col("e_id"),
          (least(col("s_end"), col("e_end")) -
            greatest(col("s_start"), col("e_start"))).as("overlap_us"))
        .orderBy(col("s_id"), col("e_id"))
    },

    // X143 pairwise Pearson correlation matrix over the fact numerics in
    // ONE aggregate pass (six co-moment aggregates fused in a single
    // scan, no per-pair jobs), unpivoted to long form.
    Q("q_diag_correlations",
      """WITH a AS (SELECT
        |  round(corr(l_quantity, l_extendedprice), 6) AS c1,
        |  round(corr(l_quantity, l_discount), 6) AS c2,
        |  round(corr(l_quantity, l_tax), 6) AS c3,
        |  round(corr(l_extendedprice, l_discount), 6) AS c4,
        |  round(corr(l_extendedprice, l_tax), 6) AS c5,
        |  round(corr(l_discount, l_tax), 6) AS c6,
        |  count(*) AS n FROM lineitem)
        |SELECT 'l_quantity__l_extendedprice' AS pair, c1 AS r, cast(n AS bigint) AS n FROM a
        |UNION ALL SELECT 'l_quantity__l_discount', c2, cast(n AS bigint) FROM a
        |UNION ALL SELECT 'l_quantity__l_tax', c3, cast(n AS bigint) FROM a
        |UNION ALL SELECT 'l_extendedprice__l_discount', c4, cast(n AS bigint) FROM a
        |UNION ALL SELECT 'l_extendedprice__l_tax', c5, cast(n AS bigint) FROM a
        |UNION ALL SELECT 'l_discount__l_tax', c6, cast(n AS bigint) FROM a
        |ORDER BY pair""".stripMargin) { (s, dir) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- i + 1 until cols.length }
        yield (cols(i), cols(j))
      val aggCols = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__$b")
      } :+ count(lit(1)).as("n")
      t(s, dir, "lineitem").agg(aggCols.head, aggCols.tail: _*)
        .unpivot(Array(col("n")),
          pairs.map { case (a, b) => col(s"${a}__$b") }.toArray, "pair", "r")
        .select(col("pair"), col("r"), col("n"))
        .orderBy(col("pair"))
    },

    // X144 bounded-depth BFS over the (undirected) supplier–part co-supply
    // bipartite graph: hop distance from the seed suppliers to everything
    // within 4 hops. The oracle replays it as a recursive CTE with
    // min-dist semantics; Spark runs the iterative frontier expansion
    // (Bfs.kHop — the anti-join stamps each node at its first visit).
    Q("q_graph_khop",
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b FROM lineitem),
        |ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |bfs(node, dist) AS (
        |  SELECT s_suppkey * 2, 0 FROM supplier WHERE s_suppkey % 25 = 0
        |  UNION
        |  SELECT ed.b, bfs.dist + 1 FROM bfs JOIN ed ON ed.a = bfs.node
        |  WHERE bfs.dist < 4)
        |SELECT cast(node AS bigint) AS node, cast(min(dist) AS int) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      // persist the edge list once: each of the 4 hops joins it, and
      // unpersisted the lineitem distinct+union recomputes per hop
      // (same discipline as q_graph_modularity / q_graph_labelprop)
      val edges = coSupplyEdges(t(s, dir, "lineitem"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") % 25 === 0)
        .select((col("s_suppkey") * 2).as("node"))
      Bfs.kHop(edges, seeds, maxHops = 4).orderBy(col("node"))
    },

    // X149 deterministic synchronous label propagation (2 rounds) over
    // the same co-supply graph as q_graph_khop: each node adopts the
    // mode of its neighbors' labels, ties to the smallest label. The
    // oracle unrolls both rounds; fixed rounds + synchronous updates +
    // total tie-break make community sizes an exact function of the
    // edge set on any engine.
    Q("q_graph_labelprop",
      s"""WITH $lpRoundsSql
         |SELECT cast(lbl AS bigint) AS community, cast(count(*) AS bigint) AS size
         |FROM l2 GROUP BY lbl ORDER BY size DESC, community LIMIT 20""".stripMargin) { (s, dir) =>
      // persist the edge list once across propagate's per-round joins
      // (same discipline as q_graph_modularity below)
      val edges = coSupplyEdges(t(s, dir, "lineitem"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      LabelPropagation.communities(edges, rounds = 2, edgesDistinct = true)
        .orderBy(col("size").desc, col("community")).limit(20)
    },

    // X153 modularity of the X149 partition — the quality score that
    // closes the loop (propagate → measure → accept). Exact integer
    // numerator (e_in·2m − d_sum²), one closing division, the total Q
    // replicated on every row via a window over the community rollup.
    Q("q_graph_modularity",
      s"""WITH $lpRoundsSql,
         |m AS (SELECT count(*) AS two_m FROM e),
         |ein AS (SELECT a.lbl AS community, count(*) AS e_in
         |        FROM e JOIN l2 a ON a.node = e.a JOIN l2 b ON b.node = e.b
         |        WHERE a.lbl = b.lbl GROUP BY 1),
         |ds AS (SELECT l2.lbl AS community, count(*) AS d_sum
         |       FROM e JOIN l2 ON l2.node = e.a GROUP BY 1),
         |sz AS (SELECT lbl AS community, count(*) AS n_nodes FROM l2 GROUP BY 1),
         |j AS (SELECT sz.community, sz.n_nodes,
         |             coalesce(ein.e_in, 0) AS e_in, coalesce(ds.d_sum, 0) AS d_sum
         |      FROM sz LEFT JOIN ds USING (community) LEFT JOIN ein USING (community)),
         |q AS (SELECT j.*, cast(e_in * two_m - d_sum * d_sum AS double)
         |               / (cast(two_m AS double) * two_m) AS q_contrib
         |      FROM j CROSS JOIN m)
         |SELECT cast(community AS bigint) AS community, cast(n_nodes AS bigint) AS n_nodes,
         |       cast(e_in AS bigint) AS e_in, cast(d_sum AS bigint) AS d_sum,
         |       round(q_contrib, 9) AS q_contrib,
         |       round(sum(q_contrib) OVER (), 9) AS q
         |FROM q ORDER BY n_nodes DESC, community LIMIT 15""".stripMargin) { (s, dir) =>
      // persist the edge list ONCE: it feeds propagate's three actions
      // (round-0 node distinct + two round joins) and score's labeled
      // aggregate — unpersisted, the lineitem distinct+union would
      // recompute on every one of those passes (the bulk of the
      // r12/r13 q_graph_modularity wall-clock)
      val edges = coSupplyEdges(t(s, dir, "lineitem"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = LabelPropagation.propagate(edges, rounds = 2, edgesDistinct = true)
      Modularity.score(edges, labels)
        .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
          round(col("q_contrib"), 9).as("q_contrib"), round(col("q"), 9).as("q"))
        .orderBy(col("n_nodes").desc, col("community")).limit(15)
    },

    // X154 functional-dependency audit: which determinant → dependent
    // rules hold, and where they leak. One two-level aggregate per
    // pair; n_nationkey → r_name-style true FDs show zero violations,
    // the fact-table pairs show the leak counts.
    Q("q_diag_fd_audit",
      """SELECT * FROM (
        |  SELECT 'c_nationkey' AS det, 'c_mktsegment' AS dep,
        |         cast(count(*) AS bigint) AS n_groups,
        |         cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS bigint) AS n_violating,
        |         cast(max(nd) AS bigint) AS max_distinct
        |  FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
        |        FROM customer GROUP BY 1)
        |  UNION ALL
        |  SELECT 'l_partkey', 'l_suppkey',
        |         cast(count(*) AS bigint), cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS bigint),
        |         cast(max(nd) AS bigint)
        |  FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
        |        FROM lineitem GROUP BY 1)
        |  UNION ALL
        |  SELECT 'n_nationkey', 'n_regionkey',
        |         cast(count(*) AS bigint), cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS bigint),
        |         cast(max(nd) AS bigint)
        |  FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nd
        |        FROM nation GROUP BY 1))
        |ORDER BY det""".stripMargin) { (s, dir) =>
      FdAudit.audit(Seq(
          (t(s, dir, "customer"), "c_nationkey", "c_mktsegment"),
          (t(s, dir, "lineitem"), "l_partkey", "l_suppkey"),
          (t(s, dir, "nation"), "n_nationkey", "n_regionkey")))
        .orderBy(col("det"))
    },

    // X160 k-anonymity / l-diversity audit: equivalence classes over
    // the (nation, segment) quasi-identifiers with acctbal sign as the
    // sensitive attribute — the class-size histogram + diversity floor
    // that screens a table for re-identification risk before release.
    Q("q_diag_k_anonymity",
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |         count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END)
        |           AS ndiv
        |  FROM customer GROUP BY 1, 2)
        |SELECT cast(n AS bigint) AS class_size,
        |       cast(count(*) AS bigint) AS n_classes,
        |       cast(sum(n) AS bigint) AS n_rows,
        |       cast(min(ndiv) AS bigint) AS min_diversity,
        |       n < 5 AS at_risk
        |FROM cls GROUP BY n ORDER BY class_size""".stripMargin) { (s, dir) =>
      KAnonymity.audit(
          t(s, dir, "customer")
            .withColumn("bal_sign", when(col("c_acctbal") < 0, "neg").otherwise("pos")),
          quasiIdCols = Seq("c_nationkey", "c_mktsegment"),
          sensitiveCol = "bal_sign", k = 5)
        .orderBy(col("class_size"))
    })

  /** Co-supply bipartite graph (suppliers ↔ parts via lineitem), both
    * directions — shared by q_graph_khop/labelprop/modularity.
    */
  private def coSupplyEdges(lineitem: DataFrame): DataFrame = {
    // fan out before the distinct: its partial aggregation otherwise
    // runs fused onto the one-task scan (guide §2.5). Symmetrize with an
    // in-row explode rather than a two-branch union (round 20): the
    // union scanned the distinct twice and DOUBLED the partition count
    // of the frame the callers persist — every per-round join over the
    // cached edges then paid a 2× task wave (guide §2.4).
    ScanFanout.byKey(lineitem, col("l_suppkey"))
      .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Two unrolled synchronous label-propagation rounds over the
    * co-supply graph — the shared oracle prefix of
    * q_graph_labelprop and q_graph_modularity (yields `e` and `l2`).
    */
  private def lpRoundsSql: String =
    """e0 AS (
      |  SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b FROM lineitem),
      |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
      |n1 AS (SELECT e.a AS node, l0.lbl AS lbl FROM e JOIN l0 ON l0.node = e.b),
      |c1 AS (SELECT node, lbl, count(*) AS c FROM n1 GROUP BY 1, 2),
      |l1 AS (SELECT node, lbl FROM (
      |  SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
      |  FROM c1) WHERE rn = 1),
      |n2 AS (SELECT e.a AS node, l1.lbl AS lbl FROM e JOIN l1 ON l1.node = e.b),
      |c2 AS (SELECT node, lbl, count(*) AS c FROM n2 GROUP BY 1, 2),
      |l2 AS (SELECT node, lbl FROM (
      |  SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
      |  FROM c2) WHERE rn = 1)""".stripMargin
}
