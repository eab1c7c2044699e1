package graft.queries

import graft.Tables
import graft.operators.{CountMinSketch, Sessionize, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function coverage (SURVEY §2.5-2.6): rank / row_number /
  * rolling frames / lag-weighted smoothing / cumulative frames /
  * sessionization, each oracle-checked.
  *
  * Scale notes: every window here partitions by a high-cardinality key
  * (customer / user), so state per partition is small and the sort
  * happens inside the hash partition — no global ordering except the
  * deliberately tiny global-window query (top-20), which Spark executes
  * as a single-partition window over a pre-limited input.
  */
object Windows {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  val queries: Seq[Q] = Seq(

    // W1 rank over (partitionBy key, orderBy value) + filter ≤ k —
    // Spark ≥3.5 plans this as WindowGroupLimit (map-side top-k).
    Q("q_window_rank_topk_orders",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         rank() OVER (PARTITION BY o_custkey
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk, o_orderkey""".stripMargin) { (s, dir) =>
      TopK.perGroup(
          t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
          partitionBy = Seq(col("o_custkey")),
          orderBy = Seq(col("o_totalprice").desc, col("o_orderkey")),
          k = 3, keepTies = true)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
    },

    // W2 row_number over a GLOBAL window (reference risk-ranking,
    // src/preprocess.py:552-553) — kept tiny by construction.
    Q("q_window_global_top20",
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, dir) =>
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .orderBy(col("rn"))
    },

    // W3 forward rolling frame rowsBetween(0, 1) — the reference's
    // consecutive-point midpoint interpolation (src/preprocess.py:161-171).
    Q("q_window_rolling_next_avg",
      """SELECT event_id, user_id,
        |       round(avg(value) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id
        |                              ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING), 4) AS next_avg
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, 1)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 4).as("next_avg"))
        .orderBy(col("event_id"))
    },

    // W4 lag-weighted exponential smoothing (reference risky-weather
    // 24h decay, src/weather.py:230-244) — 4-tap 0.5^i decay.
    Q("q_window_lag_decay",
      """SELECT event_id,
        |       round(value * 1.0
        |             + coalesce(lag(value, 1) OVER w, 0) * 0.5
        |             + coalesce(lag(value, 2) OVER w, 0) * 0.25
        |             + coalesce(lag(value, 3) OVER w, 0) * 0.125, 6) AS smoothed
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val smoothed = Seq(1.0, 0.5, 0.25, 0.125).zipWithIndex.map { case (wt, i) =>
        coalesce(lag(col("value"), i).over(w), lit(0)) * lit(wt)
      }.reduce(_ + _)
      t(s, dir, "events")
        .select(col("event_id"), round(smoothed, 6).as("smoothed"))
        .orderBy(col("event_id"))
    },

    // W5 cumulative + reverse-cumulative frames (reference threshold
    // metrics, src/random_forest.py:137-146).
    Q("q_window_cumulative",
      """SELECT event_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
        |       cast(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS bigint) AS n_later
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val base = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"),
          round(sum(col("value")).over(
            base.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
            .as("running_value"),
          count(lit(1)).over(
            base.rowsBetween(1, Window.unboundedFollowing)).as("n_later"))
        .orderBy(col("event_id"))
    },

    // Streaming strictly-ordered funnel (flatMapGroupsWithState): one
    // append-mode row per newly-reached stage per user. The oracle is
    // the BATCH funnel chain unpivoted to (user, stage, t_us) — append
    // emission is exact because a stage is reached at most once.
    Q("q_stream_funnel",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us
        |           FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.us) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.us > s1.t1
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.us) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND e.us > s2.t2
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, stage, t_us FROM (
        |  SELECT user_id, 1 AS stage, t1 AS t_us FROM s3 WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 2 AS stage, t2 AS t_us FROM s3 WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 3 AS stage, t3 AS t_us FROM s3 WHERE t3 IS NOT NULL)
        |ORDER BY user_id, stage""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (src, staged) = stagedEventsStream(s, dir)
      val ev = src.select(col("user_id"), col("event_type"), col("ts"))
        .as[graft.streaming.StreamingOps.TypedEvent]
      val reaches = graft.streaming.StreamingOps
        .funnelWithState(ev, stages = Seq("view", "click", "purchase"))
      runToMemorySink(s, reaches.toDF(), sinkName("stream_f_", dir),
          outputMode = "append", staged = staged :: Nil)
        .select(col("user_id"), col("stage"), col("t_us"))
        .orderBy(col("user_id"), col("stage"))
    },

    // Weekly cohort retention: users bucketed by first-signup week,
    // counted distinct in each later activity week. Exact integer
    // floor-division on epoch micros — no float or timezone path.
    Q("q_events_retention",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us
        |           FROM events),
        |cohort AS (SELECT user_id, min(us) // 604800000000 AS cohort_bucket
        |           FROM e WHERE event_type = 'signup' GROUP BY 1),
        |activity AS (SELECT DISTINCT user_id, us // 604800000000 AS bucket FROM e)
        |SELECT cohort_bucket, bucket - cohort_bucket AS bucket_offset,
        |       cast(count(DISTINCT a.user_id) AS bigint) AS n_users
        |FROM activity a JOIN cohort c USING (user_id)
        |WHERE bucket - cohort_bucket >= 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.operators.Retention.cohorts(t(s, dir, "events"))
        .orderBy(col("cohort_bucket"), col("bucket_offset"))
    },

    // Strictly-ordered conversion funnel (view → click → purchase):
    // per-stage reach counts + exact integer gap sums. A later view
    // cannot retro-qualify an earlier click (`us > t_prev` at each
    // stage) — the oracle replays the same sequential LEFT JOIN chain.
    Q("q_events_funnel",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us
        |           FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.us) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.us > s1.t1
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.us) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND e.us > s2.t2
        |       GROUP BY 1, 2, 3)
        |SELECT cast(count(t1) AS int) AS n_stage1,
        |       cast(count(t2) AS int) AS n_stage2,
        |       cast(count(t3) AS int) AS n_stage3,
        |       cast(sum(t2 - t1) AS bigint) AS sum_gap12_us,
        |       cast(sum(t3 - t2) AS bigint) AS sum_gap23_us
        |FROM s3""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.conversion(t(s, dir, "events"),
          stages = Seq("view", "click", "purchase"))
        .agg(count(col("t1")).cast("int").as("n_stage1"),
          count(col("t2")).cast("int").as("n_stage2"),
          count(col("t3")).cast("int").as("n_stage3"),
          sum(col("t2") - col("t1")).as("sum_gap12_us"),
          sum(col("t3") - col("t2")).as("sum_gap23_us"))
    },

    // X171 time-constrained funnel: same stage chain, but each stage
    // must land within 48h of the previous one — the bounded-window
    // semantics that make funnel rates cohort-comparable. Same
    // one-shuffle plan; the bound rides the window predicate.
    Q("q_events_funnel_window",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us
        |           FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.us) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.us > s1.t1
        |         AND e.us <= s1.t1 + 172800000000
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.us) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND e.us > s2.t2
        |         AND e.us <= s2.t2 + 172800000000
        |       GROUP BY 1, 2, 3)
        |SELECT cast(count(t1) AS int) AS n_stage1,
        |       cast(count(t2) AS int) AS n_stage2,
        |       cast(count(t3) AS int) AS n_stage3,
        |       cast(sum(t2 - t1) AS bigint) AS sum_gap12_us,
        |       cast(sum(t3 - t2) AS bigint) AS sum_gap23_us
        |FROM s3""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.conversionWithin(t(s, dir, "events"),
          stages = Seq("view", "click", "purchase"), maxGapUs = 172800000000L)
        .agg(count(col("t1")).cast("int").as("n_stage1"),
          count(col("t2")).cast("int").as("n_stage2"),
          count(col("t3")).cast("int").as("n_stage3"),
          sum(col("t2") - col("t1")).as("sum_gap12_us"),
          sum(col("t3") - col("t2")).as("sum_gap23_us"))
    },

    // X176 capped sessionization: 24h-gap sessions additionally split
    // every 48h from the session start (max-duration policy). The cap
    // slices relative to the gap-session start, so it stays a pure
    // window expression — one user shuffle, replayable anywhere.
    Q("q_sessionize_capped",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 86400000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, event_id, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |), capped AS (
        |  SELECT user_id, ts, value, session_seq,
        |         (epoch_ms(ts) - min(epoch_ms(ts)) OVER (PARTITION BY user_id, session_seq))
        |           // 172800000 AS session_sub
        |  FROM sessions
        |)
        |SELECT user_id, cast(session_seq AS bigint) AS session_seq,
        |       cast(session_sub AS bigint) AS session_sub,
        |       count(*) AS n_events,
        |       cast(min(epoch_ms(ts)) AS bigint) AS start_ms,
        |       cast(max(epoch_ms(ts)) AS bigint) AS end_ms
        |FROM capped GROUP BY user_id, session_seq, session_sub
        |ORDER BY user_id, session_seq, session_sub""".stripMargin) { (s, dir) =>
      Sessionize.sessionizeCapped(t(s, dir, "events"), "user_id", "ts",
          gapSeconds = 86400, capSeconds = 172800)
        .groupBy(col("user_id"), col("session_seq"), col("session_sub"))
        .agg(count(lit(1)).as("n_events"),
          unix_millis(min(col("ts"))).as("start_ms"),
          unix_millis(max(col("ts"))).as("end_ms"))
        .orderBy(col("user_id"), col("session_seq"), col("session_sub"))
    },

    // X177 funnel-outcome significance: two-proportion z-test of the
    // view→click conversion rate between even/odd user cohorts — exact
    // counts, one fixed float expression for z, so the verdict (and
    // its 1.96 boundary) hash-replays. The outcome check beside
    // q_ab_srm's split check.
    Q("q_ab_funnel_z",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us
        |           FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.us) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.us > s1.t1
        |       GROUP BY 1, 2),
        |g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
        |             cast(count(*) AS bigint) AS n,
        |             cast(count(t2) AS bigint) AS c
        |      FROM s2 GROUP BY 1),
        |a AS (SELECT n AS n_a, c AS c_a FROM g WHERE grp = 'even'),
        |b AS (SELECT n AS n_b, c AS c_b FROM g WHERE grp = 'odd'),
        |z AS (SELECT n_a, c_a, n_b, c_b,
        |             c_a / cast(n_a AS double) AS p1,
        |             c_b / cast(n_b AS double) AS p2,
        |             (c_a + c_b) / cast(n_a + n_b AS double) AS pp
        |      FROM a CROSS JOIN b)
        |SELECT 'even' AS group_a, n_a, c_a, round(p1, 6) AS p_a,
        |       'odd' AS group_b, n_b, c_b, round(p2, 6) AS p_b,
        |       round(CASE WHEN pp * (1 - pp) = 0 THEN 0.0
        |                  ELSE (p1 - p2) / sqrt(pp * (1 - pp)
        |                         * (1.0 / n_a + 1.0 / n_b)) END, 6) AS z,
        |       CASE WHEN pp * (1 - pp) = 0 THEN false
        |            ELSE abs((p1 - p2) / sqrt(pp * (1 - pp)
        |                       * (1.0 / n_a + 1.0 / n_b))) > 1.96 END AS significant
        |FROM z""".stripMargin) { (s, dir) =>
      val perUser = graft.operators.Funnel.conversion(t(s, dir, "events"),
        stages = Seq("view", "click"))
      val counts = perUser
        .groupBy(when(pmod(col("user"), lit(2)) === 0, "even").otherwise("odd").as("grp"))
        .agg(count(lit(1)).as("n"), count(col("t2")).as("c"))
      graft.operators.ProportionTest.twoProportionZ(counts, "grp", "n", "c")
    },

    // Rolling z-score anomaly flags over hourly ingest-volume buckets:
    // per-bucket totals are exact scaled longs, the trailing-24h
    // moments are integer sums over a ROWS frame, and the flag derives
    // from the ROUNDED z on both sides so the boundary is identical.
    Q("q_events_anomaly",
      """WITH b AS (SELECT cast(epoch_us(ts) AS bigint) // 3600000000 AS bucket,
        |                  cast(floor(value * 1000) AS bigint) AS v FROM events),
        |tot AS (SELECT bucket, cast(sum(v) AS bigint) AS total FROM b GROUP BY 1),
        |roll AS (SELECT bucket, total,
        |                count(*) OVER w AS cnt,
        |                cast(sum(total) OVER w AS bigint) AS s1,
        |                cast(sum(total * total) OVER w AS bigint) AS s2
        |         FROM tot WINDOW w AS (ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT bucket, total,
        |             s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / 24.0 AS d2,
        |             CASE WHEN s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / 24.0 > 0
        |                  THEN round((total::DOUBLE - s1::DOUBLE / 24.0)
        |                       / sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / 24.0) / 23.0), 4)
        |             END AS z,
        |             s1
        |      FROM roll WHERE cnt = 24)
        |SELECT bucket, total, z,
        |       CASE WHEN d2 > 0 THEN abs(z) > 3.0 ELSE total * 24 != s1 END AS is_anomaly
        |FROM z ORDER BY bucket""".stripMargin) { (s, dir) =>
      graft.operators.AnomalyDetection.rollingZScore(t(s, dir, "events"))
        .orderBy(col("bucket"))
    },

    // Exponentially-decayed trending scores: each event contributes
    // 2^-age_days, scaled to exact longs (2^40 ≡ today) so the whole
    // score is order-free integer arithmetic — no pow(), no floats.
    Q("q_events_trending",
      """WITH us AS (SELECT user_id AS key, cast(epoch_us(ts) AS bigint) AS us FROM events),
        |mx AS (SELECT max(us) AS mx_us FROM us),
        |aged AS (SELECT key, (mx_us - us) // 86400000000 AS age FROM us CROSS JOIN mx),
        |sc AS (SELECT key, cast(count(*) AS bigint) AS n_events,
        |              cast(sum((1::BIGINT) << (40 - age)::INT) AS bigint) AS score
        |       FROM aged WHERE age < 40 GROUP BY 1)
        |SELECT cast(row_number() OVER (ORDER BY score DESC, key) AS int) AS rk,
        |       key, n_events, score
        |FROM sc ORDER BY score DESC, key LIMIT 20""".stripMargin) { (s, dir) =>
      graft.operators.TrendingScore.topDecayed(t(s, dir, "events"), keyCol = "user_id",
          k = 20, maxAgeDays = 40)
        .orderBy(col("rk"))
    },

    // First-order event transition matrix: next-event counts and
    // row-normalized probabilities per user sequence, (ts, event_id)
    // tie order so the lead() replays identically.
    Q("q_events_transitions",
      """WITH e AS (SELECT user_id, event_type, cast(epoch_us(ts) AS bigint) AS us, event_id
        |           FROM events),
        |nx AS (SELECT user_id, event_type AS cur,
        |              lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |       FROM e),
        |c AS (SELECT cur, nxt, cast(count(*) AS bigint) AS n
        |      FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, cast(sum(n) AS bigint) AS t FROM c GROUP BY 1)
        |SELECT c.cur, c.nxt, c.n, round(c.n::DOUBLE / tot.t::DOUBLE, 6) AS p
        |FROM c JOIN tot USING (cur) ORDER BY cur, nxt""".stripMargin) { (s, dir) =>
      graft.operators.Transitions.matrix(t(s, dir, "events"))
        .orderBy(col("cur"), col("nxt"))
    },

    // Deterministic A/B assignment + sample-ratio-mismatch gate: units
    // hash (md5, 60-bit) into 4 arms; χ² against the equal split is
    // built from ONE exact integer Σo², so no float summation order
    // exists. SRM is the first gate before reading any experiment.
    Q("q_ab_srm",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (SELECT (('0x' || substr(md5('exp1:' || cast(user_id AS VARCHAR)), 1, 15))::BIGINT % 4)
        |                AS arm FROM u),
        |o AS (SELECT arm, cast(count(*) AS bigint) AS o FROM arms GROUP BY 1)
        |SELECT cast(sum(o) AS bigint) AS n, cast(4 AS int) AS k,
        |       round(4 * sum(o * o) / cast(sum(o) AS DOUBLE) - sum(o), 6) AS chi2,
        |       round(cast(max(o) AS DOUBLE) / cast(sum(o) AS DOUBLE), 6) AS max_share
        |FROM o""".stripMargin) { (s, dir) =>
      graft.operators.AbAssignment.srmCheck(
        t(s, dir, "events"), k = 4, salt = "exp1", unitCol = "user_id")
    },

    // Signup→purchase conversion latency: each user's first signup
    // paired with their first purchase at-or-after it, exact integer
    // second deltas, dyadic percentiles (0.5/0.75 keep the interpolated
    // rank exact on both engines).
    Q("q_events_latency",
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS s_us
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        |       FROM events e JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
        |       GROUP BY 1),
        |d AS (SELECT su.user_id, (p_us - s_us) // 1000000 AS delta_s
        |      FROM su JOIN pu USING (user_id))
        |SELECT cast(count(*) AS bigint) AS n_converted,
        |       round(quantile_cont(cast(delta_s AS DOUBLE), 0.5), 6) AS p50_s,
        |       round(quantile_cont(cast(delta_s AS DOUBLE), 0.75), 6) AS p75_s,
        |       cast(max(delta_s) AS bigint) AS max_s
        |FROM d""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("s_us"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("us") >= col("s_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
      su.join(pu, Seq("user_id"))
        .select(expr("(p_us - s_us) div 1000000").as("delta_s"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(cast(delta_s AS double), 0.5)"), 6).as("p50_s"),
          round(expr("percentile(cast(delta_s AS double), 0.75)"), 6).as("p75_s"),
          max(col("delta_s")).as("max_s"))
    },

    // Rolling 7-day distinct users (sliding-window engagement): each
    // active (day, user) pair is exploded into the 7 window-end days it
    // counts toward, then ONE distinct aggregation per window — the
    // standard exact rolling-cardinality shape (explode factor = window
    // length, never a per-day re-scan; swap the distinct for an HLL
    // sketch when the window or cardinality explodes).
    Q("q_events_rolling_active",
      """WITH du AS (SELECT DISTINCT cast(ts AS DATE) AS d, user_id FROM events),
        |ex AS (SELECT d + cast(i AS int) AS w, user_id
        |       FROM du, unnest(generate_series(0, 6)) AS t(i)),
        |mx AS (SELECT max(d) AS md FROM du)
        |SELECT w AS window_end,
        |       cast(count(DISTINCT user_id) AS bigint) AS active_users
        |FROM ex, mx WHERE w <= md
        |GROUP BY 1 ORDER BY window_end""".stripMargin) { (s, dir) =>
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val maxD = du.agg(max(col("d"))).head.getDate(0)
      du.select(explode(sequence(lit(0), lit(6))).as("i"), col("d"), col("user_id"))
        .select(date_add(col("d"), col("i")).as("window_end"), col("user_id"))
        .filter(col("window_end") <= lit(maxD))
        .groupBy(col("window_end"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("window_end"))
    },

    // Median/MAD robust outlier gate per event type (Iglewicz–Hoaglin
    // modified z-score) — the heavy-tail-proof complement to the
    // mean/stddev anomaly query. Values go through exact integer cents
    // so the medians are dyadic-exact on both engines; the only float
    // math is the final z ratio.
    Q("q_quality_robust_outliers",
      """WITH v AS (SELECT event_type, cast(floor(value * 100) AS bigint) AS cents
        |           FROM events),
        |med AS (SELECT event_type, quantile_cont(cast(cents AS DOUBLE), 0.5) AS med
        |        FROM v GROUP BY 1),
        |mad AS (SELECT v.event_type,
        |               quantile_cont(abs(cast(v.cents AS DOUBLE) - m.med), 0.5) AS mad
        |        FROM v JOIN med m USING (event_type) GROUP BY 1),
        |z AS (SELECT v.event_type, m.med, d.mad,
        |             CASE WHEN d.mad > 0
        |                  THEN 0.6745 * (cast(v.cents AS DOUBLE) - m.med) / d.mad
        |                  ELSE 0.0 END AS z
        |      FROM v JOIN med m USING (event_type) JOIN mad d USING (event_type))
        |SELECT event_type, cast(count(*) AS bigint) AS n,
        |       round(any_value(med), 6) AS med, round(any_value(mad), 6) AS mad,
        |       cast(sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS bigint) AS n_outliers,
        |       round(max(abs(z)), 6) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.operators.RobustOutliers.perGroup(
        t(s, dir, "events")
          .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents")),
        groupCol = "event_type", valueCol = "cents", cut = 3.5)
    },

    // Order-3 sequence mining: the most frequent event-type trigrams
    // across user sequences (the paths, where transitions give the
    // steps). One user-partitioned shuffle for the lead() chain; global
    // top-k rides TakeOrderedAndProject.
    Q("q_events_ngrams",
      """WITH e AS (SELECT user_id, event_type,
        |                  cast(epoch_us(ts) AS bigint) AS us, event_id
        |           FROM events),
        |g AS (SELECT event_type AS w0,
        |             lead(event_type, 1) OVER w AS w1,
        |             lead(event_type, 2) OVER w AS w2
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |c AS (SELECT w0, w1, w2, cast(count(*) AS bigint) AS n
        |      FROM g WHERE w1 IS NOT NULL AND w2 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT w0, w1, w2, n,
        |       cast(row_number() OVER (ORDER BY n DESC, w0, w1, w2) AS int) AS rk
        |FROM c ORDER BY rk LIMIT 20""".stripMargin) { (s, dir) =>
      graft.operators.SequenceNgrams.topNgrams(t(s, dir, "events"), n = 3, k = 20)
    },

    // Gap-based sessionization (lag + cumulative boundary sum) with a
    // per-session rollup — timestamps exported as epoch millis so both
    // engines compare integers.
    Q("q_sessionize_gap30m",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, cast(session_seq AS bigint) AS session_seq,
        |       count(*) AS n_events,
        |       cast(min(epoch_ms(ts)) AS bigint) AS start_ms,
        |       cast(max(epoch_ms(ts)) AS bigint) AS end_ms,
        |       round(sum(value), 4) AS session_value
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
      Sessionize.sessionize(t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          unix_millis(min(col("ts"))).as("start_ms"),
          unix_millis(max(col("ts"))).as("end_ms"),
          round(sum(col("value")), 4).as("session_value"))
        .orderBy(col("user_id"), col("session_seq"))
    },

    // As-of join (operator Spark lacks): each purchase matched to the
    // user's latest click at-or-before it through the native as-of
    // operator, its exec picked from the click side's size — never a
    // range-join explosion. The oracle is DuckDB's NATIVE ASOF JOIN, an
    // independent implementation of the semantics (ties impossible:
    // (user_id, ts) is unique in events). Gaps exported as epoch micros
    // so both engines compare integers.
    Q("q_join_asof_click",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts", payloadCols = Seq("click_id", "click_ts"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X145 the same as-of semantics through the NATIVE whole-operator
    // path: graft.plans.AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec
    // (sort-merge, one shuffle+sort per side, streaming O(1)-memory
    // merge), registered via SparkSessionExtensions. Also carries the
    // click's value, and pins the sort-merge exec where
    // q_join_asof_click lets the strategy choose.
    Q("q_join_asof_native",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |       round(c.value, 6) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      // broadcast=Some(false) pins the SORT-MERGE exec — this row is the
      // big×big path's bench identity; the broadcast-right sibling has
      // its own row (q_join_asof_broadcast) and auto-selection between
      // them is stats-driven (AsOfJoinStrategy)
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts", "click_value"),
          broadcast = Some(false))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"),
          round(col("click_value"), 6).as("click_value"))
        .orderBy(col("purchase_id"))
    },

    // X194 the BROADCAST-RIGHT native as-of exec: the canonical 100 TB
    // attribution shape — a huge left (events) against a small right
    // (per-user signup dimension) — pays ZERO exchange and zero sort on
    // the left side: the small side ships as a per-key time-sorted
    // index, each left row answers with a hash probe + binary search
    // (plans/NativeAsOfJoin.scala BroadcastAsOfJoinExec; plan shape
    // pinned in NativeAsOfJoinSpec). Same oracle family as
    // q_join_asof_native: DuckDB's independent ASOF LEFT JOIN.
    Q("q_join_asof_broadcast",
      """SELECT e.event_id, e.user_id,
        |       s.event_id AS signup_id,
        |       epoch_us(e.ts) - epoch_us(s.ts) AS since_signup_us
        |FROM (SELECT * FROM events WHERE event_type IN ('click', 'purchase')) e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND s.ts <= e.ts
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val big = ev.filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"),
          col("event_id").as("signup_id"))
      graft.plans.NativeAsOfJoin.asOf(big, signups, key = "user_id",
          leftTime = "ts", rightTime = "signup_ts",
          payloadCols = Seq("signup_id", "signup_ts"), broadcast = Some(true))
        .select(col("event_id"), col("user_id"), col("signup_id"),
          (unix_micros(col("ts")) - unix_micros(col("signup_ts"))).as("since_signup_us"))
        .orderBy(col("event_id"))
    },

    // X212 STORAGE-LAYOUT as-of join: the event log persisted ONCE
    // bucketed by user_id and sorted (user_id, ts) with one file per
    // bucket (sources/Bucketing.writeBucketedSorted), after which the
    // native as-of join over two filtered reads of that table plans
    // with ZERO Exchange and ZERO Sort on either side (pinned in
    // BucketedAsOfSpec) — at 100 TB the shuffle AND the sort are paid
    // once at write time and every subsequent as-of/attribution query
    // rides the layout for free. Oracle = DuckDB ASOF LEFT JOIN on the
    // ORIGINAL parquet, so hash equality also proves the bucketed
    // round trip loses nothing.
    Q("q_join_asof_bucketed",
      """SELECT c.event_id AS click_id, c.user_id,
        |       s.event_id AS signup_id,
        |       epoch_us(c.ts) - epoch_us(s.ts) AS since_signup_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON c.user_id = s.user_id AND s.ts <= c.ts
        |ORDER BY click_id""".stripMargin) { (s, dir) =>
      // per-JVM nonce in the name: see q_source_bucketed_join
      val tbl = ("b_events_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.sources.Bucketing.runTag).toLowerCase(java.util.Locale.ROOT)
      graft.sources.Bucketing.writeBucketedSorted(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        tbl, nBuckets = 16, bucketKeys = Seq("user_id"), sortCols = Seq("ts"))
      val ev = s.table(tbl)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"),
          col("event_id").as("signup_id"))
      graft.plans.NativeAsOfJoin.asOf(clicks, signups, key = "user_id",
          leftTime = "ts", rightTime = "signup_ts",
          payloadCols = Seq("signup_id", "signup_ts"), broadcast = Some(false))
        .select(col("click_id"), col("user_id"), col("signup_id"),
          (unix_micros(col("ts")) - unix_micros(col("signup_ts"))).as("since_signup_us"))
        .orderBy(col("click_id"))
    },

    // X195 SKEW-SAFE as-of join: same semantics as q_join_asof_click,
    // executed through the time-bucketed hot-key split
    // (operators/SkewAsOfJoin.scala — per-bucket carry-in rows +
    // composite (key, bucket) native as-of), so one user with 10⁷
    // events is bounded per (key × bucketWidth) instead of stalling one
    // partition. The bucketing is INTERNAL: the oracle is the very same
    // DuckDB ASOF LEFT JOIN the un-bucketed operator answers to —
    // hash-equality proves the split changes nothing.
    Q("q_join_asof_skewsafe",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      graft.operators.SkewAsOfJoin.asOfBucketed(purchases, clicks,
          key = "user_id", leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          bucketWidth = 6L * 3600L * 1000000L) // 6-hour buckets, micros
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X207 skew-AWARE as-of join (SkewAsOfJoin.asOfAuto): the selection
    // loop closed — ONE map-side-combined rollup over the left derives
    // the key histogram + grand total in a single job, keys above the
    // share threshold route through the X195 bucketed rewrite (width
    // derived from each hot key's time span / target bucket rows), the
    // cold rest rides the plain native exec, and the legs union. The
    // thresholds here are set low so the fixture corpus genuinely
    // exercises BOTH legs + the union; the oracle is the same
    // independent DuckDB ASOF LEFT JOIN — hash equality proves the
    // auto-routing changes nothing. Selection behavior itself (hot
    // corpus buckets, uniform corpus does not, small right
    // short-circuits to broadcast) is pinned in SkewAsOfJoinSpec.
    Q("q_join_asof_auto",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      graft.operators.SkewAsOfJoin.asOfAuto(purchases, clicks,
          key = "user_id", leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          hotShareThreshold = 0.0005, targetRowsPerBucket = 20L,
          allowBroadcast = false)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X179 streaming Count-Min Sketch: the X64 cells built as a
    // STREAMING aggregation (stateless cell explode → stateful
    // grouped count, AvailableNow, complete-mode memory sink) — the
    // incremental-sketch-maintenance shape, and the oracle is the
    // batch rebuild: hash equality proves stream-maintained ≡ rebuilt.
    Q("q_stream_cms",
      """WITH js AS (SELECT unnest([0, 1, 2]) AS j),
        |cells AS (SELECT user_id, j,
        |                 ('0x' || substr(md5(user_id::VARCHAR), 1 + 8 * j, 8))::BIGINT % 256 AS bucket
        |          FROM events CROSS JOIN js)
        |SELECT j, cast(bucket AS bigint) AS bucket, count(*) AS cnt
        |FROM cells GROUP BY 1, 2
        |ORDER BY j, bucket""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val cells = CountMinSketch.build(src, "user_id", depth = 3, width = 256)
      runToMemorySink(s, cells, sinkName("stream_cms_", dir), staged = staged :: Nil)
        .orderBy(col("j"), col("bucket"))
    },

    // X216 STREAMING-maintained KMV sketch: the X115 distinct-count
    // sketch kept incrementally by a streaming aggregation (the typed
    // KmvAggregator as the state — k sorted longs per group however
    // many rows arrive, merged associatively across micro-batches,
    // complete-mode memory sink). The oracle is the batch replay of the
    // same Knuth hash ranks: hash equality proves stream-maintained ≡
    // rebuilt — the sketch a 100 TB ingest keeps warm instead of
    // re-scanning history per day.
    Q("q_stream_kmv",
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |                  (user_id * 2654435761) % 4294967296 AS h
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, h,
        |             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM h),
        |kk AS (SELECT grp, max(h) AS hk, count(*) AS m
        |       FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT grp AS event_type, cast(m AS bigint) AS m, cast(hk AS bigint) AS hk,
        |       round(CASE WHEN m < 64 THEN cast(m AS double)
        |                  ELSE 63 * 4294967296.0 / hk END, 2) AS est
        |FROM kk ORDER BY event_type""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val sketch = udaf(new graft.operators.KmvAggregator(64))
      // null keys never enter the sketch (KmvSketch.sketchOf's contract —
      // the primitive-Long typed Aggregator would decode a null as 0L and
      // insert hash(0) as a spurious minimum); the oracle filters too
      val agg = src.filter(col("user_id").isNotNull).groupBy(col("event_type"))
        .agg(sketch(col("user_id")).as("kmv"))
      runToMemorySink(s, agg, sinkName("stream_kmv_", dir), staged = staged :: Nil)
        .select(col("event_type"), col("kmv.m").as("m"), col("kmv.hk").as("hk"),
          round(col("kmv.est"), 2).as("est"))
        .orderBy(col("event_type"))
    },

    // X173 native keyed interval-containment join: every click joined
    // to the signup windows (of its user) containing it — the 1:N
    // sibling of the native as-of operator (IntervalJoinNode →
    // Strategy → streaming sort-merge exec with an active-interval
    // buffer; one shuffle+sort per side, no bucket explode). Oracle =
    // a plain range-predicate join.
    Q("q_join_interval_native",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'click')
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
      // broadcast=Some(false) pins the SORT-MERGE exec (big×big bench
      // identity); the broadcast-right sibling has its own row below
      graft.plans.NativeIntervalJoin.contain(points, windows, key = "user_id",
          pointTime = "t", startCol = "w_start", endCol = "w_end",
          payloadCols = Seq("window_id", "w_end"), broadcast = Some(false))
        .select(col("click_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("click_id"), col("window_id"))
    },

    // X200 the BROADCAST-RIGHT native interval join: same semantics and
    // oracle family as q_join_interval_native, but the (small) window
    // side ships as a per-key start-sorted index and the huge point
    // side is probed IN PLACE — zero exchange, zero sort on the left
    // (plans/NativeIntervalJoin.scala BroadcastIntervalJoinExec; plan
    // pinned in NativeIntervalJoinSpec).
    Q("q_join_interval_broadcast",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
      graft.plans.NativeIntervalJoin.contain(points, windows, key = "user_id",
          pointTime = "t", startCol = "w_start", endCol = "w_end",
          payloadCols = Seq("window_id", "w_end"), broadcast = Some(true))
        .select(col("click_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("click_id"), col("window_id"))
    },

    // X190 the native interval join's LEFT OUTER mode: every click
    // keeps a row — those inside no signup window of their user come
    // back with null payload, the audit shape ("which events fell
    // outside every campaign window"). Window set thinned (event_id %
    // 3 = 0) so unmatched rows genuinely occur. Oracle = a plain LEFT
    // JOIN on the range predicate.
    Q("q_join_interval_left",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup' AND event_id % 3 = 0),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'click')
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p LEFT JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup" && col("event_id") % 3 === 0)
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
      graft.plans.NativeIntervalJoin.contain(points, windows, key = "user_id",
          pointTime = "t", startCol = "w_start", endCol = "w_end",
          payloadCols = Seq("window_id", "w_end"),
          joinType = org.apache.spark.sql.catalyst.plans.LeftOuter)
        .select(col("click_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("click_id"), col("window_id"))
    },

    // X209 SKEW-SAFE interval join: same semantics as
    // q_join_interval_native, executed through the time-bucketed
    // rewrite (operators/SkewIntervalJoin.scala — points bucketed by
    // floor(t/W), intervals replicated to every bucket they overlap,
    // native exec on the composite (key, bucket)), so one user with
    // 10⁷ points is bounded per (key × bucketWidth) instead of
    // stalling one partition of the sort-merge. The bucketing is
    // INTERNAL: the oracle is the very same range-predicate join the
    // un-bucketed operator answers to — hash equality proves the
    // split-and-replicate changes nothing (no lost matches at bucket
    // boundaries, no duplicated matches from the replicas).
    Q("q_join_interval_skewsafe",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 7200000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY purchase_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 7200000000L).cast("long")).as("w_end"))
      graft.operators.SkewIntervalJoin.containBucketed(points, windows,
          key = "user_id", pointTime = "t", startCol = "w_start",
          endCol = "w_end", payloadCols = Seq("window_id", "w_end"),
          bucketWidth = 6L * 3600L * 1000000L) // 6-hour buckets, micros
        .select(col("purchase_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("purchase_id"), col("window_id"))
    },

    // X215 STORAGE-LAYOUT interval join: both sides persisted ONCE via
    // Bucketing.writeBucketedSorted — points bucketed by user_id sorted
    // (user_id, t), windows bucketed by user_id sorted (user_id,
    // w_start), time columns MATERIALIZED at write so the scan's
    // reported order is the exec's required order — after which the
    // native interval exec plans ZERO Exchange and ZERO Sort on either
    // side (pinned in BucketedAsOfSpec). The 1:N sibling of
    // q_join_asof_bucketed: pay the shuffle and sort once at write,
    // answer every subsequent containment query from the layout.
    Q("q_join_interval_bucketed",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'view')
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val tag = (dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.sources.Bucketing.runTag).toLowerCase(java.util.Locale.ROOT)
      val (pt, wt) = (s"b_points_$tag", s"b_windows_$tag")
      val ev = t(s, dir, "events")
      graft.sources.Bucketing.writeBucketedSorted(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("t")),
        pt, nBuckets = 16, bucketKeys = Seq("user_id"), sortCols = Seq("t"))
      graft.sources.Bucketing.writeBucketedSorted(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("window_id"),
            unix_micros(col("ts")).as("w_start"),
            (unix_micros(col("ts")) +
              round(col("value") * 3600000000L).cast("long")).as("w_end")),
        wt, nBuckets = 16, bucketKeys = Seq("user_id"), sortCols = Seq("w_start"))
      graft.plans.NativeIntervalJoin.contain(s.table(pt), s.table(wt),
          key = "user_id", pointTime = "t", startCol = "w_start",
          endCol = "w_end", payloadCols = Seq("window_id", "w_end"),
          broadcast = Some(false))
        .select(col("click_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("click_id"), col("window_id"))
    },

    // X210 skew-AWARE interval join (SkewIntervalJoin.containAuto): the
    // as-of family's X207 selection ladder on the 1:N operator — one
    // rollup over the points derives the key histogram + grand total,
    // hot keys route through the X209 bucketed rewrite with width =
    // max(point-density width, typical hot interval span — the clamp
    // that caps interval replication at ~2×), cold keys ride the plain
    // native exec, legs union. Run in LEFT OUTER mode on a THINNED
    // window side so unmatched points survive the hot/cold union as
    // null rows — the routing must not lose or duplicate them.
    // Thresholds set low so the fixture corpus exercises BOTH legs;
    // selection behavior itself is pinned in SkewIntervalJoinSpec.
    Q("q_join_interval_auto",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup' AND event_id % 3 = 0),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'click')
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p LEFT JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup" && col("event_id") % 3 === 0)
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
      graft.operators.SkewIntervalJoin.containAuto(points, windows,
          key = "user_id", pointTime = "t", startCol = "w_start",
          endCol = "w_end", payloadCols = Seq("window_id", "w_end"),
          joinType = org.apache.spark.sql.catalyst.plans.LeftOuter,
          hotShareThreshold = 0.0005, targetRowsPerBucket = 20L,
          allowBroadcast = false)
        .select(col("click_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("click_id"), col("window_id"))
    },

    // X181 the native as-of join's LEFT OUTER mode made VISIBLE: the
    // click side is thinned to event_id % 5 == 0, so purchases whose
    // user has no earlier surviving click come back with NULL payload —
    // the reference's own left-outer-then-filter match shape
    // (src/preprocess.py:450-461). Oracle = DuckDB ASOF LEFT JOIN on
    // the same thinned side; the null rows must agree exactly.
    Q("q_join_asof_left",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events
        |                WHERE event_type = 'click' AND event_id % 5 = 0) c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click" && col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X181 the same thinned shape in INNER mode (joinType = Inner on
    // the same AsOfJoinNode/Exec): unmatched purchases are DROPPED, so
    // this row set is the left-outer one minus the null rows — DuckDB's
    // plain ASOF JOIN is the oracle, a third independent check that the
    // two modes differ exactly by the unmatched rows.
    Q("q_join_asof_inner",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events
        |           WHERE event_type = 'click' AND event_id % 5 = 0) c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click" && col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          joinType = org.apache.spark.sql.catalyst.plans.Inner)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X186 the native as-of join with a LOOKBACK TOLERANCE (within =
    // 7 days — the thinned click stream's median gap is ~5 days, so
    // the bound genuinely splits the population both ways): pandas
    // merge_asof(tolerance=...) semantics — the latest
    // qualifying click only matches when the purchase-click gap fits
    // the bound, with NO fallback to an older click; out-of-window
    // purchases keep null payload (LeftOuter). The thinned click side
    // stretches gaps so the bound visibly fires. Oracle = DuckDB ASOF
    // LEFT JOIN with the bound applied as a post-match CASE — exactly
    // the no-fallback semantics, independently implemented.
    Q("q_join_asof_tolerance",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN c.event_id END AS click_id,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events
        |                WHERE event_type = 'click' AND event_id % 5 = 0) c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click" && col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          within = Some(604800000000L)) // 7 days in micros
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X187 FORWARD direction on the native as-of join (pandas
    // merge_asof(direction='forward')): each purchase matched to the
    // user's EARLIEST click at-or-after it — the "next touchpoint"
    // attribution mirror. Streaming implementation detail: the forward
    // candidate is peeked, never consumed (later purchases may share
    // it). Oracle = DuckDB ASOF LEFT JOIN with the reversed inequality,
    // an independent implementation of the same direction.
    Q("q_join_asof_forward",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events
        |                WHERE event_type = 'click' AND event_id % 5 = 0) c
        |  ON p.user_id = c.user_id AND c.ts >= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click" && col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          direction = graft.plans.AsOfDirection.Forward)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X187 NEAREST direction (pandas merge_asof(direction='nearest')):
    // the closer of the latest-earlier and earliest-later clicks, ties
    // deterministically backward. The oracle composes it from DuckDB's
    // two one-sided ASOF joins + a CASE on the gaps — an independent
    // derivation of the same argmin that must agree row-for-row.
    Q("q_join_asof_nearest",
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click' AND event_id % 5 = 0),
        |b AS (SELECT p.event_id AS pid, c.event_id AS cid,
        |             epoch_us(p.ts) - epoch_us(c.ts) AS gap
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND c.ts <= p.ts),
        |f AS (SELECT p.event_id AS pid, c.event_id AS cid,
        |             epoch_us(c.ts) - epoch_us(p.ts) AS gap
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND c.ts >= p.ts)
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       CASE WHEN b.cid IS NOT NULL AND (f.cid IS NULL OR b.gap <= f.gap)
        |            THEN b.cid ELSE f.cid END AS click_id,
        |       CASE WHEN b.cid IS NOT NULL AND (f.cid IS NULL OR b.gap <= f.gap)
        |            THEN b.gap ELSE f.gap END AS gap_us
        |FROM p JOIN b ON b.pid = p.event_id JOIN f ON f.pid = p.event_id
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click" && col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOf(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"),
          direction = graft.plans.AsOfDirection.Nearest)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          abs(unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X189 COMPOSITE-KEY native as-of join: same-day attribution — the
    // key is (user_id, calendar day), so a purchase only matches the
    // user's latest click OF THE SAME DAY (the multi-column key shape
    // real attribution uses: (user, device), (exchange, symbol), …).
    // Both sides cluster and sort on all key columns; a null in any
    // key column matches nothing. Oracle = DuckDB ASOF LEFT JOIN with
    // an extra equality condition — its native composite-key form.
    Q("q_join_asof_multikey",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND CAST(p.ts AS DATE) = CAST(c.ts AS DATE)
        | AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
          to_date(col("ts")).as("day"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.plans.NativeAsOfJoin.asOfKeys(purchases, clicks,
          keys = Seq("user_id", "day"),
          leftTime = "ts", rightTime = "click_ts",
          payloadCols = Seq("click_id", "click_ts"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X193 the nearest-direction native join on a NUMERIC axis — the
    // "time" column is any ordered long, here price cents: every part
    // snaps to its brand's nearest price TIER (tiers = the distinct
    // prices of partkey % 97 == 0 parts) — the quantization /
    // nearest-bucket join shape (snap-to-grid feature binning, price
    // laddering) running on the same exec as temporal as-of. Ties go
    // backward (the lower tier), per the documented rule. Oracle =
    // DuckDB's two one-sided ASOFs + the argmin CASE.
    Q("q_join_asof_numeric",
      """WITH p AS (SELECT p_partkey, p_brand,
        |                  cast(round(p_retailprice * 100) AS bigint) AS cents
        |           FROM part),
        |tier AS (SELECT DISTINCT p_brand, cents FROM p WHERE p_partkey % 97 = 0),
        |b AS (SELECT p.p_partkey AS pk, t.cents AS tc
        |      FROM p ASOF LEFT JOIN tier t
        |        ON p.p_brand = t.p_brand AND t.cents <= p.cents),
        |f AS (SELECT p.p_partkey AS pk, t.cents AS tc
        |      FROM p ASOF LEFT JOIN tier t
        |        ON p.p_brand = t.p_brand AND t.cents >= p.cents)
        |SELECT p.p_partkey, p.p_brand, p.cents,
        |       CASE WHEN b.tc IS NOT NULL AND (f.tc IS NULL OR p.cents - b.tc <= f.tc - p.cents)
        |            THEN b.tc ELSE f.tc END AS tier_cents
        |FROM p JOIN b ON b.pk = p.p_partkey JOIN f ON f.pk = p.p_partkey
        |ORDER BY p.p_partkey""".stripMargin) { (s, dir) =>
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
      val tiers = parts.filter(col("p_partkey") % 97 === 0)
        .select(col("p_brand"), col("cents").as("tier_cents")).distinct()
      graft.plans.NativeAsOfJoin.asOf(parts, tiers, key = "p_brand",
          leftTime = "cents", rightTime = "tier_cents",
          payloadCols = Seq("tier_cents"),
          direction = graft.plans.AsOfDirection.Nearest)
        .select(col("p_partkey"), col("p_brand"), col("cents"), col("tier_cents"))
        .orderBy(col("p_partkey"))
    },

    // X182 the native as-of join through the SQL FRONT DOOR: ONE SQL
    // text — the graft_asof_join table-valued function (registered via
    // injectTableFunction; an injected resolution rule rewrites the
    // placeholder into AsOfJoinNode once the views resolve) — plans the
    // same AsOfJoinExec a DataFrame user gets. SqlFrontDoorSpec pins
    // the exec in the physical plan; the oracle is DuckDB's native
    // ASOF LEFT JOIN, so SQL-surface and engine semantics are
    // hash-locked.
    Q("q_sql_asof_native",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("ga_purchases_v")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
        .createOrReplaceTempView("ga_clicks_v")
      s.sql(
        """SELECT purchase_id, user_id, click_id,
          |       unix_micros(ts) - unix_micros(click_ts) AS gap_us
          |FROM graft_asof_join('ga_purchases_v', 'ga_clicks_v',
          |                     'user_id', 'ts', 'click_ts', 'click_id,click_ts')
          |ORDER BY purchase_id""".stripMargin)
    },

    // X182 the native interval join through the same SQL front door:
    // graft_interval_join(...) → placeholder → IntervalJoinNode →
    // streaming sort-merge exec, from one SQL text. Oracle = the plain
    // range-predicate join (independent semantics).
    Q("q_sql_interval_native",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS click_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'click')
        |SELECT p.click_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY click_id, window_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("t"))
        .createOrReplaceTempView("gi_points_v")
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
        .createOrReplaceTempView("gi_windows_v")
      s.sql(
        """SELECT click_id, user_id, t, window_id, w_end - t AS remaining_us
          |FROM graft_interval_join('gi_points_v', 'gi_windows_v',
          |                         'user_id', 't', 'w_start', 'w_end', 'window_id,w_end')
          |ORDER BY click_id, window_id""".stripMargin)
    },

    // Beyond the reference's window set (SURVEY §2.5 "not present"):
    // dense_rank, ntile, cume_dist, and a RANGE frame — all partitioned
    // by a high-cardinality key, so the same scale shape as W1-W5.
    // Tie-safety: o_totalprice ties are real, so rank functions order by
    // (o_totalprice, o_orderkey) and the RANGE frame runs over the
    // integer orderkey domain where frames are unambiguous.
    Q("q_window_rank_variants",
      """SELECT o_custkey, o_orderkey,
        |       cast(dense_rank() OVER w AS int) AS drk,
        |       cast(ntile(4) OVER w AS int) AS quartile,
        |       round(cume_dist() OVER w, 6) AS cdist,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey
        |         RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS near_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wr = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cdist"),
          round(sum(col("o_totalprice")).over(wr), 2).as("near_sum"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Structured Streaming, oracle-checked end to end: the events table
    // replayed through the FILE SOURCE (readStream), watermarked tumbling
    // 1-hour counts per user (StreamingOps.windowedCounts — the exact
    // operator StreamingSpec batch-equivalence-tests), AvailableNow
    // trigger, memory sink in complete mode; the materialized sink table
    // is the query result. Epoch-aligned tumbling windows = date_trunc in
    // the oracle, so DuckDB hash-checks a real streaming execution — not
    // a batch stand-in. (Complete-mode memory sink collects to the
    // driver: fine for the gate's result sizes; production writes
    // append-mode to a real sink, same plan.)
    Q("q_stream_window_counts",
      """SELECT user_id,
        |       cast(epoch_ms(date_trunc('hour', ts)) AS bigint) AS w_start_ms,
        |       cast(epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS bigint)
        |         AS w_end_ms,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, w_start_ms""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val counts = graft.streaming.StreamingOps.windowedCounts(
        src, "ts", "user_id",
        windowDur = "1 hour", slideDur = "1 hour", watermarkDelay = "30 minutes")
      runToMemorySink(s, counts, sinkName("stream_wc_", dir), staged = staged :: Nil)
        .select(col("user_id"),
          unix_millis(col("w_start")).as("w_start_ms"),
          unix_millis(col("w_end")).as("w_end_ms"),
          col("n_events"))
        .orderBy(col("user_id"), col("w_start_ms"))
    },

    // Streaming gap sessions (session_window: merge-on-overlap state,
    // half-open edges — an event at exactly start+gap opens a NEW
    // session, unlike the strict-> batch Sessionize), same streaming
    // harness. Boundaries compare at MICROsecond precision on both
    // sides (the events carry sub-ms nanos; an ms-floored oracle would
    // disagree at exact-boundary gaps), so start/end export as epoch
    // micros.
    Q("q_stream_sessions",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                          ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM flagged)
        |SELECT user_id, cast(min(us) AS bigint) AS s_start_us,
        |       cast(max(us) + 1800000000 AS bigint) AS s_end_us,
        |       count(*) AS n_events
        |FROM sess GROUP BY user_id, seq
        |ORDER BY user_id, s_start_us""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val sessions = graft.streaming.StreamingOps.sessionWindows(
        src, "ts", "user_id",
        gap = "30 minutes", watermarkDelay = "30 minutes")
      runToMemorySink(s, sessions, sinkName("stream_sess_", dir), staged = staged :: Nil)
        .select(col("user_id"),
          unix_micros(col("s_start")).as("s_start_us"),
          unix_micros(col("s_end")).as("s_end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("s_start_us"))
    },

    // Streaming exact dedup (dropDuplicatesWithinWatermark on
    // (user_id, event_type)), emitted append-mode and counted per event
    // type IN BATCH over the sink table. AvailableNow over one staged
    // file = a single micro-batch, so watermark eviction cannot re-admit
    // a key and the emitted set is exactly the distinct pairs — which
    // the oracle computes relationally. Only KEY columns are emitted:
    // which physical row survives a dedup is partition-order-dependent,
    // the key set is not.
    Q("q_stream_dedup",
      """SELECT event_type, cast(count(DISTINCT user_id) AS int) AS n_users
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val deduped = graft.streaming.StreamingOps.streamingDedup(
          src.select(col("ts"), col("user_id"), col("event_type")),
          tsCol = "ts", keyCol = "user_id", watermarkDelay = "1 hour",
          extraKeyCols = Seq("event_type"))
        .select(col("user_id"), col("event_type"))
      runToMemorySink(s, deduped, sinkName("stream_dd_", dir),
          outputMode = "append", staged = staged :: Nil)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).cast("int").as("n_users"))
        .orderBy(col("event_type"))
    },

    // Custom-state sessionization (flatMapGroupsWithState) through the
    // streaming harness: append mode emits a session only when the NEXT
    // event closes it, so with AvailableNow's single batch the emitted
    // set is every session EXCEPT each user's open last one — exactly
    // what the oracle computes (batch gap sessions minus the max-seq
    // session per user). This hash-checks the arbitrary-state operator
    // end to end, strict-gap edge and all.
    // Stream-static enrichment join — the serving-time dimension-lookup
    // shape (stream fact ⋈ slowly-changing static dim). The static side
    // is a plain batch frame Spark re-plans per micro-batch (broadcast
    // at this size); no watermark is needed for a stream-static INNER
    // join, and the downstream count runs in complete mode. The oracle
    // is the same join run relationally.
    Q("q_stream_static_join",
      """SELECT c_mktsegment AS tier, cast(count(*) AS bigint) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY tier""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = src.join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("tier"))
        .agg(count(lit(1)).as("n_events"))
      runToMemorySink(s, joined, sinkName("stream_st_", dir),
          outputMode = "complete", staged = staged :: Nil)
        .orderBy(col("tier"))
    },

    Q("q_stream_sessions_state",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |flagged AS (
        |  SELECT user_id, ms,
        |         CASE WHEN lag(ms) OVER w IS NULL
        |                OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sess AS (
        |  SELECT user_id, ms,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |                          ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, seq, cast(min(ms) AS bigint) AS start_ms,
        |         cast(max(ms) AS bigint) AS end_ms, count(*) AS n_events
        |  FROM sess GROUP BY user_id, seq),
        |last AS (SELECT user_id, max(seq) AS mseq FROM agg GROUP BY user_id)
        |SELECT a.user_id, a.start_ms, a.end_ms, a.n_events
        |FROM agg a JOIN last l ON a.user_id = l.user_id AND a.seq < l.mseq
        |ORDER BY a.user_id, a.start_ms""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (src, staged) = stagedEventsStream(s, dir)
      val ev = src
        .select(col("user_id"), col("event_id"), col("ts"))
        .as[graft.streaming.StreamingOps.Event]
      val sessions = graft.streaming.StreamingOps
        .sessionizeWithState(ev, gapMs = 1800000L, timeout = "none")
      runToMemorySink(s, sessions.toDF(),
          sinkName("stream_ss_", dir), outputMode = "append", staged = staged :: Nil)
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
    },

    // X188 STREAMING as-of attribution: every purchase matched to the
    // user's latest click within 7 days, as a flatMapGroupsWithState
    // stream — state per user is ONE (click_id, t_us) pair (constant,
    // vs a stream-stream join buffering every click in the interval),
    // the streaming mirror of q_join_asof_tolerance. Oracle = DuckDB
    // ASOF LEFT JOIN + the post-match gap CASE; with AvailableNow the
    // emitted append set must equal the batch join exactly, and the
    // cross-batch state carry (a purchase in batch 2 matching batch
    // 1's click) is pinned separately in StreamingSpec.
    Q("q_stream_asof",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN c.event_id END AS click_id,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (src, staged) = stagedEventsStream(s, dir)
      val ev = src
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .as[graft.streaming.StreamingOps.AttrEvent]
      val attributed = graft.streaming.StreamingOps.asOfWithState(
        ev, sourceType = "click", matchType = "purchase",
        withinUs = Some(604800000000L)) // 7 days
      runToMemorySink(s, attributed.toDF(),
          sinkName("stream_asof_", dir), outputMode = "append", staged = staged :: Nil)
        .select(col("purchase_id"), col("user_id"), col("click_id"), col("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X202 STREAM-STATIC as-of enrichment through the NATIVE broadcast
    // exec: the purchase STREAM joined per micro-batch against a static
    // click dimension via BroadcastAsOfJoinExec — fully STATELESS (no
    // state store, no watermark: the static side is complete, so every
    // batch's answer is final), zero shuffle of the stream, the shape a
    // 100 TB enrichment topology actually runs for slowly-changing
    // dimensions. Complements X188 (stream-vs-own-history, which NEEDS
    // per-user state). With AvailableNow the appended set must equal
    // the batch join — oracle = DuckDB ASOF LEFT JOIN;
    // StreamingSpec pins the exec + statelessness in the streaming plan.
    Q("q_stream_asof_static",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       c.event_id AS click_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = t(s, dir, "events").filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
      val joined = graft.plans.NativeAsOfJoin.asOf(purchases, clicks,
        key = "user_id", leftTime = "ts", rightTime = "cts",
        payloadCols = Seq("click_id", "cts"), broadcast = Some(true))
      runToMemorySink(s, joined, sinkName("stream_asof_static_", dir),
          outputMode = "append", staged = staged :: Nil)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // X214 STREAM-STATIC interval enrichment through the NATIVE
    // broadcast exec: the purchase STREAM joined per micro-batch
    // against static signup windows via BroadcastIntervalJoinExec —
    // fully STATELESS like X202's as-of sibling (the static side is
    // complete, every batch's answer is final; no state store, no
    // watermark), zero shuffle of the stream. With AvailableNow the
    // appended set must equal the batch containment join — oracle =
    // the plain range-predicate join.
    Q("q_stream_interval_static",
      """WITH w AS (SELECT user_id, event_id AS window_id,
        |                  cast(epoch_us(ts) AS bigint) AS w_start,
        |                  cast(epoch_us(ts) AS bigint)
        |                    + CAST(round(value * 3600000000) AS BIGINT) AS w_end
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id, cast(epoch_us(ts) AS bigint) AS t
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.t, w.window_id,
        |       cast(w.w_end - p.t AS bigint) AS remaining_us
        |FROM p JOIN w ON p.user_id = w.user_id AND p.t BETWEEN w.w_start AND w.w_end
        |ORDER BY purchase_id, window_id""".stripMargin) { (s, dir) =>
      val (src, staged) = stagedEventsStream(s, dir)
      val points = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("t"))
      val windows = t(s, dir, "events").filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("window_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) +
            round(col("value") * 3600000000L).cast("long")).as("w_end"))
      val joined = graft.plans.NativeIntervalJoin.contain(points, windows,
        key = "user_id", pointTime = "t", startCol = "w_start",
        endCol = "w_end", payloadCols = Seq("window_id", "w_end"),
        broadcast = Some(true))
      runToMemorySink(s, joined, sinkName("stream_iv_static_", dir),
          outputMode = "append", staged = staged :: Nil)
        .select(col("purchase_id"), col("user_id"), col("t"), col("window_id"),
          (col("w_end") - col("t")).as("remaining_us"))
        .orderBy(col("purchase_id"), col("window_id"))
    },

    // Stream-stream interval join (view→click attribution within 6
    // hours per user) — the one streaming shape the surface lacked. TWO
    // independent file-source streams (each its own staged directory),
    // watermarked on both sides so each join buffer's state is bounded
    // by watermark + interval; with AvailableNow's single batch the
    // emitted append set is exactly the batch interval join, which the
    // oracle computes relationally. Boundary compares at MICROsecond
    // precision on both engines (see q_stream_sessions).
    Q("q_stream_join",
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |       c.event_id AS click_id,
        |       cast(epoch_us(v.ts) AS bigint) AS view_us,
        |       cast(epoch_us(c.ts) AS bigint) AS click_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
        |ORDER BY user_id, view_id, click_id""".stripMargin) { (s, dir) =>
      val (vsrc, vstaged) = stagedEventsStream(s, dir)
      val (csrc, cstaged) = stagedEventsStream(s, dir)
      val views = vsrc.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val clicks = csrc.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val joined = graft.streaming.StreamingOps.intervalJoin(
        views, clicks, leftKey = "user_id", rightKey = "c_user",
        leftTs = "v_ts", rightTs = "c_ts",
        maxDelay = "6 hours", watermarkDelay = "30 minutes")
      runToMemorySink(s, joined, sinkName("stream_j_", dir),
          outputMode = "append", staged = Seq(vstaged, cstaged))
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_micros(col("v_ts")).as("view_us"),
          unix_micros(col("c_ts")).as("click_us"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    })

  /** The streaming oracle harness's source: the events table staged into
    * a FRESH per-invocation arrival directory (the file source streams a
    * DIRECTORY it tails — the production shape; `createTempDirectory`
    * rules out cross-run collisions a fixed hash-keyed path allowed) and
    * read back with the SAME type-adaptive ts normalization as
    * Tables.load (the file source needs an explicit schema; nanosAsLong
    * applies to it too when the fixture is TIMESTAMP(NANOS)). The
    * returned path is handed to `runToMemorySink`, which deletes it once
    * the stream terminates.
    */
  private def stagedEventsStream(s: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val inDir = java.nio.file.Files.createTempDirectory("graft_streamin_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      inDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    (s.readStream.schema(schema).parquet(inDir.toString)
      .withColumn("ts", graft.Tables.normalizeEventsTs(schema("ts").dataType)), inDir)
  }

  /** Memory-sink view name: the full sanitized dataset path, so two
    * datasets can never collide the way a 32-bit hashCode key could
    * (re-running the SAME query+dataset reuses its name — the restart
    * replaces the view, bounding view count at queries × datasets).
    */
  private def sinkName(prefix: String, dir: String): String =
    prefix + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Run a streaming query to completion (AvailableNow) into a memory
    * sink and return the materialized sink table, deleting the staged
    * arrival directories once the stream has terminated. Memory sinks
    * collect to the driver — fine for gate result sizes; production
    * writes to a real sink with the same plan.
    *
    * The stateful shuffle is narrowed to 4 partitions for the stream's
    * lifetime: a streaming query opens/commits one state store PER
    * shuffle partition PER micro-batch, and this harness replays one
    * small batch — at the session's width (32) the per-store overhead
    * dominates wall time ~5:1 (measured on the interval join). The width
    * is pinned at query start from the session conf, so the temporary
    * setting is restored immediately after termination; results are
    * partitioning-independent. Production streams size this to their
    * key cardinality instead.
    */
  private def runToMemorySink(s: SparkSession, df: DataFrame, name: String,
      outputMode: String = "complete",
      staged: Seq[java.nio.file.Path] = Nil): DataFrame = {
    val prevWidth = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val sq = df.writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevWidth)
      // staged deletion sits in the finally so a stream that THROWS
      // doesn't leak its per-invocation arrival copy
      staged.foreach(graft.LocalFs.deleteRec)
    }
    s.table(name)
  }
}
