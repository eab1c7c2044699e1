package graft

import graft.plans.{AsOfDirection, AsOfJoinNode, NativeAsOfJoin}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The native whole-operator as-of join (logical node → strategy →
  * sort-merge exec, injected via SparkSessionExtensions) against
  * hand-computed expectations, the brute-force reference model on the
  * events fixture, and its plan shape.
  */
class NativeAsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private lazy val quotes = Seq(
    // (key, time, px)
    ("A", ts(10), 1.0), ("A", ts(20), 2.0), ("A", ts(30), 3.0),
    ("B", ts(15), 10.0),
    ("D", ts(5), 99.0)
  ).toDF("sym", "qts", "px")

  private lazy val trades = Seq(
    ("A", ts(5), 100L),  // before any quote -> null
    ("A", ts(20), 101L), // tie matches the t=20 quote
    ("A", ts(25), 102L), // between -> t=20 quote
    ("A", ts(99), 103L), // after all -> t=30 quote
    ("B", ts(14), 104L), // one-off miss -> null
    ("C", ts(50), 105L)  // key with no quotes at all -> null
  ).toDF("sym", "tts", "trade_id")

  test("hand-computed matches: ties, misses, absent keys, pass-through order") {
    val got = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got === Map(
      100L -> null, 101L -> 2.0, 102L -> 2.0, 103L -> 3.0,
      104L -> null, 105L -> null))
  }

  test("inner mode drops exactly the unmatched left rows the outer mode nulls") {
    val outer = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
      .select($"trade_id", $"px")
    val inner = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        joinType = org.apache.spark.sql.catalyst.plans.Inner)
      .select($"trade_id", $"px")
    val got = inner.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // trades 100 (before any A quote), 104 (before B's quote) and 105
    // (key C has no quotes) are unmatched: nulled by outer, gone here
    assert(got === Map(101L -> 2.0, 102L -> 2.0, 103L -> 3.0))
    assert(outer.count() === trades.count(), "outer keeps every left row")
    assert(outer.filter($"px".isNull).count() === 3)
    assert(inner.exceptAll(outer.filter($"px".isNotNull)).isEmpty &&
      outer.filter($"px".isNotNull).exceptAll(inner).isEmpty,
      "inner == outer minus the null-payload rows")
  }

  test("tolerance: an out-of-window latest match nulls (outer) or drops (inner)") {
    // trade 102 at t=25 matches the t=20 quote with gap 5 s; trade 103
    // at t=99 has latest quote t=30, gap 69 s — outside within=10 s.
    // NO fallback: 103 must not reach back to an older quote either.
    val outer = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        within = Some(10L * 1000000L)) // timestamps compare in micros
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(outer === Map(
      100L -> null, 101L -> 2.0, 102L -> 2.0, 103L -> null,
      104L -> null, 105L -> null))
    val inner = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        joinType = org.apache.spark.sql.catalyst.plans.Inner,
        within = Some(10L * 1000000L))
      .select($"trade_id", $"px").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inner === Map(101L -> 2.0, 102L -> 2.0),
      "inner drops the out-of-window row entirely")
  }

  test("forward direction: earliest at-or-after match; ties at equal time match") {
    val got = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        direction = graft.plans.AsOfDirection.Forward)
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    // 100 (t=5) -> first A quote t=10; 101 (t=20) -> tie, t=20; 102
    // (t=25) -> t=30; 103 (t=99) -> nothing after; 104 (B t=14) -> B's
    // t=15; 105 (C) -> no quotes
    assert(got === Map(
      100L -> 1.0, 101L -> 2.0, 102L -> 3.0, 103L -> null,
      104L -> 10.0, 105L -> null))
  }

  test("nearest direction: argmin gap over both sides, exact ties go backward") {
    val got = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        direction = graft.plans.AsOfDirection.Nearest)
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    // 100: only forward (t=10); 101: exact backward hit (gap 0);
    // 102 (t=25): backward t=20 gap 5 TIES forward t=30 gap 5 ->
    // backward wins deterministically; 103: only backward (t=30);
    // 104: forward t=15 (gap 1) beats nothing backward; 105: none
    assert(got === Map(
      100L -> 1.0, 101L -> 2.0, 102L -> 2.0, 103L -> 3.0,
      104L -> 10.0, 105L -> null))
  }

  test("nearest + tolerance: both sides must respect the bound") {
    // within=6s: 103's nearest (backward t=30, gap 69s) is out of
    // bounds -> null; 102's tie (gap 5s) survives
    val got = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
        within = Some(6L * 1000000L),
        direction = graft.plans.AsOfDirection.Nearest)
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got === Map(
      100L -> 1.0, 101L -> 2.0, 102L -> 2.0, 103L -> null,
      104L -> 10.0, 105L -> null))
  }

  test("composite keys: matches stay inside the (sym, venue) group; null key matches nothing") {
    val q2 = Seq(
      ("A", "X", ts(10), 1.0), ("A", "Y", ts(12), 7.0),
      (null.asInstanceOf[String], "X", ts(1), 9.9)
    ).toDF("sym", "venue", "qts", "px")
    val t2 = Seq(
      ("A", "X", ts(20), 1L),  // only the (A, X) quote qualifies
      ("A", "Y", ts(20), 2L),  // only the (A, Y) quote
      ("A", "Z", ts(20), 3L),  // no quotes on venue Z
      (null.asInstanceOf[String], "X", ts(20), 4L) // null key -> no match
    ).toDF("sym", "venue", "tts", "trade_id")
    val got = NativeAsOfJoin.asOfKeys(t2, q2, keys = Seq("sym", "venue"),
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
      .select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got === Map(1L -> 1.0, 2L -> 7.0, 3L -> null, 4L -> null))
  }

  test("composite keys through the SQL TVF (CSV key argument)") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts", to_date($"ts").as("day"))
      .createOrReplaceTempView("mk_purchases")
    ev.filter($"event_type" === "click")
      .select($"user_id", to_date($"ts").as("day"), $"ts".as("click_ts"),
        $"event_id".as("click_id"))
      .createOrReplaceTempView("mk_clicks")
    val viaSql = spark.sql(
      """SELECT purchase_id, click_id
        |FROM graft_asof_join('mk_purchases', 'mk_clicks',
        |                     'user_id,day', 'ts', 'click_ts', 'click_id')""".stripMargin)
    val viaDf = NativeAsOfJoin.asOfKeys(
        spark.table("mk_purchases"), spark.table("mk_clicks"),
        keys = Seq("user_id", "day"), leftTime = "ts", rightTime = "click_ts",
        payloadCols = Seq("click_id"))
      .select($"purchase_id", $"click_id")
    assert(viaSql.exceptAll(viaDf).isEmpty && viaDf.exceptAll(viaSql).isEmpty)
    // the day key genuinely restricts: strictly more nulls than the
    // single-key join
    val singleKey = NativeAsOfJoin.asOf(
        spark.table("mk_purchases").drop("day"), spark.table("mk_clicks").drop("day"),
        key = "user_id", leftTime = "ts", rightTime = "click_ts",
        payloadCols = Seq("click_id"))
    assert(viaDf.filter($"click_id".isNull).count() >
      singleKey.filter($"click_id".isNull).count())
  }

  test("tolerance requires a numeric/timestamp time column") {
    val l = Seq(("A", "x", 1L)).toDF("k", "t", "id")
    val r = Seq(("A", "x", 7.0)).toDF("k", "t", "px")
    val e = intercept[IllegalArgumentException] {
      NativeAsOfJoin.asOf(l, r, "k", "t", "t", Seq("px"), within = Some(5L))
    }
    assert(e.getMessage.contains("within="), e.getMessage)
  }

  test("exec reports SQLMetrics: output/matched/unmatched row counts") {
    val df = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
      leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
      broadcast = Some(false)) // pin the sort-merge exec
    df.collect()
    val exec = TestSpark.findExec[graft.plans.AsOfJoinExec](df.queryExecution.executedPlan)
      .getOrElse(fail("AsOfJoinExec missing from the executed plan"))
    assert(exec.metrics("numOutputRows").value === 6L)
    assert(exec.metrics("numMatchedLeftRows").value === 3L)
    assert(exec.metrics("numUnmatchedLeftRows").value === 3L)
  }

  test("broadcast exec: same results, same SQLMetrics, on the hand-computed fixture") {
    val df = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
      leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"),
      broadcast = Some(true))
    // collect df ITSELF (a derived .select gets its own exec instance —
    // its metrics would leave this one untouched)
    val rows = df.collect()
    val got = rows.map { r =>
      val pxAt = r.fieldIndex("px")
      r.getLong(r.fieldIndex("trade_id")) ->
        (if (r.isNullAt(pxAt)) null else r.getDouble(pxAt))
    }.toMap
    assert(got === Map(
      100L -> null, 101L -> 2.0, 102L -> 2.0, 103L -> 3.0,
      104L -> null, 105L -> null))
    val exec = TestSpark.findExec[graft.plans.BroadcastAsOfJoinExec](
        df.queryExecution.executedPlan)
      .getOrElse(fail("BroadcastAsOfJoinExec missing from the executed plan"))
    assert(exec.metrics("numOutputRows").value === 6L)
    assert(exec.metrics("numMatchedLeftRows").value === 3L)
    assert(exec.metrics("numUnmatchedLeftRows").value === 3L)
  }

  test("broadcast plan: ZERO exchange and zero sort on the left side") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"), $"event_id".as("click_id"))
    val df = NativeAsOfJoin.asOf(purchases, clicks, "user_id", "ts", "cts",
      Seq("click_id"), broadcast = Some(true))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastAsOfJoin"), "broadcast exec must plan:\n" + p)
    assert(!p.contains("Exchange hashpartitioning"),
      "no hash shuffle anywhere — the huge left side is joined in place:\n" + p)
    assert(!p.contains("Sort "), "no sort on either side:\n" + p)
    assert(p.contains("BroadcastExchange"), "right side ships via broadcast:\n" + p)
  }

  test("auto-selection: tiny right side picks broadcast, threshold -1 pins sort-merge") {
    val auto = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
      leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
    assert(TestSpark.findExec[graft.plans.BroadcastAsOfJoinExec](
      auto.queryExecution.executedPlan).isDefined,
      "a kilobyte right side under the default 10MB threshold must auto-broadcast")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sm = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
      assert(TestSpark.findExec[graft.plans.AsOfJoinExec](
        sm.queryExecution.executedPlan).isDefined,
        "threshold -1 must disable auto-broadcast, like builtin join selection")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("functions.broadcast(right) hint picks the broadcast exec, like builtin joins") {
    // EliminateResolvedHint only moves hints into Join nodes — the front
    // door absorbs it instead, so the standard idiom works here too.
    // Pin threshold -1 so only the HINT can be selecting broadcast.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = NativeAsOfJoin.asOf(trades, broadcast(quotes), key = "sym",
        leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
      assert(TestSpark.findExec[graft.plans.BroadcastAsOfJoinExec](
        df.queryExecution.executedPlan).isDefined,
        "hint must win over the disabled threshold:\n" + df.queryExecution.executedPlan)
      val got = df.select($"trade_id", $"px").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      assert(got === Map(100L -> null, 101L -> 2.0, 102L -> 2.0, 103L -> 3.0,
        104L -> null, 105L -> null))
      val iv = graft.plans.NativeIntervalJoin.contain(
        Seq(("A", 5L, 1L)).toDF("k", "t", "pid"),
        broadcast(Seq(("A", 0L, 10L, 7L)).toDF("k", "s", "e", "wid")),
        "k", "t", "s", "e", Seq("wid"))
      assert(TestSpark.findExec[graft.plans.BroadcastIntervalJoinExec](
        iv.queryExecution.executedPlan).isDefined, "interval hint too")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("stats propagate: a join ABOVE the as-of output can broadcast it") {
    // the size-only visitor default for an unknown BinaryNode is the
    // PRODUCT of child sizes — under that, the tiny as-of output below
    // would never be seen as broadcast-able by the join above it
    val node = NativeAsOfJoin.asOf(trades, quotes, key = "sym",
      leftTime = "tts", rightTime = "qts", payloadCols = Seq("px"))
    val asOfStats = node.queryExecution.optimizedPlan.stats
    val lStats = trades.queryExecution.optimizedPlan.stats
    assert(asOfStats.sizeInBytes >= lStats.sizeInBytes,
      "output carries the left rows plus payload")
    assert(asOfStats.sizeInBytes < lStats.sizeInBytes * 4,
      s"stats must scale with the LEFT side, not the child product: $asOfStats")
    // planner-level: pick a threshold between the as-of output size and
    // the child product, and check the join above broadcasts the as-of
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val ev = Tables.load(spark, TestSpark.sf0001, "events")
        .select($"event_id".as("trade_id"), $"value")
      val joined = node.join(ev, Seq("trade_id"))
      joined.collect()
      assert(TestSpark.findExec[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec](
        joined.queryExecution.executedPlan).isDefined,
        "the small as-of output must be the broadcast side:\n" +
          joined.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("mismatched key or time dtypes fail fast instead of silently miscomparing") {
    val l = Seq((1, ts(10), 1L)).toDF("k", "t", "id") // int key
    val r = Seq((1L, ts(5), 7.0)).toDF("k", "t", "px") // bigint key
    val eKey = intercept[IllegalArgumentException] {
      NativeAsOfJoin.asOf(l, r, key = "k", leftTime = "t", rightTime = "t",
        payloadCols = Seq("px"))
    }
    assert(eKey.getMessage.contains("key dtype mismatch"), eKey.getMessage)
    val r2 = Seq((1, 5L, 7.0)).toDF("k", "t", "px") // bigint time vs timestamp
    val eTime = intercept[IllegalArgumentException] {
      NativeAsOfJoin.asOf(l, r2, key = "k", leftTime = "t", rightTime = "t",
        payloadCols = Seq("px"))
    }
    assert(eTime.getMessage.contains("time dtype mismatch"), eTime.getMessage)
  }

  test("null keys and null times never match, on either side") {
    val l = Seq((Some("A"), Some(ts(50)), 1L), (None, Some(ts(50)), 2L),
      (Some("A"), Option.empty[Timestamp], 3L)).toDF("k", "t", "id")
    val r = Seq((Some("A"), Some(ts(10)), 7.0), (Some("A"), Option.empty[Timestamp], 8.0),
      (Option.empty[String], Some(ts(1)), 9.0)).toDF("k", "rt", "v")
    val got = NativeAsOfJoin.asOf(l, r, "k", "t", "rt", Seq("v"))
      .select($"id", $"v").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) null else x.getDouble(1))).toMap
    assert(got === Map(1L -> 7.0, 2L -> null, 3L -> null))
  }

  test("native == brute-force reference model on the events fixture") {
    import NativeAsOfJoinPropSpec.{L, R, reference}
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"), $"event_id".as("click_id"))
    val native = NativeAsOfJoin.asOf(purchases, clicks, "user_id", "ts", "cts",
        Seq("click_id", "cts"))
      .select($"purchase_id", $"click_id", unix_micros($"cts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
      .sortBy(_._1).toSeq
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val l = purchases.select($"user_id", unix_micros($"ts"), $"purchase_id").collect()
      .map(r => L(opt(r, 0), opt(r, 1), r.getLong(2))).toSeq
    val rr = clicks.select($"user_id", unix_micros($"cts"), $"click_id").collect()
      .map(r => R(opt(r, 0), opt(r, 1), (r.getLong(2), r.getLong(1)))).toSeq
    val want = reference(l, rr, inner = false, tol = None, AsOfDirection.Backward)
      .sortBy(_._1)
    assert(native.length === l.length, "left-outer: one row per left row")
    assert(want.count(_._2.isDefined) > 0, "the fixture must exercise matches")
    assert(native === want, "native as-of must agree with the reference row-for-row")
  }

  test("plan: AsOfJoin exec with one shuffle+sort per side, no window, no union") {
    val p = SparkEntry.queries("q_join_asof_native")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), "native exec must plan:\n" + p)
    assert(!p.contains("Window") && !p.contains("Union"),
      "native path must not fall back to the union+window composition:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "exactly one hash shuffle per side:\n" + p)
  }

  test("optimizer rule pushes left-only filters below the node, into the scan") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"), $"event_id".as("click_id"))
    val joined = NativeAsOfJoin.asOf(purchases, clicks, "user_id", "ts", "cts",
        Seq("click_id"))
      .filter($"purchase_id" % 7 === 0)
    val opt = joined.queryExecution.optimizedPlan
    val node = opt.collectFirst { case a: AsOfJoinNode => a }
    assert(node.isDefined, "as-of node must survive optimization:\n" + opt)
    assert(opt.collectFirst { case f: Filter if f.child.isInstanceOf[AsOfJoinNode] => f }.isEmpty,
      "left-only predicate must not remain above the node:\n" + opt)
    // The pushed predicate is rewritten through the projection
    // (purchase_id -> event_id) and merged into the scan-level filter.
    assert(node.get.left.collectFirst {
      case f: Filter if f.condition.toString.contains("% 7") => f
    }.nonEmpty, "predicate must move into the left subtree:\n" + opt)
    // and the result still matches running the filter before the join
    val pre = NativeAsOfJoin.asOf(
      purchases.filter($"purchase_id" % 7 === 0), clicks,
      "user_id", "ts", "cts", Seq("click_id"))
    assert(joined.exceptAll(pre).isEmpty && pre.exceptAll(joined).isEmpty)
  }

  test("right side prunes to (key, time, payload) only") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
    val df = NativeAsOfJoin.asOf(
      purchases,
      clicks.select($"user_id", $"ts".as("cts"), $"event_id".as("click_id"),
        $"event_type", $"value", $"props"),
      "user_id", "ts", "cts", Seq("click_id"))
    val node = df.queryExecution.optimizedPlan
      .collectFirst { case a: AsOfJoinNode => a }.get
    assert(node.right.output.map(_.name).toSet === Set("user_id", "cts", "click_id"),
      "unused right columns must not reach the exec: " + node.right.output)
  }
}
