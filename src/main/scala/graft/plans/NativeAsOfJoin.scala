package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, GenericInternalRow, JoinedRow, PredicateHelper,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode,
  Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge

/** Native as-of join — the whole-operator rung of the custom-operator
  * ladder: a first-class [[AsOfJoinNode]] logical plan, planned by
  * [[AsOfJoinStrategy]] (injected via `SparkSessionExtensions`) into
  * [[AsOfJoinExec]], a sort-merge physical operator.
  *
  * Semantics (asserted against a brute-force reference model in
  * `NativeAsOfJoinPropSpec` and against DuckDB's ASOF JOIN by the
  * oracles): for each left row, the LATEST right row of the same key
  * with `rightTime <= leftTime`; ties at equal time match.
  * [[AsOfDirection.Forward]] flips the search (EARLIEST `rightTime >=
  * leftTime` — the still-streaming mirror: the candidate is peeked, not
  * consumed); [[AsOfDirection.Nearest]] takes the closer of the two,
  * ties backward — full pandas `merge_asof(direction=...)` parity.
  * `joinType` picks what happens to a left row with no earlier right
  * row: [[LeftOuter]] (the default — DuckDB's `ASOF LEFT JOIN`, and the
  * reference's own left-outer-then-filter match pipeline,
  * src/preprocess.py:450-461) keeps it with null payload columns;
  * [[Inner]] (DuckDB's plain `ASOF JOIN`) drops it. `tolerance` bounds
  * the lookback (pandas `merge_asof(tolerance=...)`): a left row whose
  * latest candidate sits more than `tolerance` time-units in the past
  * is unmatched — there is no fallback to an older candidate. SQL-null semantics
  * throughout: a null key or time on either side never matches
  * anything (and under Inner such left rows are dropped too).
  *
  * 100 TB design: `requiredChildDistribution` clusters each side on its
  * key and `requiredChildOrdering` asks for (key, time) — so Catalyst's
  * EnsureRequirements plans exactly ONE hash shuffle + sort per side
  * (the sort-merge-join shape). The per-partition merge zips the two
  * children pairwise — the same consumption pattern as Spark's own
  * `SortMergeJoinExec`; alignment is the framework's planning-time
  * guarantee (EnsureRequirements plans both exchanges from the
  * required distributions, ValidateRequirements re-checks after every
  * AQE rewrite, and `zipPartitions` itself rejects unequal counts).
  * Under AQE, [[org.apache.spark.sql.graftbridge.OptimizeSkewedGraftJoin]]
  * (the engine's mirror of Spark's `OptimizeSkewedJoin`, injected as a
  * query-stage-prep rule) splits a skewed LEFT partition into map-range
  * slices and duplicates the matching right partition per slice —
  * `isSkewJoin = true` then relaxes the distribution requirement
  * exactly like `SortMergeJoinExec(isSkewJoin = true)`, so a hot key
  * no longer creates a straggler task. The merge itself is
  * a streaming single pass per partition holding ONE buffered right row
  * group — O(|L|+|R|) with O(1) memory, regardless of history depth;
  * each side shuffles once, carrying only its own columns.
  *
  * Right (key, time) pairs should be unique for a deterministic payload
  * (at equal times the last row in sort order wins) — same caveat as
  * DuckDB's ASOF JOIN.
  */
/** Match direction — pandas `merge_asof(direction=...)` parity.
  * [[AsOfDirection.Backward]] (default): latest right row with
  * `rightTime <= leftTime`. [[AsOfDirection.Forward]]: earliest right
  * row with `rightTime >= leftTime`. [[AsOfDirection.Nearest]]: the
  * closer of the two (ties go backward — documented, deterministic).
  */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Forward extends AsOfDirection
  case object Nearest extends AsOfDirection

  def parse(s: String): AsOfDirection = s.toLowerCase match {
    case "backward" => Backward
    case "forward" => Forward
    case "nearest" => Nearest
    case other => throw new IllegalArgumentException(
      s"asOf: direction must be 'backward', 'forward' or 'nearest', got '$other'")
  }
}

case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute],
    joinType: JoinType = LeftOuter,
    tolerance: Option[Long] = None,
    direction: AsOfDirection = AsOfDirection.Backward,
    broadcast: Option[Boolean] = None) extends BinaryNode {
  require(joinType == LeftOuter || joinType == Inner,
    s"AsOfJoinNode: joinType must be LEFT OUTER or INNER, got $joinType")
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    s"AsOfJoinNode: need >= 1 key and equal key counts, " +
      s"got ${leftKeys.length} vs ${rightKeys.length}")
  require(tolerance.forall(_ >= 0L),
    s"AsOfJoinNode: tolerance must be >= 0, got $tolerance")

  override def output: Seq[Attribute] =
    if (joinType == LeftOuter) left.output ++ payload.map(_.withNullability(true))
    else left.output ++ payload

  override def maxRows: Option[Long] = left.maxRows

  /** Stats propagation (a BinaryNode without this gets the visitor
    * default — the PRODUCT of the children's sizes — so any join planned
    * ABOVE an as-of output would never see it as broadcast-able, even
    * when the as-of output is a few kilobytes). The operator emits
    * exactly one row per left row (LeftOuter) or at most that (Inner),
    * each widened by the payload columns: size = left size scaled by the
    * output/left row-width ratio, rowCount forwarded from the left.
    */
  override def stats: Statistics = {
    val l = left.stats
    val lWidth = BigInt((1 max left.output.map(_.dataType.defaultSize).sum).toLong)
    val outWidth = lWidth + payload.map(_.dataType.defaultSize).sum
    Statistics(
      sizeInBytes = (l.sizeInBytes * outWidth / lWidth).max(1),
      rowCount = l.rowCount)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] as [[AsOfJoinExec]] (sort-merge, big×big) or
  * [[BroadcastAsOfJoinExec]] (small right side): `node.broadcast`
  * forces a side when set; otherwise the strategy auto-selects exactly
  * like Spark's own JoinSelection — broadcast when the right child's
  * stats fit under `spark.sql.autoBroadcastJoinThreshold` (and the
  * threshold isn't -1). The canonical 100 TB attribution shape — a huge
  * event stream against a small ticks/dimension table — then pays ZERO
  * exchange and zero sort on the big side.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val autoSmall = thr > 0 && n.right.stats.sizeInBytes <= thr
      if (n.broadcast.getOrElse(autoSmall))
        BroadcastAsOfJoinExec(n.leftKeys, n.rightKeys, n.leftTime, n.rightTime,
          n.payload, n.joinType, n.tolerance, n.direction,
          planLater(n.left), planLater(n.right)) :: Nil
      else
        AsOfJoinExec(n.leftKeys, n.rightKeys, n.leftTime, n.rightTime,
          n.payload, n.joinType, n.tolerance, n.direction,
          planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule (injected via `injectOptimizerRule`): a Filter above
  * the as-of join whose predicates only touch LEFT columns moves below
  * the join, where the builtin rules can carry it all the way into the
  * scan — the pushdown Catalyst cannot do by itself through a black-box
  * node. Right-side or mixed predicates stay above (a right-side
  * predicate above an OUTER as-of filters post-match payload values —
  * pushing it below would change which rows match).
  */
object PushLeftFiltersThroughAsOf extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinNode) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(push.reduce(org.apache.spark.sql.catalyst.expressions.And), a.left))
        keep.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Sort-merge as-of join: children arrive clustered by key and sorted by
  * (key, time); each partition is merged in one streaming pass.
  *
  * `tolerance` (pandas `merge_asof(tolerance=...)` semantics) bounds the
  * lookback: a left row only matches when `leftTime − rightTime <=
  * tolerance` against its LATEST qualifying right row — no fallback to
  * an older one (the latest row maximizes rightTime, so if it misses the
  * bound every earlier row does too). Unbounded lookback is a
  * correctness smell at 100 TB (a purchase attributed to a click from
  * months ago); real attribution pipelines pass `within`.
  *
  * Codegen audit (round 14): the exec is interpreted row-at-a-time (no
  * whole-stage codegen), but its projections ARE codegen'd
  * UnsafeProjections and the merge loop is a hand-rolled iterator (no
  * per-row allocation). `count()` cannot prune columns through this
  * black-box node, so the match is always computed; the interpretive
  * overhead is accepted — `doProduce`/`doConsume` support would couple
  * the exec to codegen internals for a bounded win.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute], joinType: JoinType,
    tolerance: Option[Long], direction: AsOfDirection,
    left: SparkPlan, right: SparkPlan,
    isSkewJoin: Boolean = false) extends SparkPlan with BinaryExecNode {

  // the same dark-spot problem as any exec without metrics: at scale
  // the Spark UI shows every builtin join's row counts — this operator
  // must not be the one blind node (reference: SortMergeJoinExec)
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedLeftRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched left rows"),
    "numUnmatchedLeftRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of unmatched left rows"))

  override def output: Seq[Attribute] =
    if (joinType == LeftOuter) left.output ++ payload.map(_.withNullability(true))
    else left.output ++ payload

  // isSkewJoin: OptimizeSkewedGraftJoin has already re-arranged the
  // shuffle reads into aligned (left-slice, full-right) pairs — the
  // children no longer satisfy ClusteredDistribution (a hot key spans
  // several left slices) and must not be re-exchanged; the same
  // contract as SortMergeJoinExec(isSkewJoin = true).
  override def requiredChildDistribution: Seq[Distribution] =
    if (isSkewJoin) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  // Left rows pass through in their sorted order, one output row each.
  // Under skew-splitting a key spans several output partitions, so the
  // clustered partitioning no longer holds for operators above.
  override def outputPartitioning: Partitioning =
    if (isSkewJoin)
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
        left.outputPartitioning.numPartitions)
    else left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def nodeName: String =
    if (isSkewJoin) super.nodeName + "(skew=true)" else super.nodeName

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    val inner = joinType == Inner
    val (lks, rks, lt, rt, pay) = (leftKeys, rightKeys, leftTime, rightTime, payload)
    val tol = tolerance
    val dir = direction
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatchedLeftRows")
    val numUnmatched = longMetric("numUnmatchedLeftRows")
    // tolerance needs the numeric time value (micros for timestamps) —
    // buildNode restricts the time dtype to these when tolerance is set
    val timeAsLong: InternalRow => Long = lt.dataType match {
      case org.apache.spark.sql.types.IntegerType => r => r.getInt(0).toLong
      case _ => r => r.getLong(0) // LongType / TimestampType(_NTZ) micros
    }
    // Pairwise partition zip — the same consumption pattern as Spark's
    // SortMergeJoinExec. Alignment is the framework's guarantee:
    // EnsureRequirements plans both exchanges from the required
    // distributions in child order, ValidateRequirements re-checks the
    // plan after every AQE rewrite, OptimizeSkewedGraftJoin constructs
    // its slice/duplicate spec lists pairwise-aligned by construction,
    // and zipPartitions itself rejects unequal partition counts.
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lks, leftOut)
      val rKeyProj = UnsafeProjection.create(rks, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val payloadProj = UnsafeProjection.create(pay, rightOut)
      // Bind against NULLABLE payload attrs: unmatched OUTER left rows
      // read the all-null payload row, so the bound reference must
      // null-check even when the right column itself is non-nullable.
      val resultProj =
        UnsafeProjection.create(outAttrs, leftOut ++ pay.map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lks.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val nullPayload = new GenericInternalRow(pay.length)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // Latest right row consumed so far: its key (copied), payload
      // (copied) and numeric time. Because both sides stream in
      // (key, time) order, the right cursor only ever moves forward.
      var lastKey: UnsafeRow = null
      var lastVal: UnsafeRow = null
      var lastTime = 0L
      val tolBound = tol.getOrElse(Long.MaxValue)
      // Forward: the candidate is the first right row AT OR AFTER the
      // left time — it is PEEKED, never consumed (later left rows may
      // need it too); rows strictly before the left time are dead for
      // every later left row (times ascend) and are discarded.
      // Backward/Nearest: rows at or before the left time are consumed,
      // tracking the latest (the backward candidate).
      val fwdOnly = dir == AsOfDirection.Forward
      val useFwd = dir != AsOfDirection.Backward
      val useBwd = !fwdOnly
      // gap arithmetic (tolerance / nearest) reads numeric time values;
      // buildNode restricts the time dtype when either is requested.
      // Without them the <= Long.MaxValue checks are vacuously true, so
      // non-numeric orderable time types stay correct under Backward.
      // Hand-rolled iterator, not lIter.flatMap + Iterator.single: the
      // exec is not whole-stage-codegen'd (see class doc), so the merge
      // loop IS the hot path.
      new Iterator[InternalRow] {
        private var pending: InternalRow = null
        private def computeNext(): Unit = {
          while (pending == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lKeyRow = lKeyProj(lRow)
            val lTimeRow = lTimeProj(lRow)
            if (lKeyRow.anyNull || lTimeRow.isNullAt(0)) {
              // SQL semantics: null never equals / never compares.
              numUnmatched += 1
              if (!inner) {
                numOutputRows += 1
                pending = resultProj(joined(lRow, nullPayload))
              }
            } else {
              var done = false
              while (!done && rBuf.hasNext) {
                val head = rBuf.head
                val rKeyRow = rKeyProj(head)
                if (rKeyRow.anyNull) rBuf.next() // null keys match nothing
                else {
                  val c = keyOrd.compare(rKeyRow, lKeyRow)
                  if (c < 0) rBuf.next() // key group already passed
                  else if (c == 0) {
                    val rTimeRow = rTimeProj(head)
                    if (rTimeRow.isNullAt(0)) rBuf.next() // nulls-first: skip
                    else {
                      val cmp = timeOrd.compare(rTimeRow, lTimeRow)
                      if (if (fwdOnly) cmp < 0 else cmp <= 0) {
                        if (useBwd) {
                          lastKey = lKeyRow.copy()
                          lastVal = payloadProj(head).copy()
                          lastTime = timeAsLong(rTimeRow)
                        }
                        rBuf.next()
                      } else done = true // candidate-or-later — stop
                    }
                  } else done = true // right is ahead of this key group
                }
              }
              // backward candidate: the latest consumed row maximizes
              // rightTime, so it alone decides the tolerance bound
              val bwdHit = useBwd && lastKey != null &&
                keyOrd.compare(lastKey, lKeyRow) == 0
              val bwdGap = if (bwdHit) timeAsLong(lTimeRow) - lastTime else 0L
              val bwdOk = bwdHit && bwdGap <= tolBound
              // forward candidate: peek the (unconsumed) head — the
              // earliest same-key row at-or-after the left time
              var fwdRow: InternalRow = null
              var fwdGap = 0L
              if (useFwd && rBuf.hasNext) {
                val head = rBuf.head
                val rKeyRow = rKeyProj(head)
                if (!rKeyRow.anyNull && keyOrd.compare(rKeyRow, lKeyRow) == 0) {
                  val rTimeRow = rTimeProj(head)
                  if (!rTimeRow.isNullAt(0) &&
                      timeOrd.compare(rTimeRow, lTimeRow) >= 0) {
                    fwdRow = head
                    if (tol.isDefined || dir == AsOfDirection.Nearest)
                      fwdGap = timeAsLong(rTimeRow) - timeAsLong(lTimeRow)
                  }
                }
              }
              val fwdOk = fwdRow != null && fwdGap <= tolBound
              // Nearest: closer wins, ties go BACKWARD (deterministic)
              val pickBwd = bwdOk && (!fwdOk || !useFwd || bwdGap <= fwdGap)
              if (pickBwd || fwdOk) {
                numMatched += 1
                numOutputRows += 1
                pending = resultProj(joined(lRow,
                  if (pickBwd) lastVal else payloadProj(fwdRow)))
              } else {
                numUnmatched += 1
                if (!inner) {
                  numOutputRows += 1
                  pending = resultProj(joined(lRow, nullPayload))
                }
              }
            }
          }
        }
        override def hasNext: Boolean = { computeNext(); pending != null }
        override def next(): InternalRow = {
          computeNext()
          val r = pending; pending = null; r
        }
      }
    }
  }
}

/** Broadcast-right as-of join: the small right side ships to every
  * executor as a per-key time-sorted index; each left row answers with
  * one hash probe + one binary search. The plan carries NO exchange and
  * NO sort on the left child — at 100 TB the huge event stream is
  * joined in place, partition by partition, while the sort-merge
  * sibling [[AsOfJoinExec]] would shuffle and sort all of it.
  *
  * Semantics are identical to [[AsOfJoinExec]] (directions, tolerance,
  * Inner/LeftOuter, SQL-null keys/times), asserted by running the full
  * randomized differential suite on both execs. Equal (key, time) ties
  * keep the same caveat as the sort-merge exec and DuckDB ASOF: the
  * payload is deterministic only when right (key, time) is unique.
  *
  * The index is built from the broadcast row array once per executor
  * (memoized by broadcast id + projection signature, soft-referenced so
  * memory pressure can reclaim it) — not once per task: at 32 cores a
  * per-task build would pay the O(R log R) group-and-sort 32×.
  *
  * Measured (round 15, sf0.1×50: 2.0M left events × 20k right signups,
  * local[32], warm, `count()`): sort-merge exec 0.53–0.65 s vs
  * broadcast 0.17–0.21 s — ~3.2×, and the gap is the left-side
  * exchange+sort, so it widens linearly with left volume (at sf0.1×10,
  * 0.4M rows, it was ~1.7×).
  */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute], joinType: JoinType,
    tolerance: Option[Long], direction: AsOfDirection,
    left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedLeftRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched left rows"),
    "numUnmatchedLeftRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of unmatched left rows"))

  override def output: Seq[Attribute] =
    if (joinType == LeftOuter) left.output ++ payload.map(_.withNullability(true))
    else left.output ++ payload

  // left is NOT re-distributed (that is the whole point); right arrives
  // as a whole-relation broadcast (IdentityBroadcastMode — the index
  // wants raw rows, not Spark's join-shaped HashedRelation)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    val inner = joinType == Inner
    val (lks, rks, lt, rt, pay) = (leftKeys, rightKeys, leftTime, rightTime, payload)
    val tol = tolerance
    val dir = direction
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatchedLeftRows")
    val numUnmatched = longMetric("numUnmatchedLeftRows")
    val timeAsLong: InternalRow => Long = lt.dataType match {
      case org.apache.spark.sql.types.IntegerType => r => r.getInt(0).toLong
      case _ => r => r.getLong(0) // LongType / TimestampType(_NTZ) micros
    }
    // gap arithmetic is only exercised when tolerance / nearest are
    // requested (buildNode then restricts the time dtype); under plain
    // Backward/Forward the numeric times are never read, so non-numeric
    // orderable time types stay correct — same contract as AsOfJoinExec.
    val needGaps = tol.isDefined || dir == AsOfDirection.Nearest
    val rBroadcast = right.executeBroadcast[Array[InternalRow]]()
    // the signature must carry needGaps (and the time dtype feeding
    // timeAsLong): two as-of joins reusing the SAME broadcast exchange —
    // one plain Backward, one with tolerance/Nearest — would otherwise
    // share a cache slot, and a no-gap index (empty timesLong) hit by a
    // gap-needing probe throws AIOOBE at g.timesLong(idx)
    val indexSig = (rks.map(_.exprId.id) ++ Seq(rt.exprId.id) ++ pay.map(_.exprId.id))
      .mkString(",") + s":gaps=$needGaps:t=${rt.dataType.simpleString}"
    left.execute().mapPartitions({ lIter =>
      val index = BroadcastAsOfJoinExec.cachedIndex(
        rBroadcast.id, indexSig, rBroadcast.value,
        rightOut, rks, rt, pay, needGaps, timeAsLong)
      val lKeyProj = UnsafeProjection.create(lks, leftOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val resultProj =
        UnsafeProjection.create(outAttrs, leftOut ++ pay.map(_.withNullability(true)))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val nullPayload = new GenericInternalRow(pay.length)
      val joined = new JoinedRow
      val tolBound = tol.getOrElse(Long.MaxValue)
      val useFwd = dir != AsOfDirection.Backward
      val useBwd = dir != AsOfDirection.Forward
      lIter.flatMap { lRow =>
        val lKeyRow = lKeyProj(lRow)
        val lTimeRow = lTimeProj(lRow)
        var matchRow: InternalRow = null
        if (!lKeyRow.anyNull && !lTimeRow.isNullAt(0)) {
          val g = index.groups.get(lKeyRow)
          if (g != null) {
            // backward candidate: LAST right time <= left time
            var bwdIdx = -1
            if (useBwd) {
              var lo = 0; var hi = g.times.length - 1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (timeOrd.compare(g.times(mid), lTimeRow) <= 0) { bwdIdx = mid; lo = mid + 1 }
                else hi = mid - 1
              }
            }
            // forward candidate: FIRST right time >= left time
            var fwdIdx = -1
            if (useFwd) {
              var lo = 0; var hi = g.times.length - 1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (timeOrd.compare(g.times(mid), lTimeRow) >= 0) { fwdIdx = mid; hi = mid - 1 }
                else lo = mid + 1
              }
            }
            val lTimeLong = if (needGaps) timeAsLong(lTimeRow) else 0L
            val bwdGap = if (bwdIdx >= 0 && needGaps) lTimeLong - g.timesLong(bwdIdx) else 0L
            val fwdGap = if (fwdIdx >= 0 && needGaps) g.timesLong(fwdIdx) - lTimeLong else 0L
            val bwdOk = bwdIdx >= 0 && bwdGap <= tolBound
            val fwdOk = fwdIdx >= 0 && fwdGap <= tolBound
            // Nearest: closer wins, ties go BACKWARD (same rule as the
            // sort-merge exec — deterministic)
            val pickBwd = bwdOk && (!fwdOk || !useFwd || bwdGap <= fwdGap)
            if (pickBwd) matchRow = g.payloads(bwdIdx)
            else if (fwdOk) matchRow = g.payloads(fwdIdx)
          }
        }
        if (matchRow != null) {
          numMatched += 1
          numOutputRows += 1
          Iterator.single(resultProj(joined(lRow, matchRow)))
        } else {
          numUnmatched += 1
          if (!inner) {
            numOutputRows += 1
            Iterator.single(resultProj(joined(lRow, nullPayload)))
          } else Iterator.empty
        }
      }
    }, preservesPartitioning = true)
  }
}

object BroadcastAsOfJoinExec {

  /** Per-key index: parallel arrays of 1-col time rows (binary-search
    * comparand), numeric times (gap arithmetic) and payload rows, all
    * time-ascending.
    */
  private[plans] final class Group(
      val times: Array[UnsafeRow], val timesLong: Array[Long],
      val payloads: Array[UnsafeRow])
  private[plans] final class Index(val groups: java.util.HashMap[UnsafeRow, Group])

  // executor-wide memo: broadcast id + projection signature → index.
  // Soft references let the JVM reclaim an index under memory pressure
  // (it is rebuilt from the still-broadcast rows on next use).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[Index]]()

  private[plans] def cachedIndex(broadcastId: Long, sig: String,
      rows: Array[InternalRow], rightOut: Seq[Attribute],
      rks: Seq[Attribute], rt: Attribute, pay: Seq[Attribute],
      needGaps: Boolean, timeAsLong: InternalRow => Long): Index = {
    val key = s"$broadcastId:$sig"
    val ref = cache.get(key)
    val hit = if (ref != null) ref.get else null
    if (hit != null) return hit
    // purge slots whose soft refs the GC cleared — a long-lived app
    // broadcasting thousands of dimensions must not accrete dead entries
    cache.forEach { (k, r) => if (r.get == null) cache.remove(k, r) }
    val built = build(rows, rightOut, rks, rt, pay, needGaps, timeAsLong)
    cache.put(key, new java.lang.ref.SoftReference(built))
    built
  }

  private def build(rows: Array[InternalRow], rightOut: Seq[Attribute],
      rks: Seq[Attribute], rt: Attribute, pay: Seq[Attribute],
      needGaps: Boolean, timeAsLong: InternalRow => Long): Index = {
    val rKeyProj = UnsafeProjection.create(rks, rightOut)
    val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
    val payloadProj = UnsafeProjection.create(pay, rightOut)
    val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(rt.dataType))
    val grouped = new java.util.HashMap[
      UnsafeRow, scala.collection.mutable.ArrayBuffer[(UnsafeRow, UnsafeRow)]]()
    rows.foreach { row =>
      val k = rKeyProj(row)
      if (!k.anyNull) { // null keys match nothing — SQL join semantics
        val t = rTimeProj(row)
        if (!t.isNullAt(0)) { // null times match nothing
          var buf = grouped.get(k)
          if (buf == null) {
            buf = new scala.collection.mutable.ArrayBuffer[(UnsafeRow, UnsafeRow)]
            grouped.put(k.copy(), buf)
          }
          buf += ((t.copy(), payloadProj(row).copy()))
        }
      }
    }
    val groups = new java.util.HashMap[UnsafeRow, Group](grouped.size())
    grouped.forEach { (k, buf) =>
      val sorted = buf.sortInPlace()(Ordering.comparatorToOrdering(
        new java.util.Comparator[(UnsafeRow, UnsafeRow)] {
          override def compare(a: (UnsafeRow, UnsafeRow), b: (UnsafeRow, UnsafeRow)): Int =
            timeOrd.compare(a._1, b._1)
        }))
      val times = sorted.map(_._1).toArray
      val payloads = sorted.map(_._2).toArray
      val timesLong = if (needGaps) times.map(timeAsLong) else new Array[Long](0)
      groups.put(k, new Group(times, timesLong, payloads))
    }
    new Index(groups)
  }
}

/** DataFrame front door for the native operator. */
object NativeAsOfJoin {

  /** As-of join `left` to `right` on `key`, latest `rightTime <=
    * leftTime`; `payloadCols` from the right side are appended to the
    * left columns (null when no right row qualifies).
    *
    * `within` (optional) bounds the lookback — pandas
    * `merge_asof(tolerance=...)`: the latest qualifying right row only
    * matches when `leftTime − rightTime <= within`, in the time
    * column's own units (micros for timestamps); a left row whose
    * latest candidate misses the bound is unmatched (null payload
    * under LeftOuter, dropped under Inner). Requires an
    * integer/long/timestamp time column.
    *
    * The right side is re-projected to only (key, time, payload) with
    * fresh expression ids, so self-as-of joins are unambiguous and the
    * builtin rules prune + push the right scan down to just those
    * columns. Payload names must not collide with left column names.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, payloadCols: Seq[String],
      joinType: JoinType = LeftOuter, within: Option[Long] = None,
      direction: AsOfDirection = AsOfDirection.Backward,
      broadcast: Option[Boolean] = None): DataFrame =
    asOfKeys(left, right, Seq(key), leftTime, rightTime, payloadCols,
      joinType, within, direction, broadcast)

  /** [[asOf]] on a COMPOSITE key — the shape real attribution uses
    * ((user, device), (exchange, symbol), (user, day) …): both sides
    * cluster and sort on all key columns, the time comparison runs
    * within each composite group, and a null in ANY key column matches
    * nothing (SQL join-key semantics).
    */
  def asOfKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payloadCols: Seq[String],
      joinType: JoinType = LeftOuter, within: Option[Long] = None,
      direction: AsOfDirection = AsOfDirection.Backward,
      broadcast: Option[Boolean] = None): DataFrame = {
    val node = buildNode(left.queryExecution.analyzed, right.queryExecution.analyzed,
      keys, leftTime, rightTime, payloadCols, joinType, within, direction, broadcast)
    Bridge.ofRows(left.sparkSession, node)
  }

  /** Resolve names → attributes and assemble the logical node; shared by
    * the DataFrame front doors above and the SQL TVF resolution rule
    * ([[ResolveGraftJoins]]). Both child plans must be analyzed.
    */
  private[plans] def buildNode(lPlan: LogicalPlan, rAnalyzed0: LogicalPlan,
      keys: Seq[String], leftTime: String, rightTime: String,
      payloadCols: Seq[String], joinType: JoinType,
      within: Option[Long] = None,
      direction: AsOfDirection = AsOfDirection.Backward,
      broadcast: Option[Boolean] = None): AsOfJoinNode = {
    require(keys.nonEmpty, "asOf: need at least one key column")
    // honor functions.broadcast(right) exactly like a builtin join:
    // EliminateResolvedHint only transfers hints into Join nodes, so a
    // hint reaching this custom node would otherwise be silently
    // dropped with a warning — absorb it into the broadcast knob here
    // (an explicit knob argument wins)
    val (rAnalyzed, hinted) = rAnalyzed0 match {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
        (h.child, Some(true))
      case other => (other, None)
    }
    val bcast = broadcast.orElse(hinted)
    // match names with the session's resolver, not ==: under Spark's
    // default case-insensitive resolution a SQL caller passing USER_ID
    // must find user_id, exactly as it would in a builtin join
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val clash = payloadCols.filter(n => lPlan.output.exists(a => resolver(a.name, n)))
    require(clash.isEmpty,
      s"asOf: payload columns ${clash.mkString(", ")} collide with left columns — " +
        "rename them on the right side before joining")
    val needed = (keys ++ Seq(rightTime) ++ payloadCols).distinct
    def rAttr(n: String): Attribute = rAnalyzed.output.find(a => resolver(a.name, n)).getOrElse(
      throw new IllegalArgumentException(s"asOf: right column $n not found"))
    val rPlan = Project(needed.map(n => Alias(rAttr(n), n)()), rAnalyzed)
    def pick(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(s"asOf: $side column $n not found"))
    val lKeyAttrs = keys.map(pick(lPlan.output, _, "left"))
    val rKeyAttrs = keys.map(pick(rPlan.output, _, "right"))
    val (lTimeAttr, rTimeAttr) =
      (pick(lPlan.output, leftTime, "left"), pick(rPlan.output, rightTime, "right"))
    // The exec partitions each side on its own keys and compares raw
    // bytes with orderings built from the LEFT types — an int-vs-bigint
    // mismatch would mispartition and miscompare SILENTLY. Fail fast.
    keys.indices.foreach { i =>
      require(lKeyAttrs(i).dataType == rKeyAttrs(i).dataType,
        s"asOf: key dtype mismatch — left ${keys(i)} is ${lKeyAttrs(i).dataType.sql}, " +
          s"right ${keys(i)} is ${rKeyAttrs(i).dataType.sql}; cast one side before joining")
    }
    require(lTimeAttr.dataType == rTimeAttr.dataType,
      s"asOf: time dtype mismatch — left $leftTime is ${lTimeAttr.dataType.sql}, " +
        s"right $rightTime is ${rTimeAttr.dataType.sql}; cast one side before joining")
    if (within.isDefined || direction == AsOfDirection.Nearest) {
      // both tolerance and nearest-side selection do gap ARITHMETIC on
      // the time values, not just ordering comparisons
      import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}
      require(Seq(IntegerType, LongType, TimestampType, TimestampNTZType)
          .contains(lTimeAttr.dataType),
        s"asOf: within=/direction=nearest need an int/long/timestamp time column, " +
          s"got ${lTimeAttr.dataType.sql} (tolerance is in the column's units; " +
          "micros for timestamps)")
    }
    AsOfJoinNode(lPlan, rPlan,
      lKeyAttrs, rKeyAttrs, lTimeAttr, rTimeAttr,
      payloadCols.map(pick(rPlan.output, _, "right")), joinType, within, direction,
      bcast)
  }
}
