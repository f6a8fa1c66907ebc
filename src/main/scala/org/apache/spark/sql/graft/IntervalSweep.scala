// Hosted under org.apache.spark.sql: the operator is a genuine Catalyst
// citizen — a logical node, a planner Strategy and a physical SparkPlan —
// and the Dataset constructor it needs (`classic.Dataset.ofRows`) is
// private[sql]. This is the "whole-operator" extension rung: where the
// binned rewrite (graft.plans.BinnedJoinRewrite) re-expresses a range
// join through EXISTING operators (explode + equi-join), this node owns
// its physical execution outright — one shuffle and one sort per side (or a
// broadcast of a small side and no shuffle at all), then a partition-local
// interval sweep with no candidate blowup at all.
package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution, BroadcastMode, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, ExternalAppendOnlyUnsafeRowArray, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** Logical interval-overlap join: rows of `left` carrying interval
  * `[lStart, lEnd]` paired with rows of `right` carrying `[rStart, rEnd]`
  * when their equality keys match and the intervals overlap under the
  * given endpoint closedness. Points are degenerate intervals
  * (`lStart == lEnd`). Inner join; `output = left.output ++ right.output`.
  *
  * `keep` ∈ all/first/last/both (reference semantics `merging.py:92-98`):
  * per LEFT row, emit all matching right rows, or only the first / last /
  * both extremes by `rightOrder` (an expression over `right.output`,
  * required for non-`all`; typically the right row-id column). Fusing
  * keep into the sweep shrinks the operator's output from |pairs| to
  * ≤ 2·|left| — at scale that removes the post-join `min_by`/`max_by`
  * shuffle over the full pair set that a compose-then-aggregate plan
  * pays.
  *
  * `broadcastRight` selects the broadcast-build execution of
  * [[IntervalSweepJoinExec]]: `right` must be small enough to broadcast.
  */
case class IntervalSweepJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    lClosedStart: Boolean, lClosedEnd: Boolean,
    rClosedStart: Boolean, rClosedEnd: Boolean,
    matchNullKeys: Boolean = false,
    keep: String = "all",
    rightOrder: Option[Expression] = None,
    broadcastRight: Boolean = false) extends BinaryNode {
  require(Seq("all", "first", "last", "both").contains(keep), s"keep=$keep")
  require(keep == "all" || rightOrder.isDefined,
    "keep=first/last/both requires a rightOrder expression")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalSweepJoin =
    copy(left = newLeft, right = newRight)
}

/** `Dataset.ofRows` is private[sql]; this shim lets the public
  * `graft.joins.SweepJoin` wrapper materialize a DataFrame over the
  * custom logical node.
  */
object SweepPlanBuilder {
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
}

/** Plans [[IntervalSweepJoin]] as [[IntervalSweepJoinExec]]. Install via
  * `spark.experimental.extraStrategies` (the public API wrapper does) or
  * `GraftExtensions`.
  */
object IntervalSweepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: IntervalSweepJoin =>
      IntervalSweepJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.lStart, j.lEnd, j.rStart, j.rEnd,
        j.lClosedStart, j.lClosedEnd, j.rClosedStart, j.rClosedEnd,
        j.matchNullKeys, j.keep, j.rightOrder, j.broadcastRight) :: Nil
    case j: AutoSaltedSweepJoin =>
      AutoSaltedSweepDispatchExec(j) :: Nil
    case _ => Nil
  }
}

/** Partition-local sorted interval sweep.
  *
  * Physical contract (enforced through `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements inserts exactly the
  * exchanges and sorts needed and AQE sizes them):
  *   - both sides hash-clustered on their equality keys (keyless form
  *     degenerates to a single partition — use keys at scale);
  *   - both sides sorted by (keys…, interval start) within partitions.
  *
  * '''Broadcast build''' (`broadcastRight`): the right side arrives
  * whole through a broadcast, sorted by (keys…, start) once on the
  * driver ([[SortedBroadcastMode]]); the left side keeps its
  * partitioning and is only sorted within partitions. The same sweep
  * then runs once per left partition — O(|L| + partitions·|R| + output)
  * with no exchange of the left side, where a keyless join would
  * otherwise be a nested loop over every pair. A constant (foldable)
  * endpoint, such as a ±∞ sentinel standing in for a missing one, is
  * left out of the required orderings. Both modes drive the same loop,
  * [[SweepCursor]].
  *
  * The sweep walks the two sorted streams once: right rows enter an
  * active buffer while their start can still precede the current left
  * end, and are evicted once their end falls before the current left
  * start — which is monotone, because left starts ascend. Per-key cost
  * is O(|L| + |R| + output + |L|·active), where `active` is bounded by
  * the interval-overlap density, NOT by bin width or candidate-pair
  * counts: dense same-key ranges that make the binned equi-join explode
  * (every interval × every touched bin) cost this operator nothing
  * extra. No bin tuning, no candidate materialization.
  *
  * '''Memory bound.''' The active set is bounded by overlap density —
  * exactly the quantity a hostile key violates (one key whose right
  * intervals all span the key's whole range would otherwise buffer that
  * key's entire right side on one task). Past
  * `spark.graft.sweep.maxActive` in-memory entries (default 2^17) the
  * key DEGRADES to a spill-backed scan: all its surviving + subsequent
  * right rows move into an [[ExternalAppendOnlyUnsafeRowArray]] — the
  * same UnsafeExternalSorter-backed structure SortMergeJoinExec buffers
  * same-key matches in, spilling to disk under memory pressure — and
  * each left row of that key scans the full buffer with the overlap
  * predicate applied row-by-row. That is SMJ's exact cost model for the
  * same degenerate shape (per-key quadratic, memory-safe), so the sweep
  * is never worse than the operator Catalyst would otherwise pick, and
  * on non-hostile keys never pays the fallback. Degradations are
  * surfaced in the `degradedKeys` metric; eviction resumes at the next
  * key.
  *
  * `keep=first/last/both` is evaluated sweep-side (per left row, extremes
  * by `rightOrder` over the matching right rows): output shrinks from
  * the full pair set to ≤ 2·|left| with no downstream aggregation.
  *
  * Rows with null endpoints never match and are dropped on entry. Null
  * keys follow `matchNullKeys`: false = SQL `===` inner-join semantics
  * (null-keyed rows dropped); true = null-safe `<=>` semantics (null
  * keys match each other — hash partitioning routes all null keys to
  * one partition and the sort groups them, so the sweep handles them
  * like any other key value).
  */
case class IntervalSweepJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    lClosedStart: Boolean, lClosedEnd: Boolean,
    rClosedStart: Boolean, rClosedEnd: Boolean,
    matchNullKeys: Boolean = false,
    keep: String = "all",
    rightOrder: Option[Expression] = None,
    broadcastRight: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "degradedKeys" -> SQLMetrics.createMetric(sparkContext,
      "keys degraded to spillable scan"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (broadcastRight) UnspecifiedDistribution :: BroadcastDistribution(
      SortedBroadcastMode(BindReferences.bindReferences(
        SweepSpec.order(rightKeys, rStart), right.output))) :: Nil
    else if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    SweepSpec.order(leftKeys, lStart),
    if (broadcastRight) Nil else SweepSpec.order(rightKeys, rStart))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalSweepJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    // driver-side capture of everything a task's cursor needs
    val s = SweepSpec(left.output, right.output, leftKeys, rightKeys,
      lStart, lEnd, rStart, rEnd,
      lClosedStart, lClosedEnd, rClosedStart, rClosedEnd,
      matchNullKeys, keep, rightOrder,
      IntervalSweepJoinExec.maxActive(conf.getConfString),
      conf.sortMergeJoinExecBufferSpillThreshold,
      conf.sortMergeJoinExecBufferSpillSizeThreshold)
    val numOutputRows = longMetric("numOutputRows")
    val degradedKeys = longMetric("degradedKeys")
    if (broadcastRight) {
      val rows = right.executeBroadcast[Array[InternalRow]]()
      left.execute().mapPartitionsInternal { lIter =>
        s.join(lIter, new SweepCursor(s, rows.value.iterator, degradedKeys),
          numOutputRows)
      }
    } else left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      s.join(lIter, new SweepCursor(s, rIter, degradedKeys), numOutputRows)
    }
  }
}

object IntervalSweepJoinExec {
  /** In-memory active entries per key past which the sweep degrades to
    * the spillable scan: `spark.graft.sweep.maxActive`, default 2^17. */
  def maxActive(get: (String, String) => String): Int = {
    val n = get("spark.graft.sweep.maxActive", (1 << 17).toString).toInt
    require(n > 0, "spark.graft.sweep.maxActive must be positive")
    n
  }
}

/** What a task needs to run the sweep, captured on the driver. */
private[graft] case class SweepSpec(
    lOut: Seq[Attribute], rOut: Seq[Attribute],
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    lClosedStart: Boolean, lClosedEnd: Boolean,
    rClosedStart: Boolean, rClosedEnd: Boolean,
    matchNullKeys: Boolean, keep: String, rightOrder: Option[Expression],
    maxActive: Int, spillRowsThreshold: Int, spillSizeThreshold: Long) {

  /** The output: each left row's bytes followed by each partner's (one
    * copy per row, no per-field projection). */
  def join(lIter: Iterator[InternalRow], c: SweepCursor,
      numOutputRows: SQLMetric): Iterator[InternalRow] = {
    val lUnsafe = UnsafeProjection.create(lOut, lOut)
    val joiner = GenerateUnsafeRowJoiner.create(
      DataTypeUtils.fromAttributes(lOut), DataTypeUtils.fromAttributes(rOut))
    new Iterator[InternalRow] {
      private var l: UnsafeRow = _
      override def hasNext: Boolean = {
        while (!c.hasNextMatch && lIter.hasNext) {
          val row = lIter.next()
          c.advance(row)
          l = row match {
            case u: UnsafeRow => u
            case other => lUnsafe(other)
          }
        }
        c.hasNextMatch
      }
      override def next(): InternalRow = {
        numOutputRows += 1
        joiner.join(l, c.toUnsafe(c.nextMatch()))
      }
    }
  }
}

private[graft] object SweepSpec {
  /** The order the sweep walks a side in: (keys…, interval start),
    * without constants such as a ±∞ sentinel endpoint. */
  def order(keys: Seq[Expression], start: Expression): Seq[SortOrder] =
    (keys :+ start).filterNot(_.foldable).map(SortOrder(_, Ascending))
}

/** Broadcasts a side's rows as an array sorted by `order` (bound to the
  * side's output), so the sort runs once on the driver, not in every
  * task that reads the broadcast. */
private[graft] case class SortedBroadcastMode(order: Seq[SortOrder])
    extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    rows.sorted(RowOrdering.create(order, Nil))
  override def transform(rows: Iterator[InternalRow],
      sizeHint: Option[Long]): Array[InternalRow] = transform(rows.toArray)
  override def canonicalized: BroadcastMode =
    copy(order = order.map(_.canonicalized.asInstanceOf[SortOrder]))
}

/** One partition's sweep over a right stream sorted by (keys…, start).
  * [[advance]] takes the next left row, in the same order, and positions
  * the cursor on that row's partners after `keep`; [[hasNextMatch]] /
  * [[nextMatch]] walk them. The shuffle and the broadcast mode both
  * drive this one loop.
  */
private[graft] final class SweepCursor(spec: SweepSpec, rIter: Iterator[InternalRow],
    degradedKeys: SQLMetric) {
  import spec._

  private val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
  private val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
  private val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
  private val tOrd = TypeUtils.getInterpretedOrdering(lStart.dataType)
    .asInstanceOf[Ordering[Any]]
  // ── primitive endpoint fast path ──
  // The generic kernel pays an interpreted Ordering[Any] dispatch +
  // boxed compare per endpoint comparison — the single hottest call
  // site of the operator (2 compares per candidate pair, plus the
  // eviction and ingestion scans). Every fixed-width endpoint type
  // maps ORDER-ISOMORPHICALLY onto Long (integral/date/timestamp
  // directly; float/double via the IEEE-754 total-order bit trick,
  // which reproduces Spark's sort semantics exactly: every NaN
  // canonicalized above +Inf), so the sweep compares plain
  // longs and the JIT inlines the whole predicate. Adding +0.0 first
  // folds -0.0 into 0.0, which Spark compares as equal. Non-primitive
  // endpoint types (decimal, string…) keep the interpreted path.
  private val toKey: Any => Long = lStart.dataType match {
    case LongType | TimestampType | TimestampNTZType =>
      v => v.asInstanceOf[java.lang.Long].longValue()
    case IntegerType | DateType =>
      v => v.asInstanceOf[java.lang.Integer].longValue()
    case ShortType => v => v.asInstanceOf[java.lang.Short].longValue()
    case ByteType => v => v.asInstanceOf[java.lang.Byte].longValue()
    case DoubleType => v => {
      val b = java.lang.Double.doubleToLongBits(
        v.asInstanceOf[java.lang.Double].doubleValue() + 0.0)
      b ^ ((b >> 63) & 0x7fffffffffffffffL)
    }
    case FloatType => v => {
      val b = java.lang.Float.floatToIntBits(
        v.asInstanceOf[java.lang.Float].floatValue() + 0.0f)
      (b ^ ((b >> 31) & 0x7fffffff)).toLong
    }
    case _ => null
  }
  private val prim = toKey != null
  private val lsB = BindReferences.bindReference(lStart, lOut)
  private val leB = BindReferences.bindReference(lEnd, lOut)
  private val rsB = BindReferences.bindReference(rStart, rOut)
  private val reB = BindReferences.bindReference(rEnd, rOut)
  private val rOrdB = rightOrder.map(BindReferences.bindReference(_, rOut)).orNull
  private val ordOrd = rightOrder.map(e => TypeUtils
    .getInterpretedOrdering(e.dataType).asInstanceOf[Ordering[Any]]).orNull
  private val rUnsafeProj = UnsafeProjection.create(rOut, rOut)
  // endpoint compare: primitive long keys when available, else the
  // interpreted ordering on the boxed values
  @inline private def cmp(aK: Long, a: Any, bK: Long, b: Any): Int =
    if (prim) java.lang.Long.compare(aK, bK) else tOrd.compare(a, b)

  // right lookahead: (key copy, rs, re [+ long sort keys], row copy);
  // rows are copied once on entry because the child iterator reuses
  // its UnsafeRow
  private final class REntry(val key: UnsafeRow, val rs: Any, val re: Any,
                             val rsK: Long, val reK: Long, val row: InternalRow)
  private var rLook: REntry = null
  private def advanceRight(): Unit = {
    rLook = null
    while (rLook == null && rIter.hasNext) {
      val r = rIter.next()
      val rs = rsB.eval(r)
      val re = reB.eval(r)
      val k = rKeyProj(r)
      if (rs != null && re != null && (matchNullKeys || !k.anyNull)) {
        rLook = new REntry(k.copy(), rs, re,
          if (prim) toKey(rs) else 0L, if (prim) toKey(re) else 0L,
          r.copy())
      }
    }
  }
  advanceRight()

  private val active = new ArrayBuffer[REntry]
  // the current left row's partners, walked by `pos` (refilled by each
  // advance, so the hot loop allocates nothing per row)
  private val matchBuf = new ArrayBuffer[InternalRow]
  private var pos = 0
  // degraded keep=all: the partners stream from the spill buffer instead
  private var spillMatches: Iterator[InternalRow] = null
  private var curKey: UnsafeRow = null
  // degraded mode: the current key's right rows live in a spillable
  // array instead of the evicting in-memory buffer (see scaladoc)
  private var degraded = false
  private var spillBuf: ExternalAppendOnlyUnsafeRowArray = null

  def toUnsafe(r: InternalRow): UnsafeRow = r match {
    case u: UnsafeRow => u
    case other => rUnsafeProj(other)
  }
  private def ingest(e: REntry): Unit = {
    if (degraded) {
      spillBuf.add(toUnsafe(e.row)) // add() copies
    } else {
      active += e
      if (active.length > maxActive) {
        degradedKeys += 1
        if (spillBuf == null) {
          spillBuf = new ExternalAppendOnlyUnsafeRowArray(
            maxActive, 64L * 1024 * 1024,
            spillRowsThreshold, spillSizeThreshold)
        }
        active.foreach(a => spillBuf.add(toUnsafe(a.row)))
        active.clear()
        degraded = true
      }
    }
  }

  private def overlapsRaw(ls: Any, le: Any, rs: Any, re: Any): Boolean = {
    val c1 = tOrd.compare(rs, le)
    val startOk = c1 < 0 || (c1 == 0 && lClosedEnd && rClosedStart)
    if (!startOk) return false
    val c2 = tOrd.compare(ls, re)
    c2 < 0 || (c2 == 0 && lClosedStart && rClosedEnd)
  }

  // fused evict + match: ONE compacting walk over the active buffer per
  // left row (the previous form paid a full eviction scan plus a full
  // match scan). Eviction is the monotone rule unchanged: left starts
  // ascend within the key, so an entry whose end precedes this start
  // can never match again. Matches land in the reusable buffer — the
  // walk must complete before emission because it also compacts.
  private def evictAndMatch(lsK: Long, ls: Any, leK: Long, le: Any): Unit = {
    val n = active.length
    var i = 0
    var w = 0
    while (i < n) {
      val e = active(i)
      if (cmp(e.reK, e.re, lsK, ls) >= 0) { // survives eviction
        if (w != i) active(w) = e
        w += 1
        val c1 = cmp(e.rsK, e.rs, leK, le)
        if (c1 < 0 || (c1 == 0 && lClosedEnd && rClosedStart)) {
          val c2 = cmp(lsK, ls, e.reK, e.re)
          if (c2 < 0 || (c2 == 0 && lClosedStart && rClosedEnd)) matchBuf += e.row
        }
      }
      i += 1
    }
    if (w < n) active.dropRightInPlace(n - w)
  }

  def hasNextMatch: Boolean =
    if (spillMatches != null) spillMatches.hasNext else pos < matchBuf.length

  def nextMatch(): InternalRow =
    if (spillMatches != null) spillMatches.next()
    else { pos += 1; matchBuf(pos - 1) }

  /** Positions the cursor on the partners of `l`, the next left row. */
  def advance(l: InternalRow): Unit = {
    matchBuf.clear()
    pos = 0
    spillMatches = null
    val ls = lsB.eval(l)
    val le = leB.eval(l)
    val lk = lKeyProj(l)
    if (ls == null || le == null || (!matchNullKeys && lk.anyNull)) return
    val lsK = if (prim) toKey(ls) else 0L
    val leK = if (prim) toKey(le) else 0L
    // key-change check: UnsafeRow byte equality short-circuits the
    // common same-key case; only a byte mismatch (new key, or a
    // logically-equal value with different bits, e.g. 0.0 / -0.0)
    // pays the full interpreted compare
    if (curKey == null ||
        (!curKey.equals(lk) && keyOrd.compare(curKey, lk) != 0)) {
      active.clear()
      if (degraded) { spillBuf.clear(); degraded = false }
      curKey = lk.copy()
    }
    while (rLook != null && keyOrd.compare(rLook.key, curKey) < 0) {
      advanceRight()
    }
    while (rLook != null && keyOrd.compare(rLook.key, curKey) == 0 &&
        cmp(rLook.rsK, rLook.rs, leK, le) <= 0) {
      ingest(rLook)
      advanceRight()
    }
    // degraded: the partners stream from the spill buffer (rows may be
    // reused buffers — keep-extremes copy on update)
    def spilled: Iterator[InternalRow] =
      spillBuf.generateIterator().filter { r =>
        overlapsRaw(ls, le, rsB.eval(r), reB.eval(r))
      }
    if (!degraded) evictAndMatch(lsK, ls, leK, le)
    if (keep == "all") {
      if (degraded) spillMatches = spilled
    } else {
      // first/last by rightOrder, evaluated sweep-side: one pass
      // over the matches, ≤ 2 output rows per left row
      var firstRow: InternalRow = null; var firstOrd: Any = null
      var lastRow: InternalRow = null; var lastOrd: Any = null
      val needFirst = keep != "last"
      val needLast = keep != "first"
      (if (degraded) spilled else matchBuf.iterator).foreach { r0 =>
        var r = r0
        var ov = rOrdB.eval(r)
        if (needFirst && (firstRow == null || ordOrd.compare(ov, firstOrd) < 0)) {
          if (degraded) { r = r0.copy(); ov = rOrdB.eval(r) }
          firstRow = r; firstOrd = ov
        }
        if (needLast && (lastRow == null || ordOrd.compare(ov, lastOrd) > 0)) {
          if (degraded && (r eq r0)) { r = r0.copy(); ov = rOrdB.eval(r) }
          lastRow = r; lastOrd = ov
        }
      }
      matchBuf.clear()
      keep match {
        case "first" => if (firstRow != null) matchBuf += firstRow
        case "last" => if (lastRow != null) matchBuf += lastRow
        case _ => // both: dedup when first == last (merging.py:736-739)
          if (firstRow != null) {
            matchBuf += firstRow
            if (ordOrd.compare(firstOrd, lastOrd) != 0) matchBuf += lastRow
          }
      }
    }
  }
}
