package graft.joins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.{IntervalSweepJoin, IntervalSweepStrategy}
import org.apache.spark.sql.types._

import graft.core.IntervalSpec

/** Public API for the sweep interval join — the custom-SparkPlan
  * execution path for interval containment/overlap (see
  * [[org.apache.spark.sql.graft.IntervalSweepJoinExec]] for the physical
  * contract).
  *
  * When to prefer which interval-join path:
  *   - [[IntervalJoin]] (optionally binned): the general surface — every
  *     how × keep combination, indexers, suffixes, outer joins.
  *   - [[graft.plans.BinnedJoinRewrite]]: users writing plain declarative
  *     range joins, rewritten in the optimizer.
  *   - this sweep: inner overlap/containment at maximum throughput — one
  *     shuffle + one sort per side, no bin-width knob, no candidate
  *     explosion on dense same-key ranges. Output multiplicity is the
  *     full pair set (`how = inner, keep = both`).
  *
  * The planner strategy is installed on the session on first use (idempotent).
  */
object SweepJoin {

  /** Inner interval-overlap join of `left` and `right` on equality
    * `keys` plus interval overlap, with endpoint closedness taken from
    * the [[IntervalSpec]]s (degenerate/point specs supported on either
    * side). Output columns: all of `left`'s, then all of `right`'s —
    * disambiguate shared names before calling.
    *
    * Keys empty = keyless sweep: every row pair considered — the
    * physical plan collapses both sides to ONE partition, which is the
    * correct semantics but not a scale path; use keys (or the binned
    * join) for large keyless workloads. ([[IntervalJoin]] runs a
    * keyless join whose smaller side is broadcast-small against that
    * side broadcast instead.)
    *
    * A missing endpoint (half-unbounded spec) becomes a closed ±∞
    * sentinel of the endpoint type; every endpoint column must then
    * share one integral, floating, date or timestamp type.
    *
    * @param nullSafeKeys true = `<=>` key semantics (null keys match
    *                     each other); false = `===` (null-keyed rows
    *                     never match)
    * @param keep         all | first | last | both: per LEFT row keep all
    *                     matches or only the extremes by `rightOrderCol`,
    *                     decided sweep-side (output ≤ 2·|left| — no
    *                     post-join aggregation shuffle)
    * @param rightOrderCol right column defining "first"/"last" (required
    *                     for non-`all` keep; typically a unique row id)
    */
  def apply(left: DataFrame, right: DataFrame,
            leftOn: Seq[String], rightOn: Seq[String],
            leftSpec: IntervalSpec, rightSpec: IntervalSpec,
            nullSafeKeys: Boolean = false,
            keep: String = "all",
            rightOrderCol: Option[String] = None): DataFrame =
    plan(left, right, leftOn, rightOn, leftSpec, rightSpec, nullSafeKeys,
      keep, rightOrderCol, broadcast = false)

  /** The keyless sweep with `right` broadcast to every partition of
    * `left` instead of both sides collapsed to one partition. `right`
    * must be small: [[IntervalJoin]] decides that from its size
    * estimate. */
  private[joins] def broadcastRight(left: DataFrame, right: DataFrame,
      leftSpec: IntervalSpec, rightSpec: IntervalSpec,
      keep: String, rightOrderCol: Option[String]): DataFrame =
    plan(left, right, Nil, Nil, leftSpec, rightSpec, nullSafeKeys = false,
      keep, rightOrderCol, broadcast = true)

  private def plan(left: DataFrame, right: DataFrame,
      leftOn: Seq[String], rightOn: Seq[String],
      leftSpec: IntervalSpec, rightSpec: IntervalSpec,
      nullSafeKeys: Boolean, keep: String, rightOrderCol: Option[String],
      broadcast: Boolean): DataFrame = {
    require(leftOn.length == rightOn.length,
      s"key lists must align: $leftOn vs $rightOn")
    require(keep == "all" || rightOrderCol.isDefined,
      "keep=first/last/both requires rightOrderCol")
    // closed ±∞ stand-ins, built only when an endpoint is missing
    lazy val (lo, hi) = endpointType(left, right, leftSpec, rightSpec)
      .map { dt => val (a, b) = sentinels(dt).get; (Literal(a, dt), Literal(b, dt)) }
      .getOrElse(throw new IllegalArgumentException(
        "a missing endpoint needs every endpoint column to share one " +
          "integral, floating, date or timestamp type"))
    // same ingress convention as IntervalJoin: empty intervals (start >
    // stop under the closedness, NaN/null endpoints) never match
    val lValid = left.filter(graft.core.Intervals.nonEmpty(left, leftSpec))
    val rValid = right.filter(graft.core.Intervals.nonEmpty(right, rightSpec))
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(IntervalSweepStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ IntervalSweepStrategy
    }
    val lPlan = lValid.queryExecution.analyzed
    val rPlan = rValid.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    def start(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              c: Option[String]) = c.map(attr(plan, _)).getOrElse(lo)
    def stop(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             c: Option[String]) = c.map(attr(plan, _)).getOrElse(hi)
    val node = IntervalSweepJoin(
      lPlan, rPlan,
      leftOn.map(attr(lPlan, _)), rightOn.map(attr(rPlan, _)),
      start(lPlan, leftSpec.start), stop(lPlan, leftSpec.stop),
      start(rPlan, rightSpec.start), stop(rPlan, rightSpec.stop),
      // a sentinel is closed: every value of the type passes it
      leftSpec.includeStart || leftSpec.start.isEmpty,
      leftSpec.includeStop || leftSpec.stop.isEmpty,
      rightSpec.includeStart || rightSpec.start.isEmpty,
      rightSpec.includeStop || rightSpec.stop.isEmpty,
      matchNullKeys = nullSafeKeys,
      keep = keep,
      rightOrder = rightOrderCol.map(attr(rPlan, _)),
      broadcastRight = broadcast)
    org.apache.spark.sql.graft.SweepPlanBuilder.ofRows(spark, node)
  }

  /** Closed (lowest, highest) stand-ins for a missing endpoint: every
    * non-null, non-NaN value of the type lies between them, inclusive. */
  private def sentinels(dt: DataType): Option[(Any, Any)] = dt match {
    case ByteType => Some((Byte.MinValue, Byte.MaxValue))
    case ShortType => Some((Short.MinValue, Short.MaxValue))
    case IntegerType | DateType => Some((Int.MinValue, Int.MaxValue))
    case LongType | TimestampType | TimestampNTZType =>
      Some((Long.MinValue, Long.MaxValue))
    case FloatType => Some((Float.NegativeInfinity, Float.PositiveInfinity))
    case DoubleType => Some((Double.NegativeInfinity, Double.PositiveInfinity))
    case _ => None
  }

  /** The type all endpoint columns of the two specs share, if it has
    * ±∞ sentinels. */
  private[joins] def endpointType(left: DataFrame, right: DataFrame,
                   leftSpec: IntervalSpec, rightSpec: IntervalSpec): Option[DataType] = {
    val types = (leftSpec.start ++ leftSpec.stop).map(left.schema(_).dataType) ++
      (rightSpec.start ++ rightSpec.stop).map(right.schema(_).dataType)
    types.toSeq.distinct match {
      case Seq(dt) if sentinels(dt).isDefined => Some(dt)
      case _ => None
    }
  }
}
