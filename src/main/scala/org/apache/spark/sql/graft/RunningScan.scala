// Hosted under org.apache.spark.sql for the same reason as IntervalSweep:
// a logical node, a planner Strategy and a physical SparkPlan, plus the
// private[sql] `classic.Dataset.ofRows` to put a DataFrame over the node.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, NullsFirst, NullsLast, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** What a running aggregate carries from row to row. Each carry is an
  * associative combine with null as its identity, so a partition's total
  * carries into the partitions after it.
  */
sealed trait Carry
object Carry {
  /** The running sum, in the sum type of the value (long, double or
    * decimal); nulls are skipped, and the sum is null until the first
    * non-null value. Overflow raises, as Spark's ANSI sum does. */
  case object Sum extends Carry
  /** The running maximum; nulls are skipped. */
  case object Max extends Carry
  /** The last row's value with that row's global row number (1-based, in
    * the ascending order), as `struct<v, i>`; null before the first row.
    * With `ignoreNulls` only rows with a non-null value count: the last
    * non-null value and where it was. */
  final case class Last(ignoreNulls: Boolean) extends Carry
}

/** One running aggregate of a [[RunningScan]]: `carry` over the rows up to
  * and including each row (`inclusive`), or over the rows before it. */
final case class ScanAgg(carry: Carry, inclusive: Boolean)

/** Logical running scan: the child's rows plus, for each aggregate `i`,
  * `outs(i)` = `aggs(i)` of `values(i)` over the rows in `order`
  * (`suffix = false`), or from the last row back (`suffix = true`).
  * `aggs`, `values` and `outs` run in parallel. Rows tied on `order` are
  * scanned in an unspecified order.
  */
case class RunningScan(
    order: Seq[SortOrder],
    suffix: Boolean,
    aggs: Seq[ScanAgg],
    values: Seq[Expression],
    outs: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningScan =
    copy(child = newChild)
}

object RunningScan {

  /** One running aggregate to add as column `out`: `carry` of `value`,
    * scanned from the first row (`suffix = false`) or from the last. */
  final case class Agg(
      out: String,
      carry: Carry,
      value: Column,
      suffix: Boolean = false,
      inclusive: Boolean = true)

  /** `df` + one column per aggregate, over `df`'s rows in `order`
    * (columns, or sort orders such as `asc_nulls_last`), planned as
    * [[RunningScanExec]]. Prefix aggregates run in one node; suffix
    * aggregates run in a second node over the same range partitions,
    * ordered by `order` and the first node's row number, so tied rows are
    * scanned in one order both ways. An existing column of an
    * aggregate's name is replaced.
    */
  def apply(df: DataFrame, order: Seq[Column], aggs: Agg*): DataFrame = {
    require(order.nonEmpty, "a running scan needs an order")
    require(aggs.nonEmpty, "a running scan needs an aggregate")
    val (pre, suf) = aggs.partition(!_.suffix)
    if (suf.isEmpty) node(df, order, suffix = false, pre)
    else {
      val rn = "__graft_scan_rn"
      val numbered = node(df, order, suffix = false, pre :+ Agg(rn, Carry.Sum, lit(1L)))
      node(numbered, order :+ col(rn), suffix = true, suf).drop(rn)
    }
  }

  /** `df` + `outCol` = `sum(value) OVER (ORDER BY order ROWS UNBOUNDED
    * PRECEDING)`: one range exchange and sort (or none when `df` is
    * already range-partitioned in `order`), one totals job, nothing
    * through a single partition. */
  def prefixSum(df: DataFrame, order: Seq[Column], value: Column, outCol: String): DataFrame =
    apply(df, order, Agg(outCol, Carry.Sum, value))

  private def node(df: DataFrame, order: Seq[Column], suffix: Boolean, aggs: Seq[Agg]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(RunningScanStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RunningScanStrategy
    }
    val vs = aggs.indices.map(i => s"__graft_scan_v$i")
    val os = aggs.indices.map(i => s"__graft_scan_o$i")
    val types = df.select(aggs.zip(vs).map { case (a, v) => a.value.as(v) }: _*)
      .schema.map(_.dataType).zip(aggs).map {
        case (dt, a) if a.carry == Carry.Sum => dt match {
          case _: IntegralType => LongType
          case FloatType | DoubleType => DoubleType
          case DecimalType.Fixed(p, s) => DecimalType.bounded(p + 10, s)
          case t => throw new IllegalArgumentException(s"no running sum of $t")
        }
        case (dt, _) => dt
      }
    val withV = df.select(col("*") +: aggs.zip(vs).zip(types).map { case ((a, v), t) =>
      a.value.cast(t).as(v) }: _*)
    // the analyzer resolves the order columns (names, directions) the
    // way it resolves any sort
    val (resolved, child) = withV.sortWithinPartitions(order: _*).queryExecution.analyzed match {
      case Sort(so, false, c, _) => (so, c)
      case p => throw new IllegalStateException(s"unexpected sort plan: $p")
    }
    val values = vs.map(v => child.output.find(_.name == v).get)
    val outs = aggs.zip(types).zip(os).map { case ((a, t), o) =>
      AttributeReference(o, a.carry match {
        case _: Carry.Last =>
          StructType(Seq(StructField("v", t), StructField("i", LongType, nullable = false)))
        case _ => t
      })()
    }
    val scanned = SweepPlanBuilder.ofRows(spark, RunningScan(resolved, suffix,
      aggs.map(a => ScanAgg(a.carry, a.inclusive)), values, outs, child))
    aggs.map(_.out).zip(os).foldLeft(scanned) { case (d, (out, o)) => d.withColumn(out, col(o)) }
      .drop(vs ++ os: _*)
  }

  /** `a + b` in the sum type; overflow raises, as Spark's ANSI sum does. */
  private def add(dt: DataType): (Any, Any) => Any = dt match {
    case LongType => (a, b) => Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType => (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case d: DecimalType => (a, b) => (a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal])
      .toPrecision(d.precision, d.scale, Decimal.ROUND_HALF_UP, nullOnOverflow = false)
  }

  /** The associative combine of `carry` over values of `dt`; null is the
    * identity. A [[Carry.Last]] state is a (value, row number) pair. */
  private[graft] def merge(carry: Carry, dt: DataType): (Any, Any) => Any = {
    val f: (Any, Any) => Any = carry match {
      case Carry.Sum => add(dt)
      case Carry.Max =>
        val ord = TypeUtils.getInterpretedOrdering(dt)
        (a, b) => if (ord.gt(b, a)) b else a
      case _: Carry.Last => (_, b) => b
    }
    (a, b) => if (b == null) a else if (a == null) b else f(a, b)
  }

  /** The state one row with `value` at row number `i` contributes. */
  private[graft] def lift(carry: Carry, value: Any, i: Long): Any = carry match {
    case Carry.Last(ignoreNulls) =>
      if (ignoreNulls && value == null) null else (InternalRow.copyValue(value), i)
    case _ => InternalRow.copyValue(value)
  }
}

/** Plans [[RunningScan]] as [[RunningScanExec]]. [[RunningScan.apply]]
  * installs it through `spark.experimental.extraStrategies`;
  * `GraftExtensions` injects it too. */
object RunningScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RunningScan =>
      RunningScanExec(r.order, r.suffix, r.aggs, r.values, r.outs, planLater(r.child)) :: Nil
    case _ => Nil
  }
}

/** Running aggregates over globally ordered rows, with no single-partition
  * step.
  *
  * The child is required to be range-partitioned on `order`
  * (`OrderedDistribution`) and sorted on it within partitions — reversed
  * for a suffix scan, which then reads the partitions from last to
  * first. EnsureRequirements inserts one range exchange and one sort, or
  * none when the child already has them; a suffix scan over a prefix
  * scan's output costs one more sort but no exchange. Execution reads
  * the child's RDD twice, the way Spark's `ZippedWithIndexRDD` reads its
  * parent:
  *   1. one job computes each partition's row count and the total of
  *      each aggregate's carry;
  *   2. each partition starts every carry at the combined totals of the
  *      partitions before it in scan order, and applies the carries to
  *      its rows as it streams them.
  * Both passes read the same shuffle output: the input is written once
  * and nothing upstream of the exchange is recomputed. The totals job
  * runs when the plan executes, never while it is built.
  */
case class RunningScanExec(
    order: Seq[SortOrder],
    suffix: Boolean,
    aggs: Seq[ScanAgg],
    values: Seq[Expression],
    outs: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (if (suffix) order.map(o => SortOrder(o.child,
      if (o.direction == Ascending) Descending else Ascending,
      if (o.nullOrdering == NullsFirst) NullsLast else NullsFirst, Seq.empty))
    else order) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): RunningScanExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val n = aggs.size
    val carries = aggs.map(_.carry).toArray
    val inclusive = aggs.map(_.inclusive).toArray
    val merges = aggs.zip(values).map { case (a, v) => RunningScan.merge(a.carry, v.dataType) }.toArray
    val bound = values.map(BindReferences.bindReference(_, child.output)).toArray
    val reversed = suffix
    // row numbers count in scan order here; a suffix scan's are turned
    // into ascending ones as they are output
    val input = child.execute()
    val totals = sparkContext.runJob(input, (rows: Iterator[InternalRow]) => {
      val acc = new Array[Any](n)
      var i = 0L
      rows.foreach { r =>
        i += 1
        var k = 0
        while (k < n) {
          acc(k) = merges(k)(acc(k), RunningScan.lift(carries(k), bound(k).eval(r), i))
          k += 1
        }
      }
      (i, acc)
    })
    val (starts, carryIn) = (new Array[Long](totals.length), new Array[Array[Any]](totals.length))
    var acc = new Array[Any](n)
    var seen = 0L
    for (p <- if (reversed) totals.indices.reverse else totals.indices) {
      val (rows, total) = totals(p)
      starts(p) = seen
      carryIn(p) = acc
      acc = Array.tabulate(n)(k => merges(k)(acc(k), total(k) match {
        case (v, i: Long) => (v, i + seen)
        case t => t
      }))
      seen += rows
    }
    val last = seen + 1
    val show: Any => Any = {
      case (v, i: Long) => InternalRow(v, if (reversed) last - i else i)
      case s => s
    }
    val outAttrs = output
    input.mapPartitionsWithIndexInternal { (p, rows) =>
      val acc = carryIn(p).clone()
      var i = starts(p)
      val out = new GenericInternalRow(n)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      rows.map { r =>
        i += 1
        var k = 0
        while (k < n) {
          val before = acc(k)
          acc(k) = merges(k)(before, RunningScan.lift(carries(k), bound(k).eval(r), i))
          out.update(k, show(if (inclusive(k)) acc(k) else before))
          k += 1
        }
        proj(joined(r, out))
      }
    }
  }
}
