// Hosted under org.apache.spark.sql for the same reason as IntervalSweep:
// a logical node, a planner Strategy and a physical SparkPlan, plus the
// private[sql] `classic.Dataset.ofRows` to put a DataFrame over the node.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Logical running sum: the child's rows plus `out` =
  * `sum(value) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING)`.
  * `value` has the sum's result type (long, double or decimal); the sum
  * skips nulls and is null until the first non-null value. Rows tied on
  * `order` are summed in an unspecified order.
  */
case class RunningSum(
    order: Seq[SortOrder],
    value: Expression,
    out: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningSum =
    copy(child = newChild)
}

object RunningSum {

  /** `df` + `outCol` = the running sum of `value` over `df`'s rows in
    * `order` (columns, or sort orders such as `asc_nulls_last`),
    * planned as [[RunningSumExec]]. An existing `outCol` is replaced.
    */
  def apply(df: DataFrame, order: Seq[Column], value: Column, outCol: String): DataFrame = {
    require(order.nonEmpty, "a running sum needs an order")
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(RunningSumStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RunningSumStrategy
    }
    val v = "__graft_rsum_v"
    val o = "__graft_rsum_out"
    val withV = df.withColumn(v, value)
    val sumType = withV.schema(v).dataType match {
      case _: IntegralType => LongType
      case FloatType | DoubleType => DoubleType
      case DecimalType.Fixed(p, s) => DecimalType.bounded(p + 10, s)
      case t => throw new IllegalArgumentException(s"no running sum of $t")
    }
    // the analyzer resolves the order columns (names, directions) the
    // way it resolves any sort
    val (resolved, child) = withV.withColumn(v, col(v).cast(sumType))
      .sortWithinPartitions(order: _*).queryExecution.analyzed match {
        case Sort(so, false, c, _) => (so, c)
        case p => throw new IllegalStateException(s"unexpected sort plan: $p")
      }
    val vAttr = child.output.find(_.name == v).get
    val node = RunningSum(resolved, vAttr, AttributeReference(o, sumType)(), child)
    SweepPlanBuilder.ofRows(spark, node)
      .withColumn(outCol, col(o)).drop(o, v)
  }

  /** `a + b` in the sum type; overflow raises, as Spark's ANSI sum does. */
  private[graft] def add(dt: DataType): (Any, Any) => Any = dt match {
    case LongType => (a, b) => Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType => (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case d: DecimalType => (a, b) => (a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal])
      .toPrecision(d.precision, d.scale, Decimal.ROUND_HALF_UP, nullOnOverflow = false)
  }
}

/** Plans [[RunningSum]] as [[RunningSumExec]]. [[RunningSum.apply]]
  * installs it through `spark.experimental.extraStrategies`;
  * `GraftExtensions` injects it too. */
object RunningSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RunningSum => RunningSumExec(r.order, r.value, r.out, planLater(r.child)) :: Nil
    case _ => Nil
  }
}

/** Running sum over globally ordered rows, with no single-partition step.
  *
  * The child is required to be range-partitioned and sorted on `order`
  * (`OrderedDistribution` + `requiredChildOrdering`), so
  * EnsureRequirements inserts one range exchange and one sort, or none
  * when the child already has them. The rows then run in `order` across
  * the partitions in index order. Execution reads that child's RDD
  * twice, the way Spark's `ZippedWithIndexRDD` reads its parent:
  *   1. one job sums `value` per partition;
  *   2. each partition adds its offset — the total of the partitions
  *      before it — to its own running sum as it streams its rows.
  * Both passes read the same shuffle output (each sorts its partition):
  * the input is written once and nothing upstream of the exchange is
  * recomputed. The totals job runs when the plan executes, never while
  * it is built.
  */
case class RunningSumExec(
    order: Seq[SortOrder],
    value: Expression,
    out: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): RunningSumExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val add = RunningSum.add(out.dataType)
    // null = no non-null value yet
    val plus = (acc: Any, v: Any) =>
      if (v == null) acc else if (acc == null) v else add(acc, v)
    val bound = BindReferences.bindReference(value, child.output)
    val input = child.execute()
    val totals = sparkContext.runJob(input,
      (rows: Iterator[InternalRow]) => rows.foldLeft(null: Any)((a, r) => plus(a, bound.eval(r))))
    val offsets = totals.scanLeft(null: Any)(plus)
    val outAttrs = output
    input.mapPartitionsWithIndexInternal { (i, rows) =>
      var acc = offsets(i)
      val sum = new GenericInternalRow(1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      rows.map { r =>
        acc = plus(acc, bound.eval(r))
        sum.update(0, acc)
        proj(joined(r, sum))
      }
    }
  }
}
