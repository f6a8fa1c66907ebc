package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.RunningSum

/** Scalable ordered prefix sums.
  *
  * `Window.orderBy(...)` with no partition keys moves EVERY row through a
  * single partition — fine on a one-row-per-group frame at bench scale,
  * a straggler at 1e8 groups. This computes the same running sum with
  * [[org.apache.spark.sql.graft.RunningSumExec]]: one range exchange and
  * sort on the key order, one job for the per-partition totals, then
  * each partition adds the totals of the partitions before it to its own
  * running sum. Nothing passes through a single partition.
  *
  * The result is exactly `sum(value) OVER (ORDER BY keyCols ROWS
  * UNBOUNDED PRECEDING)`: null values are skipped, and the sum is null
  * until the first non-null value, whichever partition held it
  * (floating values agree up to the order of the additions). Requires
  * `keyCols` to be unique per row (true for the per-group frames this
  * serves): with duplicate keys the intra-tie order, and hence the
  * running sum on tied rows, would be nondeterministic.
  */
object PrefixSum {

  /** df + `outCol` = running (inclusive) sum of `value` over rows ordered
    * by `keyCols`.
    */
  def inclusive(
      df: DataFrame,
      keyCols: Seq[Column],
      value: Column,
      outCol: String): DataFrame =
    RunningSum(df, keyCols, value, outCol)
}
