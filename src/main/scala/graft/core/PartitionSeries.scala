package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunningScan

/** API-parity counterpart of the reference's `partition_series`
  * (`/root/reference/catabra_pandas/misc.py:644-696`): assign each group a
  * partition id such that the total row count per partition stays under a
  * budget (groups larger than the budget get their own partition).
  *
  * In the reference this is a memory-planning device for its row-budgeted
  * cross-join path (`resampling.py:1360-1383`) — machinery Spark replaces
  * with AQE + spillable operators (SURVEY.md §4), so nothing in this
  * library calls it. It is provided because it is part of the public API
  * surface; the implementation is a distributed greedy packing (running
  * sum over a window, not first-fit, so very differently-sized groups may
  * pack slightly less tightly than the reference's driver-side loop).
  *
  * @return one row per distinct group: group columns + `partition_id`
  */
object PartitionSeries {

  def apply(df: DataFrame, groupBy: Seq[String], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val sizes = df.groupBy(groupBy.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
    // cap each group at the budget so oversized groups consume exactly one
    // partition (misc.py:683-688 gives them their own partition); the
    // running sum over group order goes through the two-phase RunningScan —
    // a global orderBy window would single-partition the per-group frame
    val capped = least(col("__graft_n"), lit(budget))
    RunningScan.prefixSum(sizes, groupBy.map(col), capped, "__graft_cum")
      .withColumn("partition_id",
        ((col("__graft_cum") - 1L) / budget).cast("long"))
      .drop("__graft_n", "__graft_cum")
  }
}
