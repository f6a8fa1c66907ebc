package graft.intervals

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Carry, RunningScan}

/** Single-linkage interval clustering — reimplementation of the reference's
  * `group_intervals` (`/root/reference/catabra_pandas/misc.py:125-257`).
  *
  * Two intervals connect iff their single-linkage distance is ≤ `distance`
  * (`<` when `inclusive = false`); the output groups are the equivalence
  * classes of the reflexive-transitive closure, refined by `groupBy`.
  *
  * Algorithm (same O(n log n) sweep as the reference, `misc.py:226-254`,
  * whose correctness argument for the running maximum is at
  * `misc.py:238-246`): per group, sorted by start, a new cluster begins
  * where `start > cummax(previous stops) + distance`. Cluster ids are
  * globally consecutive in (groupBy, start) order like the reference's;
  * a row with a null group key gets a null id.
  *
  * Scale: with `groupBy`, the rows are range-partitioned on the group
  * keys (nulls last) — the one exchange of full rows. The sweep runs in
  * per-group windows over it. Without `groupBy` the running `max(stop)`
  * is an exclusive max scan ([[RunningScan]]), which range-partitions
  * the rows on the sweep order instead. Either way the global id is a
  * running sum of the new-cluster flags in (groupBy, start,
  * tieBreakCols, row) order ([[RunningScan.prefixSum]]), which that same
  * exchange already orders: one totals job, no per-group offsets frame,
  * no join back and no single-partition step.
  */
object GroupIntervals {

  def apply(
      df: DataFrame,
      startCol: String,
      stopCol: Option[String] = None,
      groupBy: Seq[String] = Nil,
      distance: Column,
      inclusive: Boolean = true,
      outCol: String = "interval_group",
      tieBreakCols: Seq[String] = Nil): DataFrame = {

    val stop = stopCol.getOrElse(startCol)
    val rid  = "__graft_rid"
    val base = df.withColumn(rid, monotonically_increasing_id())

    // pandas sort_values is stable and puts NA last; tieBreakCols make the
    // equal-start order explicit (the reference falls back to input order,
    // which a distributed engine cannot promise without a column)
    val ord = (col(startCol).asc_nulls_last +:
      tieBreakCols.map(col(_).asc_nulls_last)) :+ col(rid).asc

    // running max of *previous* stops (strictly before the current row)
    def newCluster(cm: Column): Column = {
      val connected =
        if (inclusive) col(startCol) <= cm + distance
        else col(startCol) < cm + distance
      when(cm.isNull || !connected, 1L).otherwise(0L)
    }
    val keys = groupBy.map(col(_).asc_nulls_last)
    val flagged =
      if (groupBy.isEmpty) {
        RunningScan(base, ord, RunningScan.Agg("__graft_cm", Carry.Max, col(stop),
            inclusive = false))
          .withColumn("__graft_new", newCluster(col("__graft_cm"))).drop("__graft_cm")
      } else {
        val w = Window.partitionBy(groupBy.map(col): _*).orderBy(ord: _*)
        base.repartitionByRange(keys: _*).withColumn("__graft_new",
          newCluster(max(col(stop)).over(w.rowsBetween(Window.unboundedPreceding, -1))))
      }
    // a row with a null group key gets a null id; its clusters still
    // take up ids, between the keys sorted before and after it
    val keyed = groupBy.map(col(_).isNotNull).foldLeft(lit(true))(_ && _)
    RunningScan.prefixSum(flagged, keys ++ ord, col("__graft_new"), outCol)
      .withColumn(outCol, when(keyed, col(outCol) - 1))
      .drop("__graft_new", rid)
  }
}
