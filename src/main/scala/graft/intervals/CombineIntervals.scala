package graft.intervals

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Carry, RunningScan}

/** Interval set-algebra via sweep-line overlap counting — reimplementation
  * of the reference's `combine_intervals`
  * (`/root/reference/catabra_pandas/misc.py:260-436`).
  *
  * Emits the maximal intervals on which the number of overlapping input
  * intervals lies in `[nMin, nMax]`. Covers union (`nMin = 1`), k-fold
  * intersection (`nMin = k`), gaps (`nMin = nMax = 0`, finite gaps between
  * intervals only — docstring example `misc.py:335-345`), and span
  * (`nMin = 0, nMax = None`). With `attrCols`, overlapping intervals that
  * share attribute values count as one (`misc.py:367-401`). Zero-length
  * output intervals are dropped (`misc.py:429`).
  *
  * Plan: unpivot to ±1 events; collapse simultaneous events; per group
  * and in event order, the running depth and the previous event, so each
  * event closes the region [previous event, event) at the depth before
  * it; gaps-and-islands segment extraction, a segment being the regions
  * with the same running count of regions outside the depth range. With
  * `attrCols` the depth is computed per attribute first and transitions
  * of the per-attribute active flag become the combined events — one
  * extra window pass, no per-attribute loop. With `groupBy` everything is
  * partitioned by it (plus `attrCols` for the first pass): two shuffles
  * total. Without `groupBy` the two running passes are scans
  * ([[RunningScan]]) over one range exchange on the event time, not a
  * window over a single partition.
  */
object CombineIntervals {

  def apply(
      df: DataFrame,
      startCol: String = "start",
      stopCol: Option[String] = Some("stop"),
      lengthCol: Option[String] = None,
      attrCols: Seq[String] = Nil,
      groupBy: Seq[String] = Nil,
      nMin: Int = 1,
      nMax: Option[Int] = None): DataFrame = {

    require(stopCol.isDefined != lengthCol.isDefined,
      "exactly one of stopCol/lengthCol must be given")
    require(nMax.forall(nMin <= _), "nMin must be <= nMax")
    require(attrCols.intersect(groupBy).isEmpty,
      "attrCols and groupBy must be disjoint")

    val gb = groupBy.map(col)
    val stopExpr: Column =
      stopCol.map(col).getOrElse(col(startCol) + col(lengthCol.get))

    val keyCols = groupBy ++ attrCols
    val t = "__graft_t"
    val d = "__graft_d"

    val events = df
      .select((keyCols.map(col) :+ col(startCol).as(t)) :+ lit(1L).as(d): _*)
      .unionByName(
        df.select((keyCols.map(col) :+ stopExpr.as(t)) :+ lit(-1L).as(d): _*))

    // collapse simultaneous events, then reduce to per-group ±1 transitions
    val perGroupEvents: DataFrame =
      if (attrCols.isEmpty) {
        events.groupBy((gb :+ col(t)): _*).agg(sum(col(d)).as(d))
      } else {
        val wA = Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(t))
        val collapsed = events
          .groupBy((keyCols.map(col) :+ col(t)): _*)
          .agg(sum(col(d)).as(d))
        val cum = sum(col(d)).over(wA.rowsBetween(Window.unboundedPreceding, 0))
        // transition of the per-attribute "active" indicator at this event
        val delta = (cum > 0).cast("long") - ((cum - col(d)) > 0).cast("long")
        collapsed
          .withColumn(d, delta)
          .groupBy((gb :+ col(t)): _*)
          .agg(sum(col(d)).as(d))
      }

    val (depth, prev, flag, seg) = ("__graft_depth", "__graft_prev", "__graft_flag", "__graft_seg")
    val byT = Window.partitionBy(gb: _*).orderBy(col(t))
    val upTo = byT.rowsBetween(Window.unboundedPreceding, 0)
    val running =
      if (groupBy.isEmpty) {
        RunningScan(perGroupEvents, Seq(col(t)), RunningScan.Agg(depth, Carry.Sum, col(d)),
            RunningScan.Agg(prev, Carry.Last(ignoreNulls = false), col(t), inclusive = false))
          .withColumn(prev, col(prev).getField("v"))
      } else {
        perGroupEvents.withColumn(depth, sum(col(d)).over(upTo))
          .withColumn(prev, lag(col(t), 1).over(byT))
      }
    val before = col(depth) - col(d)
    val inRange = nMax match {
      case Some(mx) => before >= nMin && before <= mx
      case None     => before >= nMin
    }
    // the region [prev, t) qualifies; none before a group's first event
    // (misc.py:407-410: n_min=0 must not produce unbounded intervals)
    val flagged = running.withColumn(flag, inRange && col(prev).isNotNull)
    val outside = when(col(flag), 0L).otherwise(1L)
    val segmented =
      (if (groupBy.isEmpty) RunningScan.prefixSum(flagged, Seq(col(t)), outside, seg)
      else flagged.withColumn(seg, sum(outside).over(upTo)))
        .filter(col(flag))

    val merged = segmented
      .groupBy((gb :+ col(seg)): _*)
      .agg(min(col(prev)).as(startCol), max(col(t)).as("__graft_stop"))
      .filter(col(startCol) < col("__graft_stop"))
      .drop(seg)

    stopCol match {
      case Some(sc) => merged.withColumnRenamed("__graft_stop", sc)
      case None =>
        merged
          .withColumn(lengthCol.get, col("__graft_stop") - col(startCol))
          .drop("__graft_stop")
    }
  }
}
