package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Carry, RunningScan}

/** Per-column request for [[PrevNextValues]]: which output columns to emit
  * and what to fill at group edges (mirrors the `columns` dict of the
  * reference's `prev_next_values`, `/root/reference/catabra_pandas/misc.py:465-480`).
  */
final case class PrevNextSpec(
    prevName: Option[String] = None,
    nextName: Option[String] = None,
    prevFill: Option[Column] = None,
    nextFill: Option[Column] = None)

/** Grouped lag/lead — reimplementation of the reference's `prev_next_values`
  * (`/root/reference/catabra_pandas/misc.py:439-641`).
  *
  * Per group (`groupBy`), sorted by `sortBy` (NA values sort last, matching
  * `DataFrame.sort_values`, `misc.py:458-460`): previous/next values of the
  * requested columns with per-column fill values for group edges, plus
  * optional is-first / is-last indicators.
  *
  * The result is one combine step over the same neighbour columns: each
  * row's rank from the group's first and last row, and each requested
  * column's previous and next value. With `groupBy` they are
  * `row_number`/`lag`/`lead` over one `Window.partitionBy(groupBy)
  * .orderBy(sortBy)` — a single shuffle + sort regardless of how many
  * columns are asked for (a descending frame adds one sort for the
  * last-row rank). Without `groupBy` they are [[RunningScan]] carries
  * (a running count, the previous row's value, from the front and from
  * the back) over one range exchange on `sortBy`, with no
  * single-partition step. A differential spec pins keyless ≡ grouped with
  * a constant key. Row order of the result is not defined (Spark
  * DataFrames are unordered); the reference's `keep_sorted`/`inplace`
  * variants are order bookkeeping with no Spark counterpart.
  */
object PrevNextValues {

  // rank from the first / last row; previous / next value of column c
  private val RnA = "__graft_rna"
  private val RnD = "__graft_rnd"
  private def lagC(c: String) = s"__graft_lag_$c"
  private def leadC(c: String) = s"__graft_lead_$c"

  def apply(
      df: DataFrame,
      sortBy: Seq[String],
      groupBy: Seq[String] = Nil,
      columns: Map[String, PrevNextSpec] = Map.empty,
      firstIndicatorName: Option[String] = None,
      lastIndicatorName: Option[String] = None): DataFrame = {

    require(sortBy.nonEmpty, "sortBy must be non-empty")
    require(sortBy.intersect(groupBy).isEmpty,
      "sortBy and groupBy must be disjoint")
    val requested = columns.filter { case (c, _) => df.columns.contains(c) }
    val prevs = requested.collect { case (c, s) if s.prevName.isDefined => c }.toSeq
    val nexts = requested.collect { case (c, s) if s.nextName.isDefined => c }.toSeq
    val ord = sortBy.map(c => col(c).asc_nulls_last)

    val neighbours =
      if (groupBy.nonEmpty) {
        val w = Window.partitionBy(groupBy.map(col): _*).orderBy(ord: _*)
        val wDesc = Window.partitionBy(groupBy.map(col): _*)
          .orderBy(sortBy.map(c => col(c).desc_nulls_first): _*)
        df.select(col("*") +: (Seq(row_number().over(w).as(RnA),
            row_number().over(wDesc).as(RnD)) ++
          prevs.map(c => lag(col(c), 1).over(w).as(lagC(c))) ++
          nexts.map(c => lead(col(c), 1).over(w).as(leadC(c)))): _*)
      } else {
        val needRnD = lastIndicatorName.isDefined || requested.values.exists(_.nextFill.isDefined)
        val previous = Carry.Last(ignoreNulls = false)
        val scanned = RunningScan(df, ord, (Seq(RunningScan.Agg(RnA, Carry.Sum, lit(1L))) ++
          (if (needRnD) Seq(RunningScan.Agg(RnD, Carry.Sum, lit(1L), suffix = true)) else Nil) ++
          prevs.map(c => RunningScan.Agg(lagC(c), previous, col(c), inclusive = false)) ++
          nexts.map(c => RunningScan.Agg(leadC(c), previous, col(c), suffix = true,
            inclusive = false))): _*)
        (prevs.map(lagC) ++ nexts.map(leadC)).foldLeft(scanned)((d, n) =>
          d.withColumn(n, col(n).getField("v")))
      }

    val withCols = requested.foldLeft(neighbours) { case (acc, (c, spec)) =>
      val acc1 = spec.prevName.fold(acc)(n => acc.withColumn(n, spec.prevFill.fold(col(lagC(c)))(f =>
        when(col(RnA) === 1, f).otherwise(col(lagC(c))))))
      spec.nextName.fold(acc1)(n => acc1.withColumn(n, spec.nextFill.fold(col(leadC(c)))(f =>
        when(col(RnD) === 1, f).otherwise(col(leadC(c))))))
    }
    val withFirst = firstIndicatorName.fold(withCols)(n =>
      withCols.withColumn(n, col(RnA) === 1))
    lastIndicatorName.fold(withFirst)(n => withFirst.withColumn(n, col(RnD) === 1))
      .drop(Seq(RnA, RnD) ++ prevs.map(lagC) ++ nexts.map(leadC): _*)
  }
}
