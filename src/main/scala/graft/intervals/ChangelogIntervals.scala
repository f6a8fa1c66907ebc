package graft.intervals

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog → validity intervals (SCD2 build): turn a keyed event log
  * `(key…, ts, attrs…)` into half-open validity intervals — each event
  * is valid from its timestamp until the key's NEXT event, the last
  * event per key until `horizon` (null = open-ended, the reference's
  * ±∞ convention, `merging.py:30-36`).
  *
  * This is the precursor every interval operator here consumes: state
  * logs, price/config changes, and dimension snapshots arrive as
  * events; `merge_intervals`/`resample_interval`/as-of all want
  * `[start, stop)` validity. The pandas idiom is a grouped
  * `shift(-1)`; here it is ONE window pass per key (single shuffle +
  * sort, spillable, no self-join).
  *
  * Semantics (all specced):
  *   - rows with null `tsCol` are DROPPED (they cannot be placed);
  *   - ties on `tsCol` are ordered by `tieBreak` (deterministic SCD
  *     requires one — e.g. a sequence/event id); all but the last
  *     tied event get ZERO-LENGTH `[ts, ts)` intervals, which are
  *     empty under the half-open convention — keep them as audit rows
  *     (default) or drop them with `dropEmpty = true`;
  *   - keys are required: a keyless global changelog would need a
  *     total order over the whole frame (use `PrevNextValues`' keyless
  *     running-scan path for that shape).
  */
object ChangelogIntervals {

  def apply(
      df: DataFrame,
      on: Seq[String],
      tsCol: String,
      tieBreak: Seq[String] = Nil,
      stopCol: String = "stop",
      horizon: Option[Column] = None,
      dropEmpty: Boolean = false): DataFrame = {
    require(on.nonEmpty, "need at least one key column")
    require((on :+ tsCol) ++ tieBreak forall df.columns.contains,
      "key/ts/tieBreak columns must exist")
    require(!df.columns.contains(stopCol), s"$stopCol already exists")

    val w = Window.partitionBy(on.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)
    val out = df.filter(col(tsCol).isNotNull)
      .withColumn(stopCol, coalesce(
        lead(col(tsCol), 1).over(w),
        horizon.getOrElse(lit(null).cast(df.schema(tsCol).dataType))))
    if (dropEmpty)
      out.filter(col(stopCol).isNull || col(tsCol) < col(stopCol))
    else out
  }
}
