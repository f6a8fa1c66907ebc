package graft.resample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The steps [[ResampleEav]] and [[ResampleInterval]] share: the window
  * id, the NaN guard, and the pivot of one row per (window, attribute)
  * back onto the windows frame.
  */
private[resample] object WindowPivot {

  val Wid  = "__graft_wid"
  val Attr = "__graft_attr"

  /** `windows` plus a per-row id ([[Wid]]). */
  def withId(windows: DataFrame): DataFrame =
    windows.withColumn(Wid, monotonically_increasing_id())

  /** NaN sorts ABOVE +Inf in Spark, so a NaN time or endpoint would pass
    * the `<`/`<=` guards that nulls fail — treat NaN as NA explicitly
    * (pandas isna covers NaN; SURVEY.md §7.4).
    */
  def notNaN(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case DoubleType | FloatType => !isnan(col(c))
      case _                      => lit(true)
    }

  /** One output column `name`: column `src` of attribute `attr`'s row,
    * completed by `fill` (a window without that row sees null).
    */
  final case class Cell(name: String, attr: String, src: String,
      fill: Column => Column = identity)

  /** Pivots `perAttr` (one row per ([[Wid]], [[Attr]])) to one column per
    * cell by conditional aggregation on the window id, left-joins it onto
    * `w0` (the windows with their id), and fills every cell in the one
    * projection that also drops the id.
    */
  def apply(w0: DataFrame, perAttr: DataFrame, cells: Seq[Cell]): DataFrame = {
    val slots = cells.indices.map(i => s"__graft_c$i")
    val pivot = cells.zip(slots).map { case (c, s) =>
      max(when(col(Attr) === c.attr, col(c.src))).as(s)
    }
    val wide = perAttr.groupBy(col(Wid)).agg(pivot.head, pivot.tail: _*)
    val carried = w0.columns.toSeq.filter(_ != Wid)
      .map(c => col("`" + c.replace("`", "``") + "`"))
    val filled = cells.zip(slots).map { case (c, s) => c.fill(col(s)).as(c.name) }
    w0.join(wide, Seq(Wid), "left").select(carried ++ filled: _*)
  }
}
