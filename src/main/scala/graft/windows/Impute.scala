package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Carry, RunningScan}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, NumericType}

/** Grouped imputation — Spark-native reimplementation of the reference's
  * `impute` (`/root/reference/catabra_pandas/misc.py:699-845`).
  *
  * Methods (`misc.py:712-723`):
  *   - `ffill` / `bfill`: per-group forward/backward fill; `limit = k` fills
  *     at most `k` consecutive nulls after/before a valid value;
  *   - `afill`: average of ffill and bfill where both are defined, else
  *     whichever exists (`misc.py:744-758`);
  *   - `linear`: per-group linear interpolation **by row position** (row
  *     labels are ignored, `misc.py:721-722`), interior only (no
  *     extrapolation, `limit_area="inside"`); `limit = k` fills only the
  *     first `k` positions of each gap (pandas forward limit direction),
  *     with values computed as if the whole gap were interpolated;
  *   - `lfill`: `linear`, then `ffill`, then `bfill` (`misc.py:760-764`).
  *
  * The reference imputes "in the DataFrame's current order"; Spark frames
  * are unordered, so the order is an explicit `orderBy` parameter.
  *
  * Every method is one combine step over the same donor columns: per
  * column, the nearest non-null value at or before each row and at or
  * after it, with the row numbers they sit at (only the directions the
  * method reads). With `groupBy` the donors are running `last(ignoreNulls)`
  * windows over one shuffle + sort on (groupBy, orderBy), plus a mirrored
  * frame for the next donors. Without `groupBy` any row may take its donor
  * from arbitrarily far away in the global order; the donors are then
  * [[RunningScan]] carries (the last non-null value with its row number,
  * from the front and from the back) over one range exchange on
  * `orderBy`, with no single-partition step. A differential spec pins
  * keyless ≡ grouped with a constant key for every method × limit.
  *
  * `ffill`/`bfill`/`afill` work on any data type (afill midpoints require a
  * numeric or timestamp-like type supporting `+`/`-`/`/2` — enforced by the
  * analyzer); `linear`/`lfill` require numeric columns.
  */
object Impute {

  private val Rn = "__graft_rn"
  // per imputed column: the previous (at or before the row) and next (at
  // or after it) non-null value, and the row numbers they sit at
  private def pv(c: String) = s"__graft_pv_$c"
  private def pn(c: String) = s"__graft_pn_$c"
  private def nv(c: String) = s"__graft_nv_$c"
  private def nn(c: String) = s"__graft_nn_$c"

  def apply(
      df: DataFrame,
      cols: Seq[String],
      method: String,
      groupBy: Seq[String],
      orderBy: Seq[Column],
      limit: Option[Int] = None): DataFrame = {
    require(cols.nonEmpty, "no columns to impute")
    require(Seq("ffill", "bfill", "afill", "linear", "lfill").contains(method),
      s"method=$method")
    limit.foreach(l => require(l > 0, "limit must be positive"))
    if (method == "linear" || method == "lfill") cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[NumericType],
        s"linear interpolation requires a numeric column, got $c")
    }
    val (prev, next) = (method != "bfill", method != "ffill")
    val donors =
      if (groupBy.nonEmpty) windowDonors(df, cols, groupBy, orderBy, prev, next)
      else scanDonors(df, cols, orderBy, prev, next)
    val imputed = cols.map(c => c -> combine(method, c, df.schema(c).dataType, limit)).toMap
    donors.select(df.columns.map(c => imputed.getOrElse(c, col(c)).as(c)).toIndexedSeq: _*)
  }

  /** Donors from running frames over each group in `orderBy`. */
  private def windowDonors(
      df: DataFrame, cols: Seq[String], groupBy: Seq[String], orderBy: Seq[Column],
      prev: Boolean, next: Boolean): DataFrame = {
    val part = Window.partitionBy(groupBy.map(col): _*)
    val withRn = df.withColumn(Rn, row_number().over(part.orderBy(orderBy: _*)))
    // the donor's row number via the SAME last(ignoreNulls) frame that
    // picks the donor value
    def donors(o: Column, v: String => String, n: String => String) = {
      val w = part.orderBy(o).rowsBetween(Window.unboundedPreceding, 0)
      cols.flatMap(c => Seq(last(col(c), ignoreNulls = true).over(w).as(v(c)),
        last(when(col(c).isNotNull, col(Rn)), ignoreNulls = true).over(w).as(n(c))))
    }
    withRn.select(col("*") +: ((if (prev) donors(col(Rn).asc, pv, pn) else Nil) ++
      (if (next) donors(col(Rn).desc, nv, nn) else Nil)): _*)
  }

  /** Donors from running scans over the global `orderBy`. */
  private def scanDonors(
      df: DataFrame, cols: Seq[String], orderBy: Seq[Column],
      prev: Boolean, next: Boolean): DataFrame = {
    val dirs = (if (prev) Seq((false, pv _, pn _)) else Nil) ++
      (if (next) Seq((true, nv _, nn _)) else Nil)
    val scanned = RunningScan(df, orderBy, RunningScan.Agg(Rn, Carry.Sum, lit(1L)) +:
      dirs.flatMap { case (suffix, v, _) => cols.map(c =>
        RunningScan.Agg(v(c), Carry.Last(ignoreNulls = true), col(c), suffix = suffix)) }: _*)
    dirs.flatMap { case (_, v, n) => cols.map(c => (v(c), n(c))) }
      .foldLeft(scanned) { case (d, (v, n)) =>
        d.withColumn(n, col(v).getField("i")).withColumn(v, col(v).getField("v"))
      }
  }

  /** The imputed value of column `c` of type `dt` from its donors. */
  private def combine(method: String, c: String, dt: DataType, limit: Option[Int]): Column = {
    val (x, rn) = (col(c), col(Rn))
    val (p, pRn, n, nRn) = (col(pv(c)), col(pn(c)), col(nv(c)), col(nn(c)))
    // a donor more than `limit` rows away does not fill
    def fill(v: Column, at: Column) =
      limit.fold(v)(k => when(x.isNotNull, x).when(abs(rn - at) <= k, v))
    val (f, b) = (fill(p, pRn), fill(n, nRn))
    // interior only, by position, as if the whole gap were interpolated;
    // `limit = k` fills only the first k rows of a gap (pandas forward limit)
    def interp(at: Column) = (p + (n - p) *
      ((at - pRn).cast(DoubleType) / (nRn - pRn).cast(DoubleType)))
      .cast(if (dt == FloatType) FloatType else DoubleType)
    val inside = when(x.isNotNull, x).when(p.isNull || n.isNull, lit(null))
    val linear = limit.fold(inside.otherwise(interp(rn)))(k =>
      inside.when(rn - pRn <= k, interp(rn)))
    method match {
      case "ffill" => f
      case "bfill" => b
      case "afill" => // misc.py:744-758
        when(f.isNotNull && b.isNotNull, f + (b - f) / 2).otherwise(coalesce(f, b))
      case "linear" => linear
      case "lfill" => // misc.py:760-764
        // linear, then ffill and bfill over its result: inside a gap, the
        // ffill donor past the first k rows is the k-th interpolated row
        val ff = limit.fold(f)(k => when(n.isNull, f).when(rn - pRn <= 2 * k, interp(pRn + k)))
        coalesce(linear, ff, b)
    }
  }
}
