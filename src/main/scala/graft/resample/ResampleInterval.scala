package graft.resample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-weighted interval resampling — Spark-native reimplementation of the
  * reference's `resample_interval`
  * (`/root/reference/catabra_pandas/resampling.py:453-788`, kernel
  * `_resample_interval_aux` `resampling.py:2063-2124`).
  *
  * For every window `W = [s,t]` and observation interval `I = [a,b]` with
  * value `v`, `I` contributes `v * |W ∩ I| / |I|`; the per-window result is
  * the sum of contributions per attribute. Conventions
  * (`resampling.py:541-568`):
  *   - NA values / NA interval endpoints / `a > b` ⇒ row ignored;
  *   - `a = b` (zero-length `I`) ⇒ fraction is 1 if `a ∈ W`, else 0;
  *   - `I` infinite, `W ∩ I` finite non-empty ⇒ contribution `ε·sign(v)`;
  *   - `I` and `W ∩ I` both infinite ⇒ fraction 1;
  *   - invalid windows (NA endpoint) overlap nothing;
  *   - windows overlapping nothing get 0 (empty sum), one output column per
  *     attribute, row multiset identical to `windows`.
  *
  * Architecture: one equi-join on entity with the closed-overlap range
  * conjuncts as post-filter (sort-merge / broadcast chosen by Catalyst), a
  * codegen'd `when`-ladder for the fraction, partial+final hash aggregation
  * on (window, attribute), and a conditional-aggregation pivot back onto the
  * windows frame. All intervals and windows are closed (`resampling.py:480`).
  */
object ResampleInterval {

  import WindowPivot.{Attr, Wid, notNaN}

  /** Cast a (numeric | date | timestamp) endpoint to a double "metric" for
    * duration ratios; timestamps via microseconds (testdata is ms-precision,
    * SURVEY.md §7.4).
    */
  private def metric(c: Column, dt: DataType): Column = dt match {
    case TimestampType    => unix_micros(c).cast(DoubleType)
    // NTZ→TZ cast is identity under the UTC session timezone we require
    case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(DoubleType)
    case DateType         => unix_date(c).cast(DoubleType)
    case _                => c.cast(DoubleType)
  }

  /** @param df         observations: `entityCol?`, `startCol?`, `stopCol?`,
    *                   `attrCol?`, `valueCol` (numeric). A missing endpoint
    *                   column means −∞ / +∞ for all rows.
    * @param windows    windows: `entityCol?`, `wStartCol?`, `wStopCol?` plus
    *                   arbitrary carried columns.
    * @param valueCol   numeric value column in `df`
    * @param entityCol  equality key present in both inputs (None ⇒ all rows
    *                   one entity)
    * @param startCol   lower endpoints of `df` intervals
    * @param stopCol    upper endpoints of `df` intervals
    * @param attrCol    attribute column in `df`; None ⇒ single attribute
    * @param attributes output attributes; None ⇒ distinct values of
    *                   `attrCol` (triggers one small job), or `Seq("sum")`
    *                   when `attrCol` is None (`resampling.py:617-622`)
    * @param wStartCol  lower endpoints of windows
    * @param wStopCol   upper endpoints of windows
    * @param epsilon    contribution of infinite intervals with finite
    *                   non-empty intersection
    * @return `windows` + one double column per attribute
    */
  def apply(
      df: DataFrame,
      windows: DataFrame,
      valueCol: String,
      entityCol: Option[String] = None,
      startCol: Option[String] = None,
      stopCol: Option[String] = None,
      attrCol: Option[String] = None,
      attributes: Option[Seq[String]] = None,
      wStartCol: Option[String] = None,
      wStopCol: Option[String] = None,
      epsilon: Double = 1e-7): DataFrame = {

    require(startCol.isDefined || stopCol.isDefined,
      "at least one of startCol/stopCol required")
    require(wStartCol.isDefined || wStopCol.isDefined,
      "at least one of wStartCol/wStopCol required")

    // Attribute inference drives a PIVOT, so the distinct set must be
    // driver-bounded (same contract as the reference: attributes are a
    // small vocabulary, resampling.py:580-585). The collect is capped —
    // an unbounded attr column at 100× scale would stall the driver, so
    // past the cap the call fails loudly and the caller must pass
    // `attributes` explicitly (which also skips this extra job).
    val MaxInferredAttrs = 10000
    val attrs: Seq[String] = attributes.getOrElse {
      attrCol match {
        case Some(a) =>
          // a null attribute is no output column: its rows fail `isin`
          val inferred = df.select(a).where(col(a).isNotNull).distinct()
            .limit(MaxInferredAttrs + 1).collect()
          require(inferred.length <= MaxInferredAttrs,
            s"resample_interval inferred more than $MaxInferredAttrs " +
              s"distinct values in attribute column '$a'; pass " +
              "attributes = Some(...) explicitly (pivot output grows one " +
              "column per attribute — an unbounded attribute column is " +
              "almost certainly the wrong pivot axis)")
          inferred.map(_.get(0).toString).toSeq.sorted
        case None => Seq("sum")
      }
    }

    // ── filter observations (resampling.py:603-616) ─────────────────────
    val obsValid0 = Seq(
      Some(col(valueCol).isNotNull && !isnan(col(valueCol).cast(DoubleType))),
      startCol.map(c => col(c).isNotNull && notNaN(df, c)),
      stopCol.map(c => col(c).isNotNull && notNaN(df, c)),
      for (a <- startCol; b <- stopCol) yield col(a) <= col(b),
      attrCol.map(a => col(a).isin(attrs: _*))
    ).flatten.reduce(_ && _)
    val obs = df.filter(obsValid0)

    val w0 = WindowPivot.withId(windows)

    // Rename obs columns to avoid ambiguity.
    val oPrefix = "__graft_o_"
    val obsR = obs.toDF(obs.columns.toSeq.map(oPrefix + _): _*)
    def o(c: String): Column = col(oPrefix + c)

    // ── join: entity equality + closed overlap; invalid windows match
    //    nothing (NA endpoints fail the comparisons) ───────────────────
    val keyCond = entityCol.map(e => col(e) === o(e))
    val conj1 = for (a <- startCol; t <- wStopCol) yield o(a) <= col(t)
    val conj2 = for (s <- wStartCol; b <- stopCol) yield col(s) <= o(b)
    // a window with a null/NaN endpoint is invalid and overlaps nothing
    // (resampling.py:489-492) — guard each endpoint independently, since
    // its comparison conjunct may be absent (half-unbounded interval side)
    val wGuards = (wStartCol.toSeq ++ wStopCol).map(c =>
      col(c).isNotNull && notNaN(windows, c))
    val cond = (keyCond.toSeq ++ conj1 ++ conj2 ++ wGuards)
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined = w0.join(obsR, cond, "inner")

    // ── fraction (when-ladder, all codegen'd) ───────────────────────────
    val timeDt: DataType =
      df.schema(startCol.orElse(stopCol).get).dataType
    def m(c: Column): Column = metric(c, timeDt)

    val negInf = lit(Double.NegativeInfinity)
    val posInf = lit(Double.PositiveInfinity)
    val iStart = startCol.map(c => m(o(c))).getOrElse(negInf)
    val iStop  = stopCol.map(c => m(o(c))).getOrElse(posInf)
    val wStart = wStartCol.map(c => m(col(c))).getOrElse(negInf)
    val wStop  = wStopCol.map(c => m(col(c))).getOrElse(posInf)

    val interStart = greatest(iStart, wStart)
    val interStop  = least(iStop, wStop)
    val iDur     = iStop - iStart          // ≥ 0; may be +inf; NaN if ±inf−±inf
    val interDur = interStop - interStart  // ≥ 0 on joined rows
    val v = o(valueCol).cast(DoubleType)

    // Infinity tests with absent endpoint columns folded at PLAN time:
    // when startCol is absent, iStart IS the −∞ literal and building
    // `iStart === negInf` would construct a trivially-true
    // `Infinity == Infinity` equals predicate (Spark warns, and the
    // dead `when` branches survive into codegen). The intersection
    // endpoint is infinite only when BOTH of its greatest/least inputs
    // are unbounded columns-absent; with at least one real column the
    // runtime comparison stays (double data can carry literal ±inf).
    def infTest(absent: Boolean, endpoint: Column, inf: Column): Column =
      if (absent) lit(true) else endpoint === inf
    val iInf =
      infTest(startCol.isEmpty, iStart, negInf) ||
        infTest(stopCol.isEmpty, iStop, posInf)
    val interInf =
      infTest(startCol.isEmpty && wStartCol.isEmpty, interStart, negInf) ||
        infTest(stopCol.isEmpty && wStopCol.isEmpty, interStop, posInf)

    val contribution =
      when(iInf && interInf, v)                       // fraction 1
        .when(iInf, lit(epsilon) * signum(v))         // finite ∩, infinite I
        .when(iDur === 0d, v)                         // point I ∈ W (join guarantees)
        .otherwise(v * interDur / iDur)

    val attrExpr: Column = attrCol.map(o).getOrElse(lit(attrs.head))

    // ── aggregate: partial+final hash agg on (wid, attr), then pivot by
    //    conditional aggregation in a cheap second pass on wid ──────────
    val perAttr = joined
      .groupBy(col(Wid), attrExpr.as(Attr))
      .agg(sum(contribution).as("__graft_sum"))
    WindowPivot(w0, perAttr,
      attrs.map(a => WindowPivot.Cell(a, a, "__graft_sum", coalesce(_, lit(0.0)))))
  }
}
