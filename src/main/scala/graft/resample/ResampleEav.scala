package graft.resample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType, TimestampNTZType, TimestampType}

/** EAV window resampling — Spark-native reimplementation of the reference's
  * `resample_eav` (`/root/reference/catabra_pandas/resampling.py:25-450`).
  *
  * Input is a long entity–attribute–value table of timestamped observations
  * and a table of per-entity `[start, stop)` windows (closedness
  * configurable; either endpoint may be globally absent = ±∞, or NA = the
  * window is invalid and contains nothing). For every window and every
  * requested `(attribute, aggregation)` pair one output column
  * `{attribute}_{agg}` is appended to the windows frame.
  *
  * Aggregations (`resampling.py:69-96`): mean, min, max, median, std, var,
  * sum, prod, skew, mad, sem, size, count, nunique, mode, mode_count,
  * `pXX` (percentile, XX ∈ [0,100]), `rXX` / `tXX` (value / time of the
  * XX-th observation by time, 0-based, negative = from the end,
  * out-of-range ⇒ NA).
  *
  * Deviations from the reference, documented per SURVEY.md §1.2/§7.4:
  *   - count-like aggs (`size`/`count`/`nunique`/`mode_count`) are
  *     `LongType` (reference: float64), 0 for empty windows (same);
  *   - mode ties break deterministically by value ascending (reference:
  *     "randomly but reproducibly", `misc.py:930-933`);
  *   - rank-agg time ties break by a stable observation row id
  *     (`method="first"`, `resampling.py:2025`);
  *   - `std`/`var`/`sem` need ≥2 and `skew` ≥3 observations, else null
  *     (pandas: NaN — null is the Spark-native spelling);
  *   - `skew` is pandas' adjusted Fisher–Pearson `G1`, obtained from
  *     Spark's population `skewness` via `sqrt(n(n-1))/(n-2)`.
  *
  * Architecture (replaces the reference's join-vs-group strategy machinery,
  * `resampling.py:1272-1400`, which is an execution-memory workaround Spark
  * does not need — AQE and spillable hash aggregation take its place):
  * one equi-join on entity with the time-containment range conjunct as
  * post-filter, then ONE aggregation keyed by `(window, attribute)` over
  * the joined long frame computes every requested aggregation, custom ones
  * included. The holistic ones read per-row helpers that at most two
  * window sorts under one `(window, attribute)` shuffle attach first: by
  * value (the value rank and non-null count for exact `pXX`; the count of
  * equal values and the group's top count for `mode`), and by (time, row
  * id) (the rank and row count for `rXX`/`tXX`); `mad` reads the group
  * mean from whichever of them runs. One conditional-aggregation pivot
  * keyed by window then widens the result onto the windows frame.
  */
object ResampleEav {

  import WindowPivot.{Attr, Wid, notNaN}

  private val Oid   = "__graft_oid"
  private val VCol  = "__graft_v"
  private val TCol  = "__graft_t"
  // per-row helpers: rank by (time, oid) and the group's row count; rank
  // by value, non-null count, count of equal values and its group max;
  // group mean
  private val TRank = "__graft_trn"
  private val TN    = "__graft_tn"
  private val VRank = "__graft_vrn"
  private val VN    = "__graft_vn"
  private val VCnt  = "__graft_vcnt"
  private val VTop  = "__graft_vtop"
  private val VMean = "__graft_vmean"

  private val PercentRe = """p(\d+(?:\.\d+)?)""".r
  private val RankRe    = """([rt])(-?\d+)""".r

  private sealed trait AggKind
  private case class Std(name: String)            extends AggKind
  private case class Pct(q: Double)               extends AggKind
  private case class Rank(k: Int, time: Boolean)  extends AggKind
  private case object Mode                        extends AggKind
  private case object ModeCount                   extends AggKind

  private def parse(agg: String): AggKind = agg match {
    case "mode"       => Mode
    case "mode_count" => ModeCount
    case "median"     => Pct(0.5)
    case PercentRe(x) => Pct(x.toDouble / 100.0)
    case RankRe(rt, k) => Rank(k.toInt, rt == "t")
    case s if StdNames(s) => Std(s)
    case other => throw new IllegalArgumentException(s"unknown agg '$other'")
  }

  private val StdNames = Set("mean", "min", "max", "std", "var", "sum",
    "prod", "skew", "mad", "sem", "size", "count", "nunique")

  private val CountLike = Set("size", "count", "nunique", "mode_count")

  /** @param obs        observations: `timeCol`, `valueCol`, `entityCol?`,
    *                   `attrCol?`
    * @param windows    windows: `entityCol?`, `wStartCol?`, `wStopCol?` plus
    *                   arbitrary carried columns
    * @param agg        attribute → list of aggregation names (see above);
    *                   when `attrCol` is None, must have exactly one key
    * @param includeStart window start times belong to the window
    * @param includeStop  window stop times belong to the window
    * @param customAgg  attribute → custom aggregations (name, builder over
    *                   the (value, time) columns) — see [[CustomAgg]]
    * @param approx     scale opt-in (SURVEY.md §2.4): `pXX`/`median` use
    *                   `approx_percentile` and `nunique` uses
    *                   `approx_count_distinct` — sketch-mergeable partial
    *                   aggregation instead of exact per-group state (the
    *                   exact percentile buffers every value; exact
    *                   distinct triggers an Expand). Results are
    *                   approximate — keep `false` when oracle-comparing
    * @param optimize   API parity with the reference's
    *                   `optimize="time"/"memory"` (resampling.py:113-118),
    *                   which sizes ITS hand-built join/sort batches
    *                   (`MAX_ROWS`). Validated, then ignored: Spark sizes
    *                   and spills those batches itself (Tungsten
    *                   spillable aggregation + AQE), so both spellings
    *                   produce the identical plan; the genuine
    *                   memory-for-accuracy knob here is `approx`
    * @return `windows` + one `{attr}_{agg}` column per requested pair
    */
  def apply(
      obs: DataFrame,
      windows: DataFrame,
      agg: Map[String, Seq[String]],
      timeCol: String,
      valueCol: String,
      entityCol: Option[String] = None,
      attrCol: Option[String] = None,
      wStartCol: Option[String] = None,
      wStopCol: Option[String] = None,
      includeStart: Boolean = true,
      includeStop: Boolean = false,
      customAgg: Map[String, Seq[CustomAgg.Spec]] = Map.empty,
      approx: Boolean = false,
      optimize: String = "time"): DataFrame = {

    require(optimize == "time" || optimize == "memory",
      s"optimize must be 'time' or 'memory', got '$optimize'")
    require(agg.nonEmpty || customAgg.nonEmpty, "empty agg spec")
    require(attrCol.isDefined || (agg.keySet ++ customAgg.keySet).size == 1,
      "attrCol=None requires a single-attribute agg spec")
    require(wStartCol.isDefined || wStopCol.isDefined,
      "at least one window endpoint column required")
    val spec: Seq[(String, Seq[(String, AggKind)])] =
      agg.toSeq.sortBy(_._1).map { case (a, gs) =>
        a -> gs.map(g => g -> parse(g))
      }
    val kinds: Seq[AggKind] = spec.flatMap(_._2.map(_._2)).distinct
    val custom: Seq[(String, CustomAgg.Spec)] = for {
      (a, specs) <- customAgg.toSeq.sortBy(_._1)
      s          <- specs
    } yield a -> s
    val allAttrs: Seq[String] =
      (agg.keySet ++ customAgg.keySet).toSeq.sorted

    val (w0, joined) = windowed(obs, windows, timeCol, valueCol, entityCol,
      attrCol, wStartCol, wStopCol, includeStart, includeStop,
      allAttrs, allAttrs.head, (_, c) => col(c))
    val v = col(VCol)

    // ── per-row helpers of the holistic aggregations ────────────────────
    // Both orders partition by (wid, attr), so one shuffle serves them.
    // Each step is one window pass: the rank order sorts, then the value
    // order sorts, and the whole-group helpers ride on the last sort.
    val needRank = kinds.exists(_.isInstanceOf[Rank])
    val needPct  = !approx && kinds.exists(_.isInstanceOf[Pct])
    val needMode = kinds.exists(k => k == Mode || k == ModeCount)
    val group = Window.partitionBy(Wid, Attr)
    val byT = group.orderBy(col(TCol), col(Oid))
    val byV = group.orderBy(v.asc_nulls_last)
    def all(w: WindowSpec): WindowSpec =
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val whole = all(if (needPct || needMode) byV else if (needRank) byT else group)
    def onlyIf(need: Boolean)(hs: (String, Column)*): Seq[(String, Column)] =
      if (need) hs else Nil
    val steps = Seq(
      onlyIf(needRank)(TRank -> row_number().over(byT), TN -> count(lit(1)).over(all(byT))),
      onlyIf(needPct)(VRank -> row_number().over(byV), VN -> count(v).over(whole)) ++
        onlyIf(needMode)(VCnt ->
          count(v).over(byV.rangeBetween(Window.currentRow, Window.currentRow))),
      onlyIf(needMode)(VTop -> max(col(VCnt)).over(whole)) ++
        onlyIf(kinds.contains(Std("mad")))(VMean -> avg(v).over(whole)))
    val base = steps.filter(_.nonEmpty)
      .foldLeft(joined)((d, hs) => d.withColumns(hs.toMap))

    // ── one aggregation keyed by (wid, attr) ────────────────────────────
    val n = count(v)
    def aggOf(kind: AggKind): Column = kind match {
      case Std("mean") => avg(v)
      case Std("min")  => min(v)
      case Std("max")  => max(v)
      case Std("sum")  => sum(v)
      case Std("prod") => product(v)
      case Std("std")  => when(n >= 2, stddev_samp(v))
      case Std("var")  => when(n >= 2, var_samp(v))
      case Std("sem")  => when(n >= 2, stddev_samp(v) / sqrt(n))
      case Std("skew") =>
        when(n >= 3, skewness(v) * sqrt(n.cast(DoubleType) * (n - 1)) / (n - 2))
      case Std("mad")  => avg(abs(v - col(VMean)))
      case Std("size") => count(lit(1))
      case Std("count") => n
      case Std(_)      => // nunique
        if (approx) approx_count_distinct(v) else count_distinct(v)
      case Pct(q) if approx => percentile_approx(v, lit(q), lit(10000))
      case Pct(q) =>
        // exact pXX by pandas' linear interpolation lower + (upper−lower)·g
        // over the value ranks — hash aggregation over a spillable sort,
        // where the built-in `percentile` (a TypedImperativeAggregate)
        // buffers every value per group and falls back to sort-based
        // aggregation beyond 128 in-memory groups. pos = (n−1)·q is
        // constant within the group, so the floor/ceil rank hits are
        // per-row predicates.
        val pos = (col(VN) - 1).cast(DoubleType) * lit(q)
        val lo = max(when(col(VRank) === (floor(pos) + 1), v))
        val hi = max(when(col(VRank) === (ceil(pos) + 1), v))
        lo + (hi - lo) * (max(pos) - floor(max(pos)))
      case Rank(k, time) =>
        // the k-th from the end is the group's row count − k + 1
        val hit = col(TRank) === (if (k >= 0) lit(k + 1) else col(TN) + (k + 1))
        max(when(hit, if (time) col(TCol) else v))
      // ties: the most frequent value, the smallest of those
      case Mode      => min(when(col(VCnt) === col(VTop), v))
      case ModeCount => max(col(VCnt))
    }
    val aggCols: Seq[Column] =
      kinds.zipWithIndex.map { case (k, i) => aggOf(k).as(s"__graft_k$i") } ++
        custom.zipWithIndex.map { case ((_, (_, f)), i) => f(v, col(TCol)).as(s"__graft_x$i") }
    val perAttr = base.groupBy(col(Wid), col(Attr)).agg(aggCols.head, aggCols.tail: _*)

    // ── pivot to wide; count-likes are 0, not null, for empty windows ───
    val slot = kinds.zipWithIndex.toMap
    val cells = (for {
      (a, gs)    <- spec
      (gName, k) <- gs
    } yield WindowPivot.Cell(s"${a}_$gName", a, s"__graft_k${slot(k)}",
      if (CountLike(gName)) c => coalesce(c.cast(LongType), lit(0L)) else identity)) ++
      custom.zipWithIndex.map { case ((a, (nm, _)), i) =>
        WindowPivot.Cell(s"${a}_$nm", a, s"__graft_x$i") }
    WindowPivot(w0, perAttr, cells)
  }

  /** The windows with their id, and one row (wid, attr, time, value, row
    * id) per observation inside a window: NaN values become null, rows
    * with an NA time (or an attribute outside `attrs`, when given) are
    * dropped, and a window with an NA endpoint contains nothing. `time`
    * maps the observation time and the window endpoints to the type
    * they are compared (and returned) in.
    */
  private def windowed(
      obs: DataFrame,
      windows: DataFrame,
      timeCol: String,
      valueCol: String,
      entityCol: Option[String],
      attrCol: Option[String],
      wStartCol: Option[String],
      wStopCol: Option[String],
      includeStart: Boolean,
      includeStop: Boolean,
      attrs: Seq[String],
      defaultAttr: String,
      time: (DataFrame, String) => Column): (DataFrame, DataFrame) = {
    // NaN values are NA in pandas but ordinary (maximal) values to Spark
    // aggregates — normalize NaN→null at ingress (SURVEY.md §7.4)
    val vNorm = obs.schema(valueCol).dataType match {
      case DoubleType | FloatType =>
        when(isnan(col(valueCol)), lit(null)).otherwise(col(valueCol))
      case _ => col(valueCol)
    }
    val obsKeep = (Seq(col(timeCol).isNotNull && notNaN(obs, timeCol)) ++
      attrCol.filter(_ => attrs.nonEmpty).map(a => col(a).isin(attrs: _*)))
      .reduce(_ && _)
    val ePrefix = "__graft_e_"
    val obsN = obs
      .filter(obsKeep)
      .withColumn(Oid, monotonically_increasing_id())
      .select(
        (entityCol.map(e => col(e).as(ePrefix + e)).toSeq :+
          attrCol.map(col).getOrElse(lit(defaultAttr)).as(Attr) :+
          time(obs, timeCol).as(TCol) :+ vNorm.as(VCol) :+ col(Oid)): _*)

    // ── join: entity equality + time ∈ window ───────────────────────────
    val w0 = WindowPivot.withId(windows)
    val keyCond = entityCol.map(e => col(e) === col(ePrefix + e))
    val lo = wStartCol.map(c =>
      (if (includeStart) time(windows, c) <= col(TCol)
       else time(windows, c) < col(TCol)) && notNaN(windows, c))
    val hi = wStopCol.map(c =>
      (if (includeStop) col(TCol) <= time(windows, c)
       else col(TCol) < time(windows, c)) && notNaN(windows, c))
    val cond = (keyCond.toSeq ++ lo ++ hi).reduce(_ && _)

    val joined = w0
      .select((col(Wid) +: (entityCol.map(col).toSeq ++ wStartCol.map(col) ++ wStopCol.map(col))): _*)
      .join(obsN, cond, "inner")
      .select(col(Wid), col(Attr), col(TCol), col(VCol), col(Oid))
    (w0, joined)
  }

  /** One observation handed to the [[flatMapWindows]] callable: attribute
    * plus time and value cast to double (timestamps become epoch
    * seconds; a missing/NaN value arrives as `Double.NaN`, the pandas NA
    * spelling the reference callable sees).
    */
  final case class FlatObs(attr: String, t: Double, v: Double)

  /** Escape hatch for genuinely non-aggregable custom window shapes —
    * the reference's callable agg may emit ARBITRARY output columns
    * (`resampling.py:257-273` probes the callable's output schema); the
    * expression-based [[CustomAgg]] hook covers multi-column scalar
    * aggs, and this covers the rest: per window, `f` receives all the
    * window's observations sorted by `(t, attr, v)` and emits zero or
    * more rows of the DECLARED case-class type `U` (Spark needs the
    * schema up front where pandas probes it). The result is the windows
    * frame inner-joined to the emissions — a window whose observation
    * set is empty emits nothing.
    *
    * Scale posture: one equi-join shuffle on entity, one `groupByKey`
    * shuffle on the window id; each window's observations are
    * materialized in memory for the callable — the same per-window
    * bound as the reference's pandas sub-frame (`resampling.py:1875+`).
    */
  def flatMapWindows[U <: Product](
      obs: DataFrame,
      windows: DataFrame,
      timeCol: String,
      valueCol: String,
      entityCol: Option[String] = None,
      attrCol: Option[String] = None,
      wStartCol: Option[String] = None,
      wStopCol: Option[String] = None,
      includeStart: Boolean = true,
      includeStop: Boolean = false,
      attributes: Seq[String] = Nil)(
      f: Seq[FlatObs] => IterableOnce[U])(
      implicit encU: org.apache.spark.sql.Encoder[U]): DataFrame = {
    require(wStartCol.isDefined || wStopCol.isDefined,
      "at least one window endpoint column required")
    require(attrCol.isDefined || attributes.size <= 1,
      "attrCol=None cannot filter to multiple attributes")

    import org.apache.spark.sql.{Encoder, Encoders}

    // TIMESTAMP_NTZ has no direct double cast — hop through TIMESTAMP
    // (session timezone is fixed, so the hop is deterministic); the
    // window endpoints are compared in the same double space (epoch
    // micros fit double's 53-bit mantissa, so the cast is exact)
    def asDouble(df0: DataFrame, c: String): Column =
      df0.schema(c).dataType match {
        case TimestampNTZType => col(c).cast(TimestampType).cast("double")
        case _                => col(c).cast("double")
      }

    val (w0, windowedObs) = windowed(obs, windows, timeCol, valueCol, entityCol,
      attrCol, wStartCol, wStopCol, includeStart, includeStop,
      attributes, "", asDouble)
    val joined = windowedObs.select(col(Wid), col(Attr).cast("string"), col(TCol),
      coalesce(col(VCol).cast("double"), lit(Double.NaN)))

    implicit val encIn: Encoder[(Long, String, Double, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaDouble, Encoders.scalaDouble)
    implicit val encKey: Encoder[Long] = Encoders.scalaLong
    implicit val encOut: Encoder[(Long, U)] =
      Encoders.tuple(Encoders.scalaLong, encU)
    val emitted = joined.as[(Long, String, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (wid: Long, it: Iterator[(Long, String, Double, Double)]) =>
        val os = it.map(r => FlatObs(r._2, r._3, r._4)).toVector
          .sortBy(o => (o.t, o.attr, o.v))
        f(os).iterator.map(u => (wid, u))
      }
      .toDF("__graft_widk", "__graft_u")
      .select(col("__graft_widk").as(Wid), col("__graft_u.*"))

    w0.join(emitted, Seq(Wid), "inner").drop(Wid)
  }
}
