package graft.joins

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

import graft.core.IntervalSpec

/** Hot-key time-skew composition for the sweep join.
  *
  * The plain sweep hash-clusters on the equality keys, so one dominant
  * key (a mega-entity — exactly the shape `Profile.keySkew` detects)
  * lands on a single task: the sweep's `maxActive` degrade bounds
  * MEMORY on such a key, but not WALL-TIME — at 100× scale a skewed
  * key makes the sweep a stragglers' operator. This wrapper restores
  * parallelism by TIME-SLICING hot keys, which the interval predicate
  * makes cheaper than classic s-way salting:
  *
  *   - per hot key (left row count > `hotKeyThreshold`, found by one
  *     count-only aggregation), the LEFT start domain `[mn, mx]` is cut
  *     into `slices` uniform ranges; every left row goes to exactly ONE
  *     slice by its start — so output multiplicity and `keep`
  *     first/last/both semantics are untouched (all of a left row's
  *     matches meet it in its slice);
  *   - a RIGHT row `[rs, re]` is replicated only to the slices it can
  *     reach: slice `i` holds left rows with `ls ∈ [b_i, b_{i+1})`, so
  *     a match needs `re ≥ ls ≥ b_i` and `rs ≤ le ≤ ls + D < b_{i+1} +
  *     D` (`D` = the key's max left duration, from the same stats
  *     pass) — i.e. slices `⌊(rs−D−mn)/W⌋ … ⌊(re−mn)/W⌋`, widened by
  *     one on each side to absorb double rounding (over-replication is
  *     harmless: a pair can only MEET in the left row's single slice;
  *     under-replication would lose pairs, so the widening errs safe).
  *     Classic salting replicates the right side to ALL s slices; here
  *     short right intervals land in O(1 + span/W) of them;
  *   - non-hot keys take slice 0 on both sides — their plan is the
  *     plain sweep's (same shuffle keys modulo the constant salt).
  *   - hot keys whose start/duration stats are not finite (±∞ or NaN
  *     double endpoints — legal interval data elsewhere in graft) are
  *     left UNSLICED: slice arithmetic over an infinite span is
  *     meaningless (`w = ∞` makes every boundary NaN and would silently
  *     drop that key's right rows), so such keys stay on slice 0 on
  *     both sides and keep the plain sweep's single-task semantics.
  *
  * The sweep then runs on keys ⧺ slice. Everything is driven by one
  * driver-collected stats frame bounded by `maxHotKeys` rows, and the
  * result is bit-identical to [[SweepJoin]] (specced; the driver query
  * shares the plain range-join oracle).
  *
  * [[auto]] is the no-knob entry point: one stats pass over BOTH sides
  * derives the hot threshold from the data and the session parallelism,
  * picks the slicing SIDE (the footgun the manual API documents as
  * "swap sides" — a right-side-heavy key wants the roles reversed,
  * which interval-overlap symmetry allows for `keep = all`), and picks
  * the slice count from the hottest key. A plain optimizer rule cannot
  * own this decision — Catalyst rules must not launch jobs, and the
  * sweep's custom exec is outside AQE's skew-join scope — so the
  * runtime-stats dispatch lives here, at the operator API, the same
  * division of labor as Spark's own broadcast-threshold-vs-AQE split.
  */
object SaltedSweepJoin {

  /** @param slices          time slices per hot key (the parallelism a
    *                        hot key's sweep recovers)
    * @param hotKeyThreshold left rows per key above which the key is
    *                        sliced; pick ~rows-per-healthy-task (or use
    *                        [[auto]], which derives it)
    * @param maxHotKeys      refuse (loudly) if more keys than this are
    *                        hot — that is not skew, that is a
    *                        mis-sized threshold
    */
  def apply(left: DataFrame, right: DataFrame,
            leftOn: Seq[String], rightOn: Seq[String],
            leftSpec: IntervalSpec, rightSpec: IntervalSpec,
            slices: Int = 8,
            hotKeyThreshold: Long = 2000000L,
            maxHotKeys: Int = 10000,
            keep: String = "all",
            rightOrderCol: Option[String] = None,
            nullSafeKeys: Boolean = false): DataFrame = {
    checkArgs(leftOn, rightOn, leftSpec, rightSpec, slices)

    val lValid = left.filter(graft.core.Intervals.nonEmpty(left, leftSpec))

    // ── one count-only stats pass over the left side ──────────────────
    val hot = sideStats(lValid, left, leftOn, leftSpec)
      .filter(col("__ss_n") > hotKeyThreshold)
      .drop("__ss_n")
    val nHot = hot.limit(maxHotKeys + 1).count()
    require(nHot <= maxHotKeys,
      s"more than $maxHotKeys keys exceed hotKeyThreshold=$hotKeyThreshold " +
        "left rows; raise the threshold — slicing every key is just a " +
        "more expensive shuffle")
    if (nHot == 0) {
      // nothing hot: identical plan to the plain sweep, zero overhead
      return SweepJoin(left, right, leftOn, rightOn, leftSpec, rightSpec,
        nullSafeKeys = nullSafeKeys, keep = keep,
        rightOrderCol = rightOrderCol)
    }
    salted(left, right, leftOn, rightOn, leftSpec, rightSpec, hot, slices,
      keep, rightOrderCol, nullSafeKeys)
  }

  /** Stats-driven sweep with automatic skew routing — the connection of
    * `Profile.keySkew`-style detection to the salted sweep the manual
    * API leaves to the caller. No tuning surface:
    *
    *   - ONE map-side-combined aggregation over the union of both
    *     (validity-filtered) sides computes per-key row counts and
    *     endpoint stats for both sides at once;
    *   - a key is hot when either side's count exceeds the derived
    *     threshold `max(minHotRows, 2 · totalRows / parallelism)` —
    *     i.e. it alone would more than double a balanced task's share;
    *   - the slicing side is whichever carries more hot-key rows
    *     (right-side slicing swaps the operands — interval overlap is
    *     symmetric — and re-projects to the left⧺right column order;
    *     `keep != all` is per-LEFT-row semantics, so those joins always
    *     slice left);
    *   - `slices = clamp(⌈maxHotCount / threshold⌉, 2, slicesCap)`.
    *
    * With no hot keys this returns the plain sweep's exact plan; the
    * only overhead is the single stats aggregation, the price of the
    * detection (Spark's own AQE pays the same shape of cost from
    * runtime shuffle statistics — which cannot see inside this custom
    * exec, hence the operator-level dispatch).
    *
    * Null equality keys are never sliced (they stay on slice 0 with
    * plain-sweep semantics) — under `nullSafeKeys` a hot all-null key
    * therefore keeps its single-task cost; genuinely hot null keys are
    * a data-quality smell the stats pass would surface anyway.
    *
    * @param minHotRows       floor under which no key is ever "hot"
    *                         (slicing a small key is pure overhead)
    * @param targetRowsPerTask overrides the derived threshold when > 0;
    *                         falls back to the session conf
    *                         `spark.graft.skew.targetRowsPerTask`, then
    *                         to the parallelism-derived value
    */
  def auto(left: DataFrame, right: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftSpec: IntervalSpec, rightSpec: IntervalSpec,
           keep: String = "all",
           rightOrderCol: Option[String] = None,
           minHotRows: Long = 65536L,
           targetRowsPerTask: Long = 0L,
           slicesCap: Int = 32,
           maxHotKeys: Int = 10000,
           nullSafeKeys: Boolean = false): DataFrame =
    autoProbed(left, right, leftOn, rightOn, leftSpec, rightSpec,
      dangerL = None, dangerR = None, keep, rightOrderCol, minHotRows,
      targetRowsPerTask, slicesCap, maxHotKeys, nullSafeKeys)
      .getOrElse(throw new IllegalStateException(
        "autoProbed returned danger with no danger predicates"))

  /** [[auto]] with an existence probe FOLDED INTO the stats pass: when
    * `dangerL`/`dangerR` are given, the same single aggregation that
    * detects hot keys also answers "does any input row satisfy the
    * danger predicate?" — and the call returns `None` instead of a
    * result when one does. This exists for the rule-planned dispatch
    * ([[org.apache.spark.sql.graft.AutoSaltedSweepDispatchExec]]),
    * whose semantics guard (rows the operator ingress filter drops but
    * the raw conjuncts can match) previously cost a SEPARATE existence
    * scan of both inputs before this method's stats scan — the two
    * input passes fold to one. The danger branch wastes the stats
    * aggregation, but that branch abandons the operator chain anyway
    * (the caller re-plans as the raw sweep) and is the rare case by
    * construction.
    *
    * Each danger predicate is evaluated against its ORIGINAL side
    * (pre-validity-filter — danger rows are exactly rows the validity
    * filter would drop); per-key stats are masked to valid rows, so the
    * slicing decisions are identical to [[auto]]'s.
    */
  def autoProbed(left: DataFrame, right: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftSpec: IntervalSpec, rightSpec: IntervalSpec,
           dangerL: Option[Column], dangerR: Option[Column],
           keep: String = "all",
           rightOrderCol: Option[String] = None,
           minHotRows: Long = 65536L,
           targetRowsPerTask: Long = 0L,
           slicesCap: Int = 32,
           maxHotKeys: Int = 10000,
           nullSafeKeys: Boolean = false): Option[DataFrame] = {
    checkArgs(leftOn, rightOn, leftSpec, rightSpec, slices = 2)
    require(left.columns.map(_.toLowerCase).toSet
        .intersect(right.columns.map(_.toLowerCase).toSet).isEmpty,
      "auto needs disjoint column names across sides (the sweep requires " +
        "it anyway; right-side slicing re-projects by name)")

    // one pass, both sides, UNFILTERED inputs: per-key counts + slicing
    // stats per side (masked to validity-passing rows — identical
    // numbers to aggregating the filtered sides) + the danger flag
    def tagged(df: DataFrame, on: Seq[Column], spec: IntervalSpec,
        side: Int, danger: Option[Column]): DataFrame = {
      val valid = graft.core.Intervals.nonEmpty(df, spec)
      df.select(
        (on :+ lit(side).as("__ss_side") :+
          when(valid, metric(df, spec.start.get)).as("__ss_s") :+
          when(valid, metric(df, spec.stop.get) -
            metric(df, spec.start.get)).as("__ss_dur") :+
          coalesce(danger.getOrElse(lit(false)), lit(false))
            .as("__ss_dgr")): _*)
    }
    val lTagged = tagged(left, leftOn.map(col), leftSpec, 0, dangerL)
    val rTagged = tagged(right,
      rightOn.zip(leftOn).map { case (rc, lc) => col(rc).as(lc) },
      rightSpec, 1, dangerR)
    def sideAgg(side: Int, c: Column => Column): Column =
      c(when(col("__ss_side") === side, col("__ss_s")))
    def validCount(side: Int): Column = sum(
      when(col("__ss_side") === side && col("__ss_s").isNotNull, 1L)
        .otherwise(0L))
    val stats = lTagged.unionByName(rTagged)
      .groupBy(leftOn.map(col): _*)
      .agg(
        validCount(0).as("__ss_nl"),
        validCount(1).as("__ss_nr"),
        sideAgg(0, min).as("__ss_lmn"), sideAgg(0, max).as("__ss_lmx"),
        max(when(col("__ss_side") === 0, col("__ss_dur"))).as("__ss_ld"),
        sideAgg(1, min).as("__ss_rmn"), sideAgg(1, max).as("__ss_rmx"),
        max(when(col("__ss_side") === 1, col("__ss_dur"))).as("__ss_rd"),
        max(col("__ss_dgr")).as("__ss_anydgr"))

    val parallelism = math.max(1, left.sparkSession.sparkContext.defaultParallelism)
    // the side totals and the danger flag ride the pin's own job
    val pinned = Pin(stats, metrics = Seq(sum("__ss_nl").as("nl"),
      sum("__ss_nr").as("nr"), max("__ss_anydgr").as("dgr")))
    val statsCk = pinned.df
    def total(name: String): Long =
      Option(pinned.metrics(name)).fold(0L)(_.asInstanceOf[Long])
    if (pinned.metrics("dgr") == true) { Pin.free(statsCk); return None }
    val (totL, totR) = (total("nl"), total("nr"))
    val confTarget = left.sparkSession.conf
      .get("spark.graft.skew.targetRowsPerTask", "0").trim.toLong
    val threshold =
      if (targetRowsPerTask > 0) targetRowsPerTask
      else if (confTarget > 0) confTarget
      else math.max(minHotRows, 2L * math.max(totL, totR) / parallelism)

    val hotAll = statsCk
      .filter(col("__ss_nl") > threshold || col("__ss_nr") > threshold)
    val hotRows = hotAll.limit(maxHotKeys + 1).collect()
    require(hotRows.length <= maxHotKeys,
      s"more than $maxHotKeys keys exceed the derived hot threshold " +
        s"$threshold — that is not skew; repartition or raise minHotRows")
    if (hotRows.isEmpty) {
      Pin.free(statsCk)
      return Some(SweepJoin(left, right, leftOn, rightOn, leftSpec,
        rightSpec, nullSafeKeys = nullSafeKeys, keep = keep,
        rightOrderCol = rightOrderCol))
    }

    val hotL = hotRows.map(_.getLong(hotRows.head.fieldIndex("__ss_nl"))).sum
    val hotR = hotRows.map(_.getLong(hotRows.head.fieldIndex("__ss_nr"))).sum
    val sliceRight = keep == "all" && hotR > hotL
    val maxHot = hotRows.map { r =>
      math.max(r.getLong(r.fieldIndex("__ss_nl")),
        r.getLong(r.fieldIndex("__ss_nr")))
    }.max
    val slices = math.min(slicesCap.toLong,
      math.max(2L, (maxHot + threshold - 1) / threshold)).toInt

    if (sliceRight) {
      val hot = hotAll
        .filter(finite(col("__ss_rmn")) && finite(col("__ss_rmx")) &&
          finite(col("__ss_rd")))
        .select(
        (leftOn.zip(rightOn).map { case (lc, rc) => col(lc).as(rc) } :+
          col("__ss_rmn").as("__ss_mn") :+ col("__ss_rmx").as("__ss_mx") :+
          col("__ss_rd").as("__ss_d")): _*)
      Some(salted(right, left, rightOn, leftOn, rightSpec, leftSpec, hot,
        slices, keep = "all", rightOrderCol = None,
        nullSafeKeys = nullSafeKeys)
        .select((left.columns ++ right.columns).map(col): _*))
    } else {
      val hot = hotAll
        .filter(finite(col("__ss_lmn")) && finite(col("__ss_lmx")) &&
          finite(col("__ss_ld")))
        .select(
        (leftOn.map(col) :+
          col("__ss_lmn").as("__ss_mn") :+ col("__ss_lmx").as("__ss_mx") :+
          col("__ss_ld").as("__ss_d")): _*)
      Some(salted(left, right, leftOn, rightOn, leftSpec, rightSpec, hot,
        slices, keep, rightOrderCol, nullSafeKeys))
    }
  }

  private def checkArgs(leftOn: Seq[String], rightOn: Seq[String],
                        leftSpec: IntervalSpec, rightSpec: IntervalSpec,
                        slices: Int): Unit = {
    require(slices >= 2, "slices >= 2 (1 would be the plain sweep)")
    require(leftOn.nonEmpty, "salting needs equality keys")
    require(leftOn.length == rightOn.length,
      s"key lists must align: $leftOn vs $rightOn")
    require(leftSpec.start.isDefined && leftSpec.stop.isDefined &&
      rightSpec.start.isDefined && rightSpec.stop.isDefined,
      "SaltedSweepJoin needs bounded intervals on both sides: its slices " +
        "are cut from both endpoints (use IntervalJoin for one-sided/±∞ specs)")
  }

  // endpoint → double metric for slice arithmetic only (the join
  // itself compares the ORIGINAL columns; rounding here only shifts
  // slice boundaries, which the ±1 widening absorbs)
  private def metric(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case TimestampType    => unix_micros(col(c)).cast("double")
    case TimestampNTZType => unix_micros(col(c).cast(TimestampType)).cast("double")
    case DateType         => unix_date(col(c)).cast("double")
    case _                => col(c).cast("double")
  }

  /** ±∞ and NaN never pass (Spark orders NaN above +∞, so the two
    * strict comparisons exclude all three). */
  private def finite(c: Column): Column =
    c > lit(Double.NegativeInfinity) && c < lit(Double.PositiveInfinity)

  /** Per-key `(count, min start, max start, max duration)` of one side,
    * with non-finite-stats keys dropped (left unsliced — see scaladoc). */
  private def sideStats(valid: DataFrame, orig: DataFrame, on: Seq[String],
                        spec: IntervalSpec): DataFrame =
    valid.groupBy(on.map(col): _*)
      .agg(count(lit(1)).as("__ss_n"),
        min(metric(orig, spec.start.get)).as("__ss_mn"),
        max(metric(orig, spec.start.get)).as("__ss_mx"),
        max(metric(orig, spec.stop.get) - metric(orig, spec.start.get))
          .as("__ss_d"))
      .filter(finite(col("__ss_mn")) && finite(col("__ss_mx")) &&
        finite(col("__ss_d")))

  /** The slicing core: `hot` is keyed by `leftOn` with finite
    * `__ss_mn/__ss_mx/__ss_d` stats of the LEFT side (callers that
    * slice the other side swap operands before calling). */
  private def salted(left: DataFrame, right: DataFrame,
                     leftOn: Seq[String], rightOn: Seq[String],
                     leftSpec: IntervalSpec, rightSpec: IntervalSpec,
                     hot: DataFrame, slices: Int,
                     keep: String, rightOrderCol: Option[String],
                     nullSafeKeys: Boolean = false): DataFrame = {
    val lS = leftSpec.start.get
    val rS = rightSpec.start.get; val rE = rightSpec.stop.get
    val lValid = left.filter(graft.core.Intervals.nonEmpty(left, leftSpec))
    val rValid = right.filter(graft.core.Intervals.nonEmpty(right, rightSpec))

    // non-finite keys were filtered out of `hot` upstream: they join
    // null below and stay on slice 0 — plain-sweep semantics

    // slice width: span/slices (fractional domains slice exactly as
    // well as integral ones — the assignment below clamps the top
    // boundary); zero-span keys degenerate to one slice via the floor
    val w = greatest((col("__ss_mx") - col("__ss_mn")) / slices, lit(1e-9))

    val hotL = broadcast(hot.withColumn("__ss_w", w)
      .select((leftOn.map(col) :+ col("__ss_mn") :+ col("__ss_d") :+
        col("__ss_w")): _*))
    // single projection, not sequential renames: crossed key orders
    // (leftOn=[a,b], rightOn=[b,a]) would make rename-chains collide
    val hotR = hotL.select(
      (leftOn.zip(rightOn).map { case (lc, rc) => col(lc).as(rc) } :+
        col("__ss_mn") :+ col("__ss_d") :+ col("__ss_w")): _*)

    // ── left: exactly one slice per row ────────────────────────────────
    val lSalted = lValid.join(hotL, leftOn, "left")
      .withColumn("__ss_salt",
        when(col("__ss_mn").isNull, lit(0))
          .otherwise(least(lit(slices - 1), greatest(lit(0),
            floor((metric(left, lS) - col("__ss_mn")) / col("__ss_w"))))
            .cast("int")))
      .select((left.columns.map(col) :+ col("__ss_salt")): _*)

    // ── right: replicate hot-key rows to reachable slices only ────────
    // A hot key's stats are finite, but an individual RIGHT endpoint may
    // still be ±∞ (the ingress filter only drops EMPTY intervals):
    // floor(±∞) saturates at Long.Min/MaxValue and the ±1 widening would
    // WRAP, emptying the slice range and dropping the row. Clamping the
    // raw floor into [-2, slices+1] first makes ±∞ resolve to full /
    // empty replication exactly as the predicate demands (an −∞ start
    // reaches every earlier slice; a +∞ start reaches none — no finite
    // left stop can cover it).
    def clamped(c: Column): Column =
      greatest(lit(-2L), least(lit(slices + 1L), c))
    val lo = greatest(lit(0), clamped(
      floor((metric(right, rS) - col("__ss_d") - col("__ss_mn")) / col("__ss_w"))) - 1)
    val hi = least(lit(slices - 1), clamped(
      floor((metric(right, rE) - col("__ss_mn")) / col("__ss_w"))) + 1)
    val saltArr = when(col("__ss_mn").isNull, array(lit(0)))
      .otherwise(when(lo <= hi, sequence(lo.cast("int"), hi.cast("int")))
        .otherwise(array().cast("array<int>")))
    val rSalted = rValid.join(hotR, rightOn, "left")
      .withColumn("__ss_salt", explode(saltArr))
      .select((right.columns.map(col) :+ col("__ss_salt")): _*)

    // the appended salt key is never null, so null-safe semantics of the
    // ORIGINAL keys pass through unchanged (null keys joined hotL/hotR
    // as unmatched -> slice 0 on both sides, preserving their pairing)
    SweepJoin(lSalted, rSalted.withColumnRenamed("__ss_salt", "__ss_salt_r"),
      leftOn :+ "__ss_salt", rightOn :+ "__ss_salt_r",
      leftSpec, rightSpec, nullSafeKeys = nullSafeKeys,
      keep = keep, rightOrderCol = rightOrderCol)
      .drop("__ss_salt", "__ss_salt_r")
  }
}
