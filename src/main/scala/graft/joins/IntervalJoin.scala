package graft.joins

import graft.core.{IntervalSpec, Intervals}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.IntervalSweepJoinExec

/** Interval-overlap join — Spark-native reimplementation of the reference's
  * `merge_intervals` (`/root/reference/catabra_pandas/merging.py:13-508`).
  *
  * Semantics preserved:
  *   - match iff the two intervals intersect on a continuum, with
  *     per-endpoint open/closed flags (truth table `merging.py:437-455`);
  *   - missing endpoint columns ⇒ ±∞; NaN/null endpoints ⇒ empty interval;
  *     empty intervals never match but still appear as unmatched rows under
  *     `how = left/right/outer` (`merging.py:230-288`, `751-787`);
  *   - `keep` ∈ all/first/last/both: per primary-side row, keep all / the
  *     first / the last / both matching rows of the other side **by that
  *     side's original row order** (`merging.py:92-98`); primary side is
  *     `right` when `how = "right"`;
  *   - overlapping output columns are disambiguated with `suffixes`
  *     (`merging.py:87-91`).
  *
  * Architecture: one Catalyst join (equality keys + range conjuncts), then a
  * `min_by`/`max_by` hash aggregation for `keep` (map-side partials, no
  * sort). With equality keys Catalyst plans a shuffled hash / sort-merge
  * join with the range conjuncts as post-filter; small sides should be
  * broadcast by AQE. A keyless inner join whose smaller side fits under
  * `spark.sql.autoBroadcastJoinThreshold` (and under the sweep's
  * `spark.graft.sweep.maxActive` rows) runs as the sweep against that
  * side, broadcast and sorted by start (no nested loop); other keyless
  * joins stay on Catalyst's plan (a nested loop) — see
  * [[BinnedIntervalJoin]] for the scale path.
  *
  * Row order: Spark DataFrames are unordered; when `keepOrder = true` the
  * result is sorted by (primary row id, secondary row id), reproducing the
  * reference's ordering contract (`merging.py:141-148`) at the cost of a
  * global sort. Pass `keepOrder = false` at scale.
  */
object IntervalJoin {

  val LeftId  = "__graft_lid"
  val RightId = "__graft_rid"

  /** @param left       left table
    * @param right      right table
    * @param leftSpec   interval columns + closedness of `left`
    * @param rightSpec  interval columns + closedness of `right`
    * @param on         equality-key columns present in both sides
    * @param leftOn     equality-key columns of `left` (with `rightOn`)
    * @param rightOn    equality-key columns of `right`
    * @param how        inner | left | right | outer
    * @param keep       all | first | last | both
    * @param keepOrder  sort result by original row order (global sort!)
    * @param suffixes   suffixes for overlapping column names (left, right)
    * @param leftIdCol  existing column defining `left`'s original row order;
    *                   MUST be unique per row (the binned non-inner path
    *                   completes unmatched rows by anti-joining on it —
    *                   duplicate ids would drop unmatched twins); generated
    *                   (partition-major) when None
    * @param rightIdCol same for `right`
    * @param returnIndexers return just the (left id, right id) pairs with
    *                   −1 for missing, like `merging.py:106-115`
    * @param nullSafeKeys join equality keys with `<=>` so null keys match
    *                   each other (default, the engine-wide convention).
    *                   Set false when keys are known non-null: Catalyst
    *                   rewrites `<=>` into (coalesce(k), isnull(k)) hash
    *                   keys, which can never line up with a bucketed /
    *                   pre-partitioned layout on k — the planner then
    *                   DISABLES bucket co-location and shuffles both
    *                   sides, while plain `===` reuses the on-disk
    *                   partitioning with no Exchange
    * @param binWidth   opt-in binned execution (SURVEY.md §4): both sides
    *                   are exploded to the integer bins their intervals
    *                   touch and the join runs on (keys, bin) instead of
    *                   keys alone. Use when the equality keys are COARSE
    *                   (or absent): Catalyst executes equality+range as a
    *                   hash/sort-merge join with the range as post-filter,
    *                   which degenerates to a per-key cartesian — on the
    *                   reference's published 10M×1M/10k-group workload
    *                   that is ~1e9 candidate pairs (77 s at local[32])
    *                   vs 5 s binned. Requires bounded endpoints on both
    *                   sides; any `how`/`keep` combination is supported
    *                   (unmatched preserved-side rows are completed by
    *                   anti-join). Width is in the endpoint's natural
    *                   units (seconds for timestamps); results are
    *                   IDENTICAL at any width — it only shifts the
    *                   explosion-vs-candidates balance, measured flat
    *                   within ±20% across a 10× width range.
    * @param autoBinWidth derive the bin width from the data instead
    *                   (sampled median interval length across both
    *                   sides, [[BinnedIntervalJoin.autoWidth]]) — the
    *                   no-knob spelling of `binWidth`; mutually
    *                   exclusive with it
    * @param sweep      route the matching phase through the custom
    *                   sweep SparkPlan
    *                   ([[org.apache.spark.sql.graft.IntervalSweepJoinExec]]:
    *                   one shuffle + one sort per side, partition-local
    *                   sweep, no candidate blowup). `None` (default) =
    *                   automatic: used for keyed inner joins with
    *                   bounded endpoints when NEITHER side is small
    *                   enough to broadcast (if one is, Catalyst's
    *                   broadcast hash join avoids shuffling the big
    *                   side at all — better than any shuffled plan) and
    *                   no explicit binWidth was requested. Also
    *                   automatic: keyless inner joins with a range
    *                   whose smaller side IS broadcast-small (and
    *                   holds at most `spark.graft.sweep.maxActive`
    *                   rows) run the sweep against that side broadcast
    *                   (`keep` other than `all` only when it is the
    *                   right side).
    *                   `Some(true)` forces the keyed sweep (throws if
    *                   the shape is ineligible); `Some(false)` disables
    *                   both.
    * @param skewGuard  when the sweep path engages, route it through
    *                   [[SaltedSweepJoin.auto]]: one both-sides stats
    *                   pass detects hot equality keys (threshold derived
    *                   from data volume and session parallelism, or the
    *                   `spark.graft.skew.targetRowsPerTask` conf) and
    *                   time-slices them across tasks; with no hot keys
    *                   the plan is the plain sweep's. Off by default
    *                   because the stats pass is one extra aggregation
    *                   over both sides — turn it on when keys can be
    *                   mega-entities (the `Profile.keySkew` shape).
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftSpec: IntervalSpec,
      rightSpec: IntervalSpec,
      on: Seq[String] = Nil,
      leftOn: Seq[String] = Nil,
      rightOn: Seq[String] = Nil,
      how: String = "inner",
      keep: String = "all",
      keepOrder: Boolean = true,
      suffixes: (Option[String], Option[String]) = (Some("_x"), Some("_y")),
      leftIdCol: Option[String] = None,
      rightIdCol: Option[String] = None,
      returnIndexers: Boolean = false,
      nullSafeKeys: Boolean = true,
      binWidth: Option[Double] = None,
      autoBinWidth: Boolean = false,
      sweep: Option[Boolean] = None,
      skewGuard: Boolean = false): DataFrame = {

    require(Seq("inner", "left", "right", "outer").contains(how), s"how=$how")
    require(!(autoBinWidth && binWidth.isDefined),
      "pass either binWidth or autoBinWidth, not both")
    require(Seq("all", "first", "last", "both").contains(keep), s"keep=$keep")
    require(on.isEmpty || (leftOn.isEmpty && rightOn.isEmpty),
      "`on` is mutually exclusive with `leftOn`/`rightOn`")
    val (lKeys, rKeys) = if (on.nonEmpty) (on, on) else (leftOn, rightOn)
    require(lKeys.length == rKeys.length, "key lists must have equal length")

    // ── row ids (original order) ────────────────────────────────────────
    val lid = col(LeftId)
    val rid = col(RightId)
    val l0 = leftIdCol match {
      case Some(c) => left.withColumn(LeftId, col(c).cast("long"))
      case None    => left.withColumn(LeftId, monotonically_increasing_id())
    }
    val r0 = rightIdCol match {
      case Some(c) => right.withColumn(RightId, col(c).cast("long"))
      case None    => right.withColumn(RightId, monotonically_increasing_id())
    }

    // Disambiguate: rename every right column.
    val rPrefix  = "__graft_r_"
    val rRenamed = r0.columns.foldLeft(r0) { (df, c) =>
      if (c == RightId) df else df.withColumnRenamed(c, rPrefix + c)
    }
    def rCol(c: String): Column = col(rPrefix + c)

    // ── empty-interval handling (merging.py:230-288, 751-787): empty/NaN
    //    intervals never MATCH, but rows of the join-preserved side must
    //    still appear as unmatched under how = left/right/outer. So
    //    validity is part of the JOIN CONDITION (blocks matches without
    //    dropping preserved rows), and each side is additionally
    //    pre-filtered only when the join type discards its unmatched rows
    //    anyway (lets Catalyst prune before the shuffle). ───────────────
    val lValidExpr = Intervals.nonEmpty(left, leftSpec)
    val rSpecRenamed = IntervalSpec(
      rightSpec.start.map(rPrefix + _), rightSpec.stop.map(rPrefix + _),
      rightSpec.includeStart, rightSpec.includeStop)
    val rValidExpr = Intervals.nonEmpty(rRenamed, rSpecRenamed)
    val lValid =
      if (how == "inner" || how == "right") l0.filter(lValidExpr) else l0
    val rJoinSide =
      if (how == "inner" || how == "left") rRenamed.filter(rValidExpr)
      else rRenamed

    // ── join condition ──────────────────────────────────────────────────
    val keyCond: Seq[Column] =
      lKeys.zip(rKeys).map { case (lk, rk) =>
        if (nullSafeKeys) col(lk) <=> rCol(rk) else col(lk) === rCol(rk)
      }

    val rangeCond: Column =
      if (leftSpec.isPoint && rightSpec.isPoint)
        // both degenerate ⇒ plain equality (lets Catalyst pick a hash join
        // instead of seeing `p <= q && q <= p`), cf. merging.py:341-355
        col(leftSpec.start.get) === rCol(rightSpec.start.get)
      else
        Intervals.overlap(
          leftSpec.start.map(col), leftSpec.stop.map(col),
          leftSpec.includeStart, leftSpec.includeStop,
          rightSpec.start.map(rCol), rightSpec.stop.map(rCol),
          rightSpec.includeStart, rightSpec.includeStop)

    val hasRange =
      (leftSpec.start.isDefined && rightSpec.stop.isDefined) ||
      (rightSpec.start.isDefined && leftSpec.stop.isDefined)
    require(lKeys.nonEmpty || hasRange, "No columns to perform merge on.")

    val cond = (keyCond ++ Seq(rangeCond, lValidExpr, rValidExpr)).reduce(_ && _)

    val joinType = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case "right" => "right_outer"
      case "outer" => "full_outer"
    }

    // auto width: sampled median interval length of both sides (see
    // BinnedIntervalJoin.autoWidth) — derived from the ORIGINAL frames,
    // before renaming, so the spec column names resolve
    val effBinWidth =
      if (autoBinWidth) {
        require(leftSpec.start.isDefined && leftSpec.stop.isDefined &&
            rightSpec.start.isDefined && rightSpec.stop.isDefined,
          "autoBinWidth requires bounded endpoints on both sides")
        Some(BinnedIntervalJoin.autoWidth(
          left, leftSpec.start.get, leftSpec.stop.get,
          right, rightSpec.start.get, rightSpec.stop.get))
      } else binWidth

    // ── sweep routing (custom SparkPlan) ────────────────────────────────
    // Eligible shape: keyed inner join, bounded endpoints on both sides,
    // a genuine range (not the two-point equality fast path), batch
    // frames, no explicit binning. Auto mode additionally requires that
    // neither side is broadcast-small under the session threshold —
    // when one is, Catalyst's BHJ (no shuffle of the big side) beats
    // any shuffled plan, sweep included.
    //
    // Failure mode of this probe, documented deliberately: the size
    // check reads `optimizedPlan.stats.sizeInBytes`, which (a) costs one
    // extra driver-side analyze+optimize pass per call, and (b) is an
    // ESTIMATE — post-filter sizes in particular are guessed from filter
    // selectivity heuristics. An under-estimate makes auto mode skip the
    // sweep for a side that AQE would NOT actually broadcast (mild: the
    // plain join still runs, possibly slower); an over-estimate picks
    // the shuffle-sweep where a broadcast join was available (mild for
    // the same reason in reverse). Callers who know their sizes should
    // pin the decision with `sweep = Some(true/false)` — the estimate
    // only steers the DEFAULT.
    val sweepEligible =
      how == "inner" && effBinWidth.isEmpty && lKeys.nonEmpty &&
        leftSpec.start.isDefined && leftSpec.stop.isDefined &&
        rightSpec.start.isDefined && rightSpec.stop.isDefined &&
        !(leftSpec.isPoint && rightSpec.isPoint) &&
        !left.isStreaming && !right.isStreaming
    require(!sweep.contains(true) || sweepEligible,
      "sweep = Some(true) requires a keyed INNER join of batch frames " +
        "with bounded endpoints (and not the two-point equality shape)")
    // None when broadcasting is disabled (threshold < 0)
    lazy val broadcastThreshold: Option[BigInt] = {
      val confVal = left.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
      if (confVal.startsWith("-")) None
      else Some(BigInt(org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(confVal)))
    }
    lazy val lPlan = lValid.queryExecution.optimizedPlan
    lazy val rPlan = rJoinSide.queryExecution.optimizedPlan
    lazy val lSize = lPlan.stats.sizeInBytes
    lazy val rSize = rPlan.stats.sizeInBytes
    val useSweep = sweep match {
      case Some(b) => b && sweepEligible
      // no broadcasting: Catalyst must shuffle either way, so the sweep
      // is strictly better for this shape
      case None => sweepEligible && broadcastThreshold.forall(lSize.min(rSize) > _)
    }

    // Keyless inner joins with a range: Catalyst has no equality to hash
    // on and plans a nested loop over every pair. When the smaller side
    // is broadcast-small (the same estimate as above), the sweep runs
    // against it broadcast and sorted by start, the other side sorted
    // within its partitions and never shuffled. A missing endpoint is a
    // closed ±∞ sentinel, so half-unbounded specs qualify; endpoints of
    // mixed types or of a type without one (decimal, string) keep
    // Catalyst's plan. The broadcast side must also hold no more rows
    // than the sweep's active-set bound (`spark.graft.sweep.maxActive`):
    // a keyless join has one key, so past the bound the sweep would
    // degrade to a scan of every pair for good. The row count is the
    // estimate's, or else its size over the estimated row width.
    // Some(true) broadcasts the right side, Some(false) the left — then
    // the sweep runs with the sides swapped, which only `keep = all`
    // allows (the sweep decides `keep` per row of its left side).
    val keylessBroadcast: Option[Boolean] =
      if (how != "inner" || lKeys.nonEmpty || !hasRange ||
          (leftSpec.isPoint && rightSpec.isPoint) || effBinWidth.nonEmpty ||
          sweep.contains(false) || left.isStreaming || right.isStreaming ||
          SweepJoin.endpointType(lValid, rJoinSide, leftSpec, rSpecRenamed).isEmpty)
        None
      else broadcastThreshold.flatMap { t =>
        val maxActive = IntervalSweepJoinExec.maxActive(left.sparkSession.conf.get)
        def fits(p: LogicalPlan, size: BigInt) = size <= t &&
          p.stats.rowCount.getOrElse(size / EstimationUtils.getSizePerRow(p.output)) <=
            maxActive
        if (fits(rPlan, rSize) && (rSize <= lSize || keep != "all")) Some(true)
        else if (fits(lPlan, lSize) && keep == "all") Some(false)
        else None
      }

    // keep=first/last/both on the sweep path is decided INSIDE the sweep
    // (extremes by right row id per left row): output shrinks from the
    // full pair set to ≤ 2·|left| and the min_by/max_by aggregation
    // below — a full-output shuffle — disappears. Only valid when the
    // primary side is the left (how = inner ⊆ sweepEligible).
    val sweepKeep = (useSweep || keylessBroadcast.contains(true)) &&
      keep != "all" && effBinWidth.isEmpty
    val joined = effBinWidth match {
      case None if useSweep && skewGuard =>
        SaltedSweepJoin.auto(lValid, rJoinSide,
          lKeys, rKeys.map(rPrefix + _),
          leftSpec, rSpecRenamed, nullSafeKeys = nullSafeKeys,
          keep = if (sweepKeep) keep else "all",
          rightOrderCol = if (sweepKeep) Some(RightId) else None)
      case None if useSweep =>
        SweepJoin(lValid, rJoinSide,
          lKeys, rKeys.map(rPrefix + _),
          leftSpec, rSpecRenamed, nullSafeKeys = nullSafeKeys,
          keep = if (sweepKeep) keep else "all",
          rightOrderCol = if (sweepKeep) Some(RightId) else None)
      case None if keylessBroadcast.contains(true) =>
        SweepJoin.broadcastRight(lValid, rJoinSide, leftSpec, rSpecRenamed,
          keep, if (sweepKeep) Some(RightId) else None)
      case None if keylessBroadcast.contains(false) =>
        SweepJoin.broadcastRight(rJoinSide, lValid, rSpecRenamed, leftSpec,
          "all", None)
      case None => lValid.join(rJoinSide, cond, joinType)
      case Some(w) =>
        require(w > 0, "binWidth must be positive")
        require(leftSpec.start.isDefined && leftSpec.stop.isDefined &&
            rightSpec.start.isDefined && rightSpec.stop.isDefined,
          "binWidth requires bounded endpoints on both sides")
        val dt    = left.schema(leftSpec.start.get).dataType
        val width = BinnedIntervalJoin.widthFor(dt, w)
        def bin(c: Column) = BinnedIntervalJoin.binOf(c, dt, width)
        val lBin = "__graft_bin"
        val rBin = "__graft_rbin"
        // The left/right completion below re-references the id-stamped
        // frame a second time (matched subtree + anti-join). Generated ids
        // come from monotonically_increasing_id(), a nondeterministic
        // expression: off a non-stable scan (repartition/sample upstream)
        // the two evaluations could assign DIFFERENT ids and silently drop
        // or duplicate unmatched rows. Pin the frame with a lazy
        // localCheckpoint so both subtrees read the same materialized
        // partitions; skipped when the caller supplies a (unique) id
        // column, which is deterministic by construction. (localCheckpoint
        // trades lineage for stability — executor loss forfeits
        // recomputation; at cluster scale prefer supplying id columns.)
        val lSrc = if ((how == "left" || how == "outer") && leftIdCol.isEmpty)
          l0.localCheckpoint(false) else l0
        val rSrc = if ((how == "right" || how == "outer") && rightIdCol.isEmpty)
          rRenamed.localCheckpoint(false) else rRenamed
        // only valid (non-empty, non-NaN) intervals are exploded — an
        // invalid endpoint would make sequence() blow up or mis-bin
        val lB = lSrc.filter(lValidExpr).withColumn(lBin,
          explode(sequence(bin(col(leftSpec.start.get)),
            bin(col(leftSpec.stop.get)))))
        val rB = rSrc.filter(rValidExpr).withColumn(rBin,
          explode(sequence(bin(rCol(rightSpec.start.get)),
            bin(rCol(rightSpec.stop.get)))))
        // each matching pair is counted exactly once: in the bin holding
        // the overlap's start point
        val anchor = bin(greatest(col(leftSpec.start.get),
          rCol(rightSpec.start.get)))
        val matched = lB.join(rB,
            cond && col(lBin) === col(rBin) && col(lBin) === anchor,
            "inner")
          .drop(lBin, rBin)
        // complete unmatched preserved-side rows (the plain plan gets
        // this from the outer join type itself)
        def nullsFor(df: DataFrame): Seq[Column] =
          df.schema.map(f => lit(null).cast(f.dataType).as(f.name))
        val withLeft =
          if (how == "left" || how == "outer")
            matched.unionByName(
              lSrc.join(matched.select(lid).distinct(), Seq(LeftId), "left_anti")
                .select(lSrc.columns.map(col) ++ nullsFor(rSrc): _*))
          else matched
        if (how == "right" || how == "outer")
          withLeft.unionByName(
            rSrc.join(matched.select(rid).distinct(), Seq(RightId), "left_anti")
              .select(nullsFor(lSrc) ++ rSrc.columns.map(col): _*))
        else withLeft
    }

    // ── keep = first/last/both: dedup by the secondary side's row order ─
    val (primaryId, secondaryId) =
      if (how == "right") (rid, lid) else (lid, rid)

    // keep = first/last/both as a min_by/max_by HASH aggregation over the
    // whole row struct — partial aggregation map-side, no sort (a
    // row_number window here costs a full shuffle+sort of the join
    // output). Per primary row the group is either ≥1 matched rows
    // (secondary id non-null) or exactly one unmatched row (null), so
    // coalescing the order key to ±MaxValue picks the unmatched row only
    // when nothing matched. Null-primary rows (missing-side rows of outer
    // joins) pass through ungrouped.
    val kept = keep match {
      case _ if sweepKeep => joined // fused sweep-side
      case "all" => joined
      case _ =>
        val s = struct(joined.columns.map(col): _*)
        val ordAsc  = coalesce(secondaryId, lit(Long.MaxValue))
        val ordDesc = coalesce(secondaryId, lit(Long.MinValue))
        val matched = joined.filter(primaryId.isNotNull)
        val passthrough = joined.filter(primaryId.isNull)
        val aggd = keep match {
          case "first" => matched.groupBy(primaryId)
            .agg(min_by(s, ordAsc).as("__graft_s"))
            .select(col("__graft_s.*"))
          case "last" => matched.groupBy(primaryId)
            .agg(max_by(s, ordDesc).as("__graft_s"))
            .select(col("__graft_s.*"))
          case "both" => matched.groupBy(primaryId)
            .agg(min_by(s, ordAsc).as("__graft_f"),
              max_by(s, ordDesc).as("__graft_l"))
            // dedup when first == last (merging.py:736-739)
            .select(explode(array_distinct(
              array(col("__graft_f"), col("__graft_l")))).as("__graft_s"))
            .select(col("__graft_s.*"))
        }
        aggd.unionByName(passthrough)
    }

    // ── reassemble output schema with suffixes ──────────────────────────
    val overlapNames =
      left.columns.toSet intersect right.columns.toSet
    // the reference raises when overlapping names cannot be disambiguated
    // (merging.py:87-91); silent duplicate output columns would otherwise
    // make every downstream col() reference ambiguous
    require(overlapNames.isEmpty || returnIndexers ||
        suffixes._1.isDefined || suffixes._2.isDefined,
      s"overlapping columns ${overlapNames.toSeq.sorted.mkString(", ")} " +
        "require at least one non-None suffix")
    def outName(c: String, suffix: Option[String], overlap: Boolean): String =
      if (overlap) suffix.map(c + _).getOrElse(c) else c

    val ordered =
      if (keepOrder)
        kept.orderBy(primaryId.asc_nulls_last, secondaryId.asc_nulls_last)
      else kept

    if (returnIndexers) {
      ordered.select(
        coalesce(lid, lit(-1L)).as("left_idx"),
        coalesce(rid, lit(-1L)).as("right_idx"))
    } else {
      val outCols =
        left.columns.toSeq.map { c =>
          col(c).as(outName(c, suffixes._1, overlapNames(c)))
        } ++
        right.columns.toSeq.map { c =>
          rCol(c).as(outName(c, suffixes._2, overlapNames(c)))
        }
      ordered.select(outCols: _*)
    }
  }
}
