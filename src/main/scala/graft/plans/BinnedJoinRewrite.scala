package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.sql.{graft => graft_sweep}

/** Session extension installing [[BinnedJoinRewrite]] into the optimizer:
  *
  * {{{
  *   spark.sql.extensions = graft.plans.GraftExtensions
  *   spark.graft.binnedJoin.width = <bin width>   // enables the rule
  * }}}
  *
  * With the rule active, a plain `left.join(right, rangeCond)` — which
  * Spark plans as a cartesian product / broadcast nested-loop join,
  * O(|L|·|R|) — is rewritten to the binned interval equi-join (the same
  * rewrite [[graft.joins.BinnedIntervalJoin]] applies explicitly, measured
  * 77 s → ~4.5 s on the reference's published 10M×1M workload). Users keep
  * writing declarative joins; the optimizer owns the physical strategy.
  *
  * The alternative hook (no extension wiring, same rule object):
  * `spark.experimental.extraOptimizations ++= Seq(BinnedJoinRewrite)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BinnedJoinRewrite)
    ext.injectOptimizerRule(_ => SweepJoinRewrite)
    ext.injectPlannerStrategy(_ => graft_sweep.IntervalSweepStrategy)
    ext.injectPlannerStrategy(_ => graft_sweep.RunningScanStrategy)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}

/** SQL registrations for the codegen'd graft expressions, so pure-SQL
  * users (`spark.sql`, JDBC) get the same native hot loops the Scala
  * `VecFunctions` facade exposes: `vec_dot`, `vec_norm`,
  * `sorted_long_intersect_count`, `simhash64`, `minhash_bands`,
  * `gram_hash`.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.graft._

  // the usage-bearing ExpressionInfo constructors are deprecated (5-arg)
  // or group-validating (11-arg); usage strings live in the builders'
  // Scaladoc instead
  private def info(cls: Class[_], name: String, usage: String) =
    new ExpressionInfo(cls.getName, null, name)

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn(...): $arg must be an integer literal, got $other")
  }

  /** (identifier, info, builder) triples for `injectFunction`. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      info(classOf[VecDot], "vec_dot", "vec_dot(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    (FunctionIdentifier("vec_norm"),
      info(classOf[VecNorm], "vec_norm", "vec_norm(a) - L2 norm of a double array"),
      (args: Seq[Expression]) => VecNorm(args(0))),
    (FunctionIdentifier("sorted_long_intersect_count"),
      info(classOf[SortedLongIntersectCount], "sorted_long_intersect_count",
        "sorted_long_intersect_count(a, b) - |a ∩ b| of two sorted bigint arrays"),
      (args: Seq[Expression]) => SortedLongIntersectCount(args(0), args(1))),
    (FunctionIdentifier("simhash64"),
      info(classOf[SimHash64], "simhash64", "simhash64(hashes) - 64-bit simhash of a bigint hash array"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("minhash_bands"),
      info(classOf[MinHashBands], "minhash_bands",
        "minhash_bands(hashes, numBands, r) - banded minhash bucket ids"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        intLit(args(1), "minhash_bands", "numBands"),
        intLit(args(2), "minhash_bands", "r"))),
    (FunctionIdentifier("gram_hash"),
      info(classOf[GramHash], "gram_hash", "gram_hash(hashes, n) - rolling n-gram hashes of a bigint array"),
      (args: Seq[Expression]) => GramHash(args(0),
        intLit(args(1), "gram_hash", "n"))),
    (FunctionIdentifier("vec_dot_i8"),
      info(classOf[VecDotI8], "vec_dot_i8",
        "vec_dot_i8(a, b) - exact long dot product of two tinyint arrays"),
      (args: Seq[Expression]) => VecDotI8(args(0), args(1))),
    (FunctionIdentifier("vec_sumsq_i8"),
      info(classOf[VecSumSqI8], "vec_sumsq_i8",
        "vec_sumsq_i8(a) - exact long sum of squares of a tinyint array"),
      (args: Seq[Expression]) => VecSumSqI8(args(0))),
    (FunctionIdentifier("vec_quant_i8"),
      info(classOf[VecQuant8], "vec_quant_i8",
        "vec_quant_i8(a) - struct(scale, q8): symmetric int8 quantization of a double array"),
      (args: Seq[Expression]) => VecQuant8(args(0))))
}

/** Rewrites inner joins whose condition contains a pair of opposing range
  * conjuncts between the two sides — the shape of interval overlap
  * (`l.start <= r.stop && r.start <= l.stop`), point-in-interval
  * (`r.start <= l.p && l.p <= r.stop`) and band joins
  * (`l.x - eps <= r.y && r.y <= l.x + eps`) — into an equi-join on
  * exploded bin ids:
  *
  * {{{
  *   Join(L, R, cond)
  *   ==>
  *   Project(L.output ++ R.output,
  *     Join(Generate(Explode(sequence(bin(lLow), bin(lHigh))), L),
  *          Generate(Explode(sequence(bin(rLow), bin(rHigh))), R),
  *          lBin === rBin && cond && lBin === bin(greatest(lLow, rLow))))
  * }}}
  *
  * Every pair satisfying `cond` shares the bin containing
  * `greatest(lLow, rLow)` (both of that pair's per-side bin ranges cover
  * it, because the range conjuncts bound it into both), and the final
  * equality keeps each pair exactly once — semantics are preserved
  * row-for-row, including inverted per-row "intervals" (`lLow > lHigh`:
  * `sequence` descends over the same bin set) and null endpoints (null
  * `sequence` explodes to no rows; such rows fail the null-rejecting range
  * conjuncts in the original join too).
  *
  * Scope guards (rule fires only when ALL hold):
  *   - `spark.graft.binnedJoin.width` is set (> 0; seconds for
  *     timestamp/date endpoints, raw units for numerics — pick it near the
  *     typical interval length so most rows explode to 1-2 bins);
  *   - inner join with a condition, not already binned;
  *   - no cross-side equality conjuncts, unless
  *     `spark.graft.binnedJoin.withKeys=true` (an equi-key join already
  *     hash-partitions; binning additionally pays off only when keys are
  *     coarse — that trade-off is the user's call, so it is opt-in);
  *   - all four band endpoints are deterministic, single-side, and share
  *     one numeric / timestamp / timestamp_ntz / date type;
  *   - float/double endpoints additionally require
  *     `spark.graft.binnedJoin.assumeNoNaN=true`: Spark's total order
  *     makes `NaN <= NaN` true, but `floor(NaN / w)` cannot bin — with
  *     NaN-free data (the common case; assert it upstream) the rewrite is
  *     exact, and the conf records that contract.
  */
object BinnedJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val widthKey = "spark.graft.binnedJoin.width"
  val withKeysKey = "spark.graft.binnedJoin.withKeys"
  val assumeNoNaNKey = "spark.graft.binnedJoin.assumeNoNaN"
  private val binPrefix = "__graft_bin"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val widthStr = conf.getConfString(widthKey, "")
    if (widthStr.isEmpty) plan
    else {
      val width = widthStr.toDouble
      require(width > 0, s"$widthKey must be positive, got $widthStr")
      val withKeys = conf.getConfString(withKeysKey, "false").toBoolean
      val noNaN = conf.getConfString(assumeNoNaNKey, "false").toBoolean
      plan.transformUp {
        // idempotence inside the fixed-point batch: a rewritten join's
        // condition references the generated bin attributes
        case j @ Join(_, _, Inner, Some(cond), _)
            if !cond.references.exists(_.name.startsWith(binPrefix)) =>
          rewrite(j, cond, width, withKeys, noNaN).getOrElse(j)
      }
    }
  }

  private def supported(dt: DataType, noNaN: Boolean): Boolean = dt match {
    case FloatType | DoubleType => noNaN
    case _: NumericType => true
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Endpoint → bin id (LongType), mirroring
    * [[graft.joins.BinnedIntervalJoin.binOf]]: timestamps bin in
    * microseconds (width given in seconds), dates in days scaled to
    * microseconds, numerics in raw units.
    */
  private def binExpr(e: Expression, width: Double): Expression = {
    val (measure, effWidth) = e.dataType match {
      case TimestampType =>
        (Cast(UnixMicros(e), DoubleType), width * 1e6)
      case TimestampNTZType =>
        val tz = Some(conf.sessionLocalTimeZone)
        (Cast(UnixMicros(Cast(e, TimestampType, tz)), DoubleType), width * 1e6)
      case DateType =>
        (Multiply(Cast(UnixDate(e), DoubleType), Literal(86400e6)), width * 1e6)
      case _ =>
        (Cast(e, DoubleType), width)
    }
    Floor(Divide(measure, Literal(effWidth)))
  }

  private def rewrite(
      j: Join,
      cond: Expression,
      width: Double,
      withKeys: Boolean,
      noNaN: Boolean): Option[LogicalPlan] = {
    // stream-stream joins plan through stateful operators that require
    // the join shape the analyzer checked; exploding them behind the
    // optimizer's back breaks watermark/state planning — leave them be
    if (j.left.isStreaming || j.right.isStreaming) return None
    val lSet = j.left.outputSet
    val rSet = j.right.outputSet
    // Some(true) = deterministic and references only the left side
    def side(e: Expression): Option[Boolean] =
      if (!e.deterministic || e.references.isEmpty) None
      else if (e.references.subsetOf(lSet)) Some(true)
      else if (e.references.subsetOf(rSet)) Some(false)
      else None

    var uppers = List.empty[(Expression, Expression)] // (lExpr, rExpr): l <= r
    var lowers = List.empty[(Expression, Expression)] // (lExpr, rExpr): l >= r
    var hasEqui = false
    splitConjunctivePredicates(cond).foreach {
      case eq @ (_: EqualTo | _: EqualNullSafe) =>
        val b = eq.asInstanceOf[BinaryComparison]
        if (side(b.left).isDefined && side(b.right).isDefined &&
            side(b.left) != side(b.right)) hasEqui = true
      case cmp: BinaryComparison =>
        // normalize to a <= b (strict < implies <=, which is all binning needs)
        val ab = cmp match {
          case LessThan(x, y)           => Some((x, y))
          case LessThanOrEqual(x, y)    => Some((x, y))
          case GreaterThan(x, y)        => Some((y, x))
          case GreaterThanOrEqual(x, y) => Some((y, x))
          case _                        => None
        }
        ab.foreach { case (a, b) =>
          (side(a), side(b)) match {
            case (Some(true), Some(false)) => uppers ::= ((a, b))
            case (Some(false), Some(true)) => lowers ::= ((b, a))
            case _                         => ()
          }
        }
      case _ => ()
    }

    if (hasEqui && !withKeys) return None
    (uppers.reverse.headOption, lowers.reverse.headOption) match {
      case (Some((lLow, rHigh)), Some((lHigh, rLow))) =>
        val endpoints = Seq(lLow, lHigh, rLow, rHigh)
        val dt = lLow.dataType
        if (!endpoints.forall(e => e.dataType == dt) || !supported(dt, noNaN))
          return None

        val lBin = AttributeReference(binPrefix + "_l", LongType, nullable = false)()
        val rBin = AttributeReference(binPrefix + "_r", LongType, nullable = false)()
        def binned(child: LogicalPlan, lo: Expression, hi: Expression,
            attr: Attribute): LogicalPlan =
          Generate(
            // Sequence is a TimeZoneAwareExpression: without an explicit
            // timeZoneId it stays unresolved, and an optimizer rule runs
            // after analysis — no one re-resolves it for us
            Explode(Sequence(binExpr(lo, width), binExpr(hi, width), None,
              Some(conf.sessionLocalTimeZone))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(attr), child = child)

        val anchor = binExpr(Greatest(Seq(lLow, rLow)), width)
        val newCond = And(And(EqualTo(lBin, rBin), cond), EqualTo(lBin, anchor))
        val newJoin = Join(
          binned(j.left, lLow, lHigh, lBin),
          binned(j.right, rLow, rHigh, rBin),
          Inner, Some(newCond), j.hint)
        Some(Project(j.output, newJoin))
      case _ => None
    }
  }
}

/** Rewrites KEYED inner range joins — `l.join(r, keys && l.s <= r.re &&
  * r.rs <= l.e)` written as a plain declarative DataFrame join — into the
  * custom sweep operator
  * ([[org.apache.spark.sql.graft.IntervalSweepJoin]]): one shuffle + one
  * sort per side, partition-local interval sweep, no per-key candidate
  * cartesian. Without this rule Catalyst plans the shape as a hash/sort-
  * merge join on the keys with the range conjuncts as a post-filter,
  * which degenerates to a per-key cartesian when keys are coarse.
  *
  * Users keep writing declarative joins; the optimizer owns the physical
  * strategy — the same division of labor as [[BinnedJoinRewrite]], which
  * handles the KEYLESS shape by re-expressing it through existing
  * operators. Both rules install via [[GraftExtensions]] (which also
  * registers the planner strategy the sweep node needs).
  *
  * Scope guards (rule fires only when ALL hold):
  *   - `spark.graft.sweepJoin.enabled=true` (opt-in: an equi-key join
  *     with FINE keys is often better served by Catalyst's own join —
  *     few same-key candidates — and a broadcast-small side beats any
  *     shuffled plan; flip the conf on when keys are coarse);
  *   - inner join; at least one cross-side equality conjunct, all plain
  *     `=` or all null-safe `<=>` (mixed key semantics are left alone);
  *   - one opposing range-conjunct pair between the two sides, each
  *     endpoint deterministic and single-side, all four of one orderable
  *     atomic type (strict `<` maps to open endpoints, `<=` to closed);
  *   - leftover conjuncts are preserved as a `Filter` on the sweep
  *     output — semantics are row-identical to the original join.
  */
object SweepJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val enabledKey = "spark.graft.sweepJoin.enabled"

  /** default true: rewritten joins go to the DEFERRED auto-salt
    * dispatch ([[org.apache.spark.sql.graft.AutoSaltedSweepJoin]]) —
    * at execution one stats pass detects hot keys and time-slices them
    * ([[graft.joins.SaltedSweepJoin.auto]]); with no hot keys the plan
    * is the plain sweep's. A rule cannot decide skew itself (rules
    * must not launch jobs), so it defers, the same division of labor
    * as broadcast-threshold-vs-AQE. `false` restores the direct
    * [[org.apache.spark.sql.graft.IntervalSweepJoin]] rewrite (no
    * stats pass, single-task on a hot key). */
  val autoSaltKey = "spark.graft.sweepJoin.autoSalt"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(enabledKey, "false") != "true") plan
    else {
      val rewritten = plan.transformUp {
        case j @ Join(_, _, Inner, Some(cond), _) =>
          rewrite(j, cond).getOrElse(j)
      }
      pruneDispatchOutput(rewritten)
    }
  }

  /** Folds a parent operator's required attribute set into
    * [[org.apache.spark.sql.graft.AutoSaltedSweepJoin.requiredOutput]].
    * Injected rules run AFTER Catalyst's ColumnPruning batch, so without
    * this pass every match row crosses the dispatch's leaf-exec boundary
    * at the join's full width even when the parent aggregate consumes
    * two columns (measured +39% wall clock vs the operator API at sf1).
    * Idempotent (fixed-point-batch safe): an already-pruned node whose
    * required set is unchanged is returned as the same instance.
    */
  private def pruneDispatchOutput(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def pruneNode(n: graft_sweep.AutoSaltedSweepJoin,
        required: AttributeSet): LogicalPlan = {
      val keep = n.output.filter(required.contains)
      if (keep.length == n.output.length) n
      else n.copy(requiredOutput = Some(keep))
    }
    def pruneChild(child: LogicalPlan, required: AttributeSet): LogicalPlan =
      child match {
        case n: graft_sweep.AutoSaltedSweepJoin => pruneNode(n, required)
        case f @ Filter(c, n: graft_sweep.AutoSaltedSweepJoin) =>
          val pruned = pruneNode(n, required ++ c.references)
          if (pruned eq n) f else f.copy(child = pruned)
        case other => other
      }
    plan.transformUp {
      case p: Project =>
        val c = pruneChild(p.child, p.references)
        if (c eq p.child) p else p.copy(child = c)
      case a: Aggregate =>
        val c = pruneChild(a.child, a.references)
        if (c eq a.child) a else a.copy(child = c)
    }
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | TimestampType | TimestampNTZType | DateType |
         StringType | BooleanType => true
    case _ => false
  }

  private def rewrite(j: Join, cond: Expression): Option[LogicalPlan] = {
    if (j.left.isStreaming || j.right.isStreaming) return None
    val lSet = j.left.outputSet
    val rSet = j.right.outputSet
    def side(e: Expression): Option[Boolean] =
      if (!e.deterministic || e.references.isEmpty) None
      else if (e.references.subsetOf(lSet)) Some(true)
      else if (e.references.subsetOf(rSet)) Some(false)
      else None

    var keys = List.empty[(Expression, Expression, Boolean)] // (l, r, nullSafe)
    // (lExpr, rExpr, nonstrict): lExpr <(=) rExpr with lExpr on the left side
    var uppers = List.empty[(Expression, Expression, Boolean)]
    // (lExpr, rExpr, nonstrict): lExpr >(=) rExpr
    var lowers = List.empty[(Expression, Expression, Boolean)]
    var residual = List.empty[Expression]
    splitConjunctivePredicates(cond).foreach {
      case eq @ EqualTo(a, b) if side(a).isDefined && side(b).isDefined &&
          side(a) != side(b) =>
        if (side(a).contains(true)) keys ::= ((a, b, false))
        else keys ::= ((b, a, false))
      case eq @ EqualNullSafe(a, b) if side(a).isDefined &&
          side(b).isDefined && side(a) != side(b) =>
        if (side(a).contains(true)) keys ::= ((a, b, true))
        else keys ::= ((b, a, true))
      case cmp: BinaryComparison if (cmp match {
            case _: LessThan | _: LessThanOrEqual |
                 _: GreaterThan | _: GreaterThanOrEqual => true
            case _ => false
          }) =>
        val (a, b, nonstrict) = cmp match {
          case LessThan(x, y)           => (x, y, false)
          case LessThanOrEqual(x, y)    => (x, y, true)
          case GreaterThan(x, y)        => (y, x, false)
          case GreaterThanOrEqual(x, y) => (y, x, true)
        }
        (side(a), side(b)) match {
          case (Some(true), Some(false)) => uppers ::= ((a, b, nonstrict))
          case (Some(false), Some(true)) => lowers ::= ((b, a, nonstrict))
          case _                         => residual ::= cmp
        }
      case other => residual ::= other
    }

    if (keys.isEmpty) return None // keyless shape: BinnedJoinRewrite's job
    val nullSafeFlags = keys.map(_._3).distinct
    if (nullSafeFlags.length != 1) return None // mixed = / <=> semantics
    (uppers.reverse, lowers.reverse) match {
      case ((lLow, rHigh, upNonstrict) :: upRest,
            (lHigh, rLow, loNonstrict) :: loRest) =>
        val endpoints = Seq(lLow, lHigh, rLow, rHigh)
        val dt = lLow.dataType
        if (!endpoints.forall(_.dataType == dt) || !orderable(dt)) return None
        // extra range conjuncts beyond the chosen pair stay as filters
        val extra =
          upRest.map { case (a, b, ns) =>
            if (ns) LessThanOrEqual(a, b) else LessThan(a, b) } ++
          loRest.map { case (a, b, ns) =>
            if (ns) GreaterThanOrEqual(a, b) else GreaterThan(a, b) }
        // sweep matches iff (rs<le or (rs==le && lcE&&rcS)) and
        // (ls<re or (ls==re && lcS&&rcE)); only the PRODUCTS matter, so
        // there is freedom in which side carries the conjuncts'
        // strictness. Default: lcS=lcE=true, right flags = strictness.
        // POINT PROBES (rs and re are the same expression — the as-of /
        // timestamp-in-interval shape) instead keep the right interval
        // CLOSED and move strictness to the left flags: under the
        // default mapping a strict conjunct makes the point interval
        // [p,p] open ⇒ empty under the operator convention ⇒ the
        // auto-salt dispatch's validity probe would flag EVERY right
        // row and permanently fall back to the unsalted sweep — the
        // exact straggler the dispatch exists to fix. With the point
        // closed, no right row is ever convention-empty, and degenerate
        // left rows that the operator ingress filter drops provably
        // cannot satisfy the raw conjuncts (s > e, or s = e with a
        // strict bound, admits no p) — the dispatch skips its probe.
        val pointProbe = rLow.semanticEquals(rHigh)
        val (lcS, lcE, rcS, rcE) =
          if (pointProbe) (upNonstrict, loNonstrict, true, true)
          else (true, true, loNonstrict, upNonstrict)
        // the dispatch's nested execution re-executes the child plans
        // (validity/stats probes + the join itself, up to three runs):
        // a nondeterministic child (rand(), uuid(), an input_file_name
        // projection) can diverge between runs — those joins take the
        // direct sweep, whose children execute exactly once
        val childrenDeterministic =
          !j.left.exists(_.expressions.exists(!_.deterministic)) &&
            !j.right.exists(_.expressions.exists(!_.deterministic))
        val autoSalt = childrenDeterministic &&
          conf.getConfString(autoSaltKey, "true").toBoolean
        val node: LogicalPlan =
          if (autoSalt) graft_sweep.AutoSaltedSweepJoin(
            j.left, j.right,
            keys.reverse.map(_._1), keys.reverse.map(_._2),
            lStart = lLow, lEnd = lHigh, rStart = rLow, rEnd = rHigh,
            lClosedStart = lcS, lClosedEnd = lcE,
            rClosedStart = rcS, rClosedEnd = rcE,
            matchNullKeys = nullSafeFlags.head)
          else graft_sweep.IntervalSweepJoin(
            j.left, j.right,
            keys.reverse.map(_._1), keys.reverse.map(_._2),
            lStart = lLow, lEnd = lHigh, rStart = rLow, rEnd = rHigh,
            lClosedStart = lcS, lClosedEnd = lcE,
            rClosedStart = rcS, rClosedEnd = rcE,
            matchNullKeys = nullSafeFlags.head)
        // no Project wrapper: for an Inner join `node.output` IS
        // `j.output` (left.output ++ right.output), attribute-for-
        // attribute — and an identity Project here would sit between a
        // narrow parent Project and the node, blocking
        // [[pruneDispatchOutput]]'s pattern
        (residual.reverse ++ extra) match {
          case Nil => Some(node)
          case fs  => Some(Filter(fs.reduce(And), node))
        }
      case _ => None
    }
  }
}
