package graft.joins

import graft.SparkSuite
import graft.core.IntervalSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Randomized differential testing of IntervalJoin à la the reference's
  * seeded sweeps (`tests/test_merge_intervals.py:235-275`): random
  * intervals with NaN/degenerate cases, every closedness combo and
  * how/keep mode, compared against a brute-force cross-join + predicate
  * oracle computed independently below.
  */
case class RandIv(id: Long, g: Int, s: java.lang.Double, e: java.lang.Double)

class IntervalJoinRandomSpec extends SparkSuite {
  import spark.implicits._

  private type Iv = RandIv
  private def Iv(id: Long, g: Int, s: java.lang.Double, e: java.lang.Double) =
    RandIv(id, g, s, e)

  private def gen(seed: Int, n: Int): Seq[Iv] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val g = rnd.nextInt(3)
      val s = rnd.nextInt(10).toDouble
      val len = rnd.nextInt(4) - 1 // -1 → inverted (empty), 0 → point
      val sOpt: java.lang.Double = if (rnd.nextInt(10) == 0) null else s
      val eOpt: java.lang.Double =
        if (rnd.nextInt(10) == 0) null else s + len
      Iv(i.toLong, g, sOpt, eOpt)
    }
  }

  /** Brute-force oracle: all matching (lid, rid) pairs. */
  private def oracle(
      ls: Seq[Iv], rs: Seq[Iv],
      incLs: Boolean, incLe: Boolean, incRs: Boolean, incRe: Boolean): Set[(Long, Long)] = {
    def valid(v: Iv, incS: Boolean, incE: Boolean): Boolean =
      v.s != null && v.e != null &&
        (if (incS && incE) v.s <= v.e else v.s < v.e)
    (for {
      a <- ls if valid(a, incLs, incLe)
      b <- rs if valid(b, incRs, incRe)
      c1 = if (incLs && incRe) a.s <= b.e else a.s < b.e
      c2 = if (incRs && incLe) b.s <= a.e else b.s < a.e
      if a.g == b.g && c1 && c2
    } yield (a.id, b.id)).toSet
  }

  private def run(
      l: DataFrame, r: DataFrame,
      incLs: Boolean, incLe: Boolean, incRs: Boolean, incRe: Boolean,
      how: String, keep: String): Seq[(Option[Long], Option[Long])] =
    IntervalJoin(
      l, r,
      leftSpec = IntervalSpec(Some("s"), Some("e"), incLs, incLe),
      rightSpec = IntervalSpec(Some("s"), Some("e"), incRs, incRe),
      on = Seq("g"), how = how, keep = keep, keepOrder = false,
      leftIdCol = Some("id"), rightIdCol = Some("id"))
      .select(col("id_x"), col("id_y"))
      .collect()
      .map(row => (Option(row.get(0)).map(_.asInstanceOf[Long]),
        Option(row.get(1)).map(_.asInstanceOf[Long]))).toSeq

  test("randomized: all closedness combos vs brute-force oracle (inner/all)") {
    for (seed <- Seq(1, 2, 3)) {
      val ls = gen(seed, 40)
      val rs = gen(seed + 100, 30)
      val (ldf, rdf) = (ls.toDF(), rs.toDF())
      for {
        incLs <- Seq(true, false); incLe <- Seq(true, false)
        incRs <- Seq(true, false); incRe <- Seq(true, false)
      } {
        val got = run(ldf, rdf, incLs, incLe, incRs, incRe, "inner", "all")
          .map(p => (p._1.get, p._2.get)).toSet
        val want = oracle(ls, rs, incLs, incLe, incRs, incRe)
        assert(got == want,
          s"seed=$seed closed=($incLs,$incLe,$incRs,$incRe)")
      }
    }
  }

  test("randomized: half-unbounded left side (missing start column) vs oracle") {
    // leftSpec = (-inf, e]: matches right [s,e'] iff s <= e (and both valid)
    val ls = gen(91, 35)
    val rs = gen(291, 30)
    val got = IntervalJoin(
      ls.toDF().drop("s"), rs.toDF(),
      leftSpec = IntervalSpec(None, Some("e")),
      rightSpec = IntervalSpec(Some("s"), Some("e")),
      on = Seq("g"), keepOrder = false,
      leftIdCol = Some("id"), rightIdCol = Some("id"))
      .select(col("id_x"), col("id_y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- ls if a.e != null
      b <- rs if b.s != null && b.e != null && b.s <= b.e
      if a.g == b.g && b.s <= a.e
    } yield (a.id, b.id)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("randomized: how=left/outer row accounting and keep=first/last/both") {
    val ls = gen(7, 30)
    val rs = gen(207, 25)
    val (ldf, rdf) = (ls.toDF(), rs.toDF())
    val want = oracle(ls, rs, incLs = true, incLe = true, incRs = true, incRe = true)

    // how=left: every left id appears; unmatched get null right
    val leftRows = run(ldf, rdf, true, true, true, true, "left", "all")
    assert(leftRows.flatMap(_._1).toSet == ls.map(_.id).toSet)
    assert(leftRows.filter(_._2.isDefined)
      .map(p => (p._1.get, p._2.get)).toSet == want)

    // how=outer: both sides' ids all appear
    val outerRows = run(ldf, rdf, true, true, true, true, "outer", "all")
    assert(outerRows.flatMap(_._1).toSet == ls.map(_.id).toSet)
    assert(outerRows.flatMap(_._2).toSet == rs.map(_.id).toSet)

    // keep=first/last: per left id, min/max matching right id
    val byLeft = want.groupBy(_._1)
    val first = run(ldf, rdf, true, true, true, true, "inner", "first")
      .map(p => (p._1.get, p._2.get))
    assert(first.toSet == byLeft.map { case (l0, ps) => (l0, ps.map(_._2).min) }.toSet)
    assert(first.size == byLeft.size) // exactly one row per matched left
    val last = run(ldf, rdf, true, true, true, true, "inner", "last")
      .map(p => (p._1.get, p._2.get)).toSet
    assert(last == byLeft.map { case (l0, ps) => (l0, ps.map(_._2).max) }.toSet)
    // keep=both: first ∪ last (single row when equal)
    val both = run(ldf, rdf, true, true, true, true, "inner", "both")
      .map(p => (p._1.get, p._2.get))
    assert(both.toSet == (first.toSet ++ last))
    assert(both.size == both.toSet.size)
  }

  // ── keyless joins: the broadcast sweep against the plain join ─────────

  /** Ascending endpoint pools per type, holding the type's extreme
    * values (which equal the ±∞ sentinels) and, for double, ±0.0 and NaN. */
  private val pools: Seq[(String, Seq[Column])] = Seq(
    "int" -> (Int.MinValue +: (0 to 6) :+ Int.MaxValue).map(lit(_)),
    "long" -> (Long.MinValue +: (0L to 6L) :+ Long.MaxValue).map(lit(_)),
    "double" -> Seq(Double.NegativeInfinity, -0.0, 0.0, 1.0, 2.0, 3.0, 4.0,
      Double.PositiveInfinity, Double.NaN).map(lit(_)),
    "timestamp" -> (Long.MinValue +: (0L to 6L).map(_ * 1000000L) :+ Long.MaxValue)
      .map(v => timestamp_micros(lit(v))))

  /** `n` rows (id, s, e) with endpoints drawn from `pool`: e near s (so
    * intervals are points, bounded or inverted), 1 in 8 endpoints null. */
  private def keylessFrame(pool: Seq[Column], seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def idx(i: Int): Option[Int] =
      if (rnd.nextInt(8) == 0) None else Some(i.max(0).min(pool.size - 1) + 1)
    (0 until n).map { i =>
      val si = rnd.nextInt(pool.size)
      (i.toLong, idx(si), idx(si + rnd.nextInt(4) - 1))
    }.toDF("id", "si", "ei").select(col("id"),
      element_at(array(pool: _*), col("si")).as("s"),
      element_at(array(pool: _*), col("ei")).as("e"))
  }

  /** The plain formulation's condition over aliases `l` and `r`: both
    * intervals non-empty (no null/NaN endpoint, start before stop) and
    * each present start before the other side's present stop. */
  private def plainCond(lSpec: IntervalSpec, rSpec: IntervalSpec,
      floating: Boolean): Column = {
    def valid(side: String, sp: IntervalSpec): Column = {
      def c(n: String) = col(s"$side.$n")
      val present = (sp.start ++ sp.stop).toSeq.map { n =>
        if (floating) c(n).isNotNull && !isnan(c(n)) else c(n).isNotNull
      }
      val ordered = (sp.start, sp.stop) match {
        case (Some(a), Some(b)) if a == b => lit(sp.includeStart && sp.includeStop)
        case (Some(a), Some(b)) =>
          if (sp.includeStart && sp.includeStop) c(a) <= c(b) else c(a) < c(b)
        case _ => lit(true)
      }
      (present :+ ordered).reduce(_ && _)
    }
    def before(a: Column, b: Column, closed: Boolean) = if (closed) a <= b else a < b
    val c1 = for (a <- lSpec.start; d <- rSpec.stop) yield
      before(col(s"l.$a"), col(s"r.$d"), lSpec.includeStart && rSpec.includeStop)
    val c2 = for (c <- rSpec.start; b <- lSpec.stop) yield
      before(col(s"r.$c"), col(s"l.$b"), rSpec.includeStart && lSpec.includeStop)
    (Seq(valid("l", lSpec), valid("r", rSpec)) ++ c1 ++ c2).reduce(_ && _)
  }

  /** IntervalJoin vs `l.join(r, cond)` row for row (all six columns); for
    * keep first/last/both the plain pairs are reduced per left id by the
    * right id. Returns the matched row count. */
  private def checkKeyless(typ: String, l: DataFrame, r: DataFrame,
      lSpec: IntervalSpec, rSpec: IntervalSpec, keep: String = "all",
      routed: Boolean = true, runMaxActive: Option[Int] = None): Int = {
    def shown(c: String) =
      if (typ == "timestamp" && !c.contains("id")) unix_micros(col(c)) else col(c)
    def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(shown): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted
    val got = IntervalJoin(l, r, lSpec, rSpec, keep = keep, keepOrder = false,
      leftIdCol = Some("id"), rightIdCol = Some("id"))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalSweepJoin") == routed, plan)
    // a bound lowered after routing stands for a broadcast side whose row
    // estimate was too low: the sweep degrades to the spillable scan
    runMaxActive.foreach(n => spark.conf.set("spark.graft.sweep.maxActive", n.toString))
    val gotRows = try rows(got, Seq("id_x", "s_x", "e_x", "id_y", "s_y", "e_y"))
      finally if (runMaxActive.isDefined) spark.conf.unset("spark.graft.sweep.maxActive")
    val plain = l.as("l").join(r.as("r"),
      plainCond(lSpec, rSpec, floating = typ == "double"))
    val pairs = plain.select(col("l.id"), col("r.id")).collect()
      .map(p => (p.getLong(0), p.getLong(1))).groupBy(_._1)
    val kept = pairs.values.flatMap { ps =>
      val ids = ps.map(_._2)
      keep match {
        case "all" => ps.toSeq
        case "first" => Seq((ps.head._1, ids.min))
        case "last" => Seq((ps.head._1, ids.max))
        case _ => Seq(ids.min, ids.max).distinct.map(ps.head._1 -> _)
      }
    }.toSeq.toDF("lid", "rid")
    val want = rows(plain.join(kept, col("l.id") === col("lid") &&
      col("r.id") === col("rid")),
      Seq("l.id", "l.s", "l.e", "r.id", "r.s", "r.e"))
    val ctx = s"type=$typ left=$lSpec right=$rSpec keep=$keep"
    assert(gotRows == want, ctx)
    want.size
  }

  private def flags(rnd: scala.util.Random) = (rnd.nextBoolean(), rnd.nextBoolean())

  test("keyless broadcast sweep: all closedness combos, either side broadcast") {
    val pool = pools.find(_._1 == "double").get._2
    var matched = 0
    for {
      incLs <- Seq(true, false); incLe <- Seq(true, false)
      incRs <- Seq(true, false); incRe <- Seq(true, false)
    } {
      // the larger left side sends the right to the broadcast; the
      // smaller left side is broadcast itself (sides swapped)
      val (nl, nr) = if (incLs == incRe) (45, 30) else (30, 45)
      val seed = Seq(incLs, incLe, incRs, incRe).count(identity)
      matched += checkKeyless("double",
        keylessFrame(pool, 10 + seed, nl), keylessFrame(pool, 20 + seed, nr),
        IntervalSpec(Some("s"), Some("e"), incLs, incLe),
        IntervalSpec(Some("s"), Some("e"), incRs, incRe))
    }
    assert(matched > 0)
  }

  test("keyless broadcast sweep: point / bounded / half-unbounded specs " +
      "over int, long, double and timestamp endpoints") {
    val rnd = new scala.util.Random(5)
    // the flag of a missing endpoint is random too: it must not matter
    def shapes: Seq[IntervalSpec] = {
      val (a, b) = flags(rnd)
      Seq(IntervalSpec.point("s"), IntervalSpec(Some("s"), Some("e"), a, b),
        IntervalSpec(None, Some("e"), b, a), IntervalSpec(Some("s"), None, b, a))
    }
    for ((typ, pool) <- pools) {
      var matched = 0
      for {
        lSpec <- shapes; rSpec <- shapes
        if (lSpec.start.isDefined && rSpec.stop.isDefined) ||
          (rSpec.start.isDefined && lSpec.stop.isDefined)
      } {
        val seed = rnd.nextInt(1000)
        matched += checkKeyless(typ,
          keylessFrame(pool, seed, 40), keylessFrame(pool, seed + 1, 30 + seed % 20),
          lSpec, rSpec,
          // two points are an equality join: Catalyst hashes it
          routed = !(lSpec.isPoint && rSpec.isPoint))
      }
      assert(matched > 0, typ)
    }
    // decimal has no ±∞ sentinel: Catalyst's plan, same rows
    def dec(seed: Int, n: Int) = keylessFrame(pools.head._2, seed, n)
      .select(col("id"), col("s").cast("decimal(12,0)").as("s"),
        col("e").cast("decimal(12,0)").as("e"))
    checkKeyless("decimal", dec(7, 40), dec(8, 30),
      IntervalSpec.point("s"), IntervalSpec.unboundedBelow("e"), routed = false)
  }

  test("keyless broadcast sweep: keep first/last/both, interpreted and " +
      "degraded execution, empty broadcast side") {
    val pool = pools.find(_._1 == "double").get._2
    val l = keylessFrame(pool, 31, 40)
    val r = keylessFrame(pool, 32, 30)
    val specs = Seq(
      IntervalSpec.closed("s", "e") -> IntervalSpec(Some("s"), Some("e"), false, true),
      IntervalSpec.point("s") -> IntervalSpec.unboundedBelow("e"))
    // a left side with no start needs no sort, so a left pipeline that
    // emits several rows per input (explode) feeds the sweep directly
    val twice = l.withColumn("twice", explode(array(lit(1), lit(2)))).drop("twice")
    def each(runMaxActive: Option[Int] = None): Unit = {
      for ((lSpec, rSpec) <- specs; keep <- Seq("all", "first", "last", "both"))
        checkKeyless("double", l, r, lSpec, rSpec, keep, runMaxActive = runMaxActive)
      checkKeyless("double", twice, r, IntervalSpec.unboundedBelow("e"),
        IntervalSpec.closed("s", "e"), "both", runMaxActive = runMaxActive)
    }
    each()
    try {
      // whole-stage codegen off: the left side reaches the sweep row by row
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      each()
      // every right row beyond the third moves to the spillable scan
      each(runMaxActive = Some(3))
      spark.conf.unset("spark.sql.codegen.wholeStage")
      each(runMaxActive = Some(3))
      // a broadcast side with more rows than the bound is not routed
      spark.conf.set("spark.graft.sweep.maxActive", "3")
      for (keep <- Seq("all", "first"))
        checkKeyless("double", l, r, specs(1)._1, specs(1)._2, keep, routed = false)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.graft.sweep.maxActive")
    }
    val empty = r.filter(lit(false))
    for (keep <- Seq("all", "first"))
      assert(checkKeyless("double", l, empty, specs(0)._1, specs(0)._2, keep) == 0)
    // the empty side is the smaller one and is broadcast with sides swapped
    assert(checkKeyless("double", empty, r, specs(1)._1, specs(1)._2) == 0)
  }
}
