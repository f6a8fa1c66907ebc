package graft

import graft.resample.ResampleEav
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

case class RandObs(e: Int, t: java.lang.Double, attr: String, v: java.lang.Double)
case class RandWin(e: Int, ws: java.lang.Double, wt: java.lang.Double)

/** Randomized differential testing of resample_eav across window patterns
  * (overlapping / inverted / NA-endpoint windows, NaN values, NA times) —
  * the reference's sweep strategy (`tests/test_resample_eav.py:71-132`)
  * with a Scala brute-force oracle.
  */
class ResampleEavRandomSpec extends SparkSuite {
  import spark.implicits._

  private def genObs(seed: Int, n: Int): Seq[RandObs] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      RandObs(
        rnd.nextInt(4),
        rnd.nextInt(12) match {
          case 0 => null
          case 1 => Double.NaN // NA time: ignored entirely
          case _ => rnd.nextInt(20).toDouble
        },
        if (rnd.nextBoolean()) "a" else "b",
        rnd.nextInt(10) match {
          case 0 => null
          case 1 => Double.NaN
          case k => k.toDouble
        })
    }
  }

  private def genWins(seed: Int, n: Int): Seq[RandWin] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val s = rnd.nextInt(20).toDouble
      val len = rnd.nextInt(12) - 2 // may be inverted
      def na(v: Double): java.lang.Double = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Double.NaN // NaN endpoint: window invalid
        case _ => v
      }
      RandWin(rnd.nextInt(5), na(s), na(s + len))
    }
  }

  private def isNa(x: java.lang.Double): Boolean = x == null || x.isNaN

  test("randomized: count/sum/min/max/size/r0 vs brute-force oracle") {
    for (seed <- Seq(11, 12, 13)) {
      val obs = genObs(seed, 120)
      val wins = genWins(seed + 50, 40)
      val out = ResampleEav(
        obs.toDF("e", "t", "attr", "v"), wins.toDF("e", "ws", "wt"),
        agg = Map("a" -> Seq("count", "sum", "min", "max", "size", "r0",
          "p30", "median")),
        timeCol = "t", valueCol = "v", entityCol = Some("e"),
        attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
        .orderBy(col("ws").asc_nulls_last, col("wt").asc_nulls_last, col("e"))
        .collect()

      // match Spark's asc_nulls_last with NaN sorting above +Inf
      def sortKey(x: java.lang.Double): (Int, Double) =
        if (x == null) (2, 0.0)
        else if (x.isNaN) (1, 0.0)
        else (0, x.doubleValue)
      val sortedWins = wins.sortBy(w => (sortKey(w.ws), sortKey(w.wt), w.e))
      assert(out.length == wins.length)

      sortedWins.zip(out).foreach { case (w, row) =>
        // oracle: [ws, wt) containment, invalid window ⇒ nothing
        val inWin: Seq[RandObs] =
          if (isNa(w.ws) || isNa(w.wt)) Seq.empty
          else obs.filter(o => o.e == w.e && o.attr == "a" && !isNa(o.t) &&
            o.t >= w.ws && o.t < w.wt)
        val vals = inWin.map(_.v)
          .filter(x => x != null && !x.isNaN).map(_.doubleValue)
        assert(row.getAs[Long]("a_size") == inWin.size,
          s"seed=$seed w=$w size")
        assert(row.getAs[Long]("a_count") == vals.size, s"seed=$seed w=$w count")
        // pandas linear-interpolation percentile oracle
        def pct(q: Double): Double = {
          val s = vals.sorted
          val pos = (s.size - 1) * q
          val lo = math.floor(pos).toInt
          val hi = math.ceil(pos).toInt
          s(lo) + (s(hi) - s(lo)) * (pos - lo)
        }
        if (vals.nonEmpty) {
          assert(math.abs(row.getAs[Double]("a_sum") - vals.sum) < 1e-9)
          assert(row.getAs[Double]("a_min") == vals.min)
          assert(row.getAs[Double]("a_max") == vals.max)
          assert(math.abs(row.getAs[Double]("a_p30") - pct(0.3)) < 1e-9,
            s"seed=$seed w=$w p30")
          assert(math.abs(row.getAs[Double]("a_median") - pct(0.5)) < 1e-9,
            s"seed=$seed w=$w median")
        } else {
          assert(row.isNullAt(row.fieldIndex("a_sum")), s"seed=$seed w=$w sum")
          assert(row.isNullAt(row.fieldIndex("a_p30")), s"seed=$seed w=$w p30")
        }
        // r0: value of the earliest observation (any value incl. null/NaN),
        // ties by stable input order make the value ambiguous only if the
        // tied values differ — restrict the check to unique-minimum times
        if (inWin.nonEmpty) {
          val tmin = inWin.map(_.t.doubleValue).min
          val atMin = inWin.filter(_.t == tmin)
          if (atMin.size == 1) {
            val exp = atMin.head.v
            if (exp == null || exp.isNaN)
              assert(row.isNullAt(row.fieldIndex("a_r0")))
            else assert(row.getAs[Double]("a_r0") == exp.doubleValue)
          }
        } else assert(row.isNullAt(row.fieldIndex("a_r0")))
      }
    }
  }

  spreadTest("randomized: every aggregation kind, two attributes, groups across partitions") {
    val aggs = Seq("mean", "std", "var", "sem", "skew", "prod", "mad", "nunique",
      "mode", "mode_count", "r1", "r-1", "t-1", "r5", "p30")
    val countLike = Set("nunique", "mode_count")
    for (seed <- Seq(21, 22)) {
      val obs = genObs(seed, 160)
      val wins = genWins(seed + 50, 40)
      val out = ResampleEav(
        obs.toDF("e", "t", "attr", "v"), wins.toDF("e", "ws", "wt"),
        agg = Map("a" -> aggs, "b" -> aggs),
        timeCol = "t", valueCol = "v", entityCol = Some("e"),
        attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"),
        customAgg = Map("a" -> Seq("tmax" -> ((v, t) => max_by(t, v))),
          "b" -> Seq("tmax" -> ((v, t) => max_by(t, v)))))
      val names = for (a <- Seq("a", "b"); g <- aggs) yield s"${a}_$g"
      assert(out.columns.toSeq ==
        Seq("e", "ws", "wt") ++ names ++ Seq("a_tmax", "b_tmax"))
      for (a <- Seq("a", "b"); g <- countLike)
        assert(out.schema(s"${a}_$g").dataType == LongType, s"${a}_$g")

      def sortKey(x: java.lang.Double): (Int, Double) =
        if (x == null) (2, 0.0)
        else if (x.isNaN) (1, 0.0)
        else (0, x.doubleValue)
      val rows = out
        .orderBy(col("ws").asc_nulls_last, col("wt").asc_nulls_last, col("e"))
        .collect()
      val sortedWins = wins.sortBy(w => (sortKey(w.ws), sortKey(w.wt), w.e))
      assert(rows.length == wins.length)
      sortedWins.zip(rows).foreach { case (w, row) =>
        for (a <- Seq("a", "b")) check(seed, w, a, row, obs)
      }
    }
  }

  /** Brute-force oracle of one window's aggregations of attribute `a`. */
  private def check(seed: Int, w: RandWin, a: String, row: Row,
      obs: Seq[RandObs]): Unit = {
    // observations in [ws, wt) by (time, input order) — the row-id tie rule
    val inWin: Seq[RandObs] =
      if (isNa(w.ws) || isNa(w.wt)) Seq.empty
      else obs.filter(o => o.e == w.e && o.attr == a && !isNa(o.t) &&
        o.t >= w.ws && o.t < w.wt).sortBy(_.t.doubleValue)
    val vals = inWin.map(_.v).filter(x => !isNa(x)).map(_.doubleValue)
    val n = vals.size
    val mean = if (n > 0) vals.sum / n else Double.NaN
    val m2 = vals.map(x => (x - mean) * (x - mean)).sum
    val m3 = vals.map(x => math.pow(x - mean, 3)).sum
    def expect(agg: String, exp: Option[Double]): Unit = {
      val i = row.fieldIndex(s"${a}_$agg")
      val at = s"seed=$seed w=$w $a $agg"
      exp match {
        case None => assert(row.isNullAt(i), s"$at: ${row.get(i)} not null")
        case Some(x) =>
          assert(!row.isNullAt(i), s"$at: null, expected $x")
          val got = row.getAs[Any](i) match {
            case l: Long   => l.toDouble
            case d: Double => d
          }
          assert(math.abs(got - x) <= 1e-9 * math.max(1.0, math.abs(x)),
            s"$at: $got, expected $x")
      }
    }
    def when(cond: Boolean)(x: => Double): Option[Double] =
      if (cond) Some(x) else None
    val variance = m2 / (n - 1)
    expect("mean", when(n > 0)(mean))
    expect("var", when(n >= 2)(variance))
    expect("std", when(n >= 2)(math.sqrt(variance)))
    expect("sem", when(n >= 2)(math.sqrt(variance / n)))
    // pandas' adjusted G1; a constant window has no skew (Spark: null)
    expect("skew", when(n >= 3 && m2 > 0)(
      math.sqrt(n.toDouble * (n - 1)) / (n - 2) * (m3 / n) / math.pow(m2 / n, 1.5)))
    expect("prod", when(n > 0)(vals.product))
    expect("mad", when(n > 0)(vals.map(x => math.abs(x - mean)).sum / n))
    expect("nunique", Some(vals.distinct.size.toDouble))
    // mode: the most frequent value, the smallest on ties
    val counts = vals.groupBy(identity).map { case (x, xs) => x -> xs.size }
    val top = if (counts.isEmpty) 0 else counts.values.max
    expect("mode", when(n > 0)(counts.filter(_._2 == top).keys.min))
    expect("mode_count", Some(top.toDouble))
    // ranks count every observation, an NA value included
    def rank(k: Int): Option[RandObs] = {
      val j = if (k >= 0) k else inWin.size + k
      if (j >= 0 && j < inWin.size) Some(inWin(j)) else None
    }
    def valueOf(o: Option[RandObs]): Option[Double] =
      o.map(_.v).filter(x => !isNa(x)).map(_.doubleValue)
    expect("r1", valueOf(rank(1)))
    expect("r-1", valueOf(rank(-1)))
    expect("r5", valueOf(rank(5)))
    expect("t-1", rank(-1).map(_.t.doubleValue))
    expect("p30", when(n > 0) {
      val s = vals.sorted
      val pos = (n - 1) * 0.3
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.ceil(pos).toInt) - s(lo)) * (pos - lo)
    })
    // custom max_by(t, v): the time of the largest value, where unique
    if (n == 0) expect("tmax", None)
    else {
      val atMax = inWin.filter(o => !isNa(o.v) && o.v.doubleValue == vals.max)
      if (atMax.size == 1) expect("tmax", Some(atMax.head.t.doubleValue))
    }
  }
}
