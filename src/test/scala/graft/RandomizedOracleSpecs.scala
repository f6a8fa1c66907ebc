package graft

import graft.intervals.{CombineIntervals, GroupIntervals}
import graft.joins.FindContainingInterval
import org.apache.spark.sql.functions._

/** Randomized differential tests with INDEPENDENT sequential oracles —
  * different algorithms, not re-runs of the distributed plan: segment
  * evaluation for the sweep-line, union-find for single-linkage, a per-
  * point loop for containment. Golden fixtures in OperatorSpecs pin the
  * semantics; these sweeps hunt distributed-plan bugs (window frames,
  * partition boundaries, collapse rules) across many random shapes.
  */
class RandomizedOracleSpecs extends SparkSuite {
  import spark.implicits._

  private def genIntervals(seed: Int, n: Int, groups: Int,
      maxLen: Int): Seq[(Long, Int, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val s = rnd.nextInt(30).toDouble
      (i.toLong, rnd.nextInt(groups), s, s + rnd.nextInt(maxLen + 1))
    }
  }

  test("combine_intervals ≡ elementary-segment oracle (n_min/n_max sweeps)") {
    for (seed <- Seq(3, 4); (nMin, nMax) <- Seq((1, None), (2, None),
        (0, Some(0)), (2, Some(3)), (0, None))) {
      val ivs = genIntervals(seed, 50, 3, 6)
      val df = ivs.toDF("id", "g", "s", "e")
      val got = CombineIntervals(df, "s", Some("e"), groupBy = Seq("g"),
        nMin = nMin, nMax = nMax)
        .select("g", "s", "e").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet

      // oracle: depth on each elementary segment between adjacent event
      // points; closed interval [s,e] covers segment (t1,t2) iff s<=t1<t2<=e
      val want = ivs.groupBy(_._2).flatMap { case (g, rows) =>
        val pts = rows.flatMap(r => Seq(r._3, r._4)).distinct.sorted
        val segs = pts.zip(pts.drop(1)).map { case (t1, t2) =>
          val depth = rows.count(r => r._3 <= t1 && t2 <= r._4)
          (t1, t2, depth >= nMin && nMax.forall(depth <= _))
        }
        // merge adjacent qualifying segments
        val out = scala.collection.mutable.ListBuffer.empty[(Double, Double)]
        var cur: Option[(Double, Double)] = None
        for ((t1, t2, ok) <- segs) {
          cur = (cur, ok) match {
            case (Some((a, b)), true) if b == t1 => Some((a, t2))
            case (c, true) => c.foreach(out += _); Some((t1, t2))
            case (c, false) => c.foreach(out += _); None
          }
        }
        cur.foreach(out += _)
        out.filter(p => p._1 < p._2).map(p => (g, p._1, p._2))
      }.toSet
      assert(got == want, s"seed=$seed nMin=$nMin nMax=$nMax")
    }
  }

  test("combine_intervals attr_cols ≡ distinct-attribute segment oracle") {
    val rnd = new scala.util.Random(11)
    val ivs = (0 until 60).map { i =>
      val s = rnd.nextInt(25).toDouble
      (i.toLong, rnd.nextInt(2), s"a${rnd.nextInt(3)}", s,
        s + rnd.nextInt(5) + 1)
    }
    val df = ivs.toDF("id", "g", "attr", "s", "e")
    for ((nMin, nMax) <- Seq((1, None: Option[Int]), (2, None), (3, Some(3)))) {
      val got = CombineIntervals(df, "s", Some("e"), attrCols = Seq("attr"),
        groupBy = Seq("g"), nMin = nMin, nMax = nMax)
        .select("g", "s", "e").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
      val want = ivs.groupBy(_._2).flatMap { case (g, rows) =>
        val pts = rows.flatMap(r => Seq(r._4, r._5.toDouble)).distinct.sorted
        val segs = pts.zip(pts.drop(1)).map { case (t1, t2) =>
          // equal-attribute overlaps count ONCE (misc.py:367-401)
          val depth = rows.filter(r => r._4 <= t1 && t2 <= r._5)
            .map(_._3).distinct.size
          (t1, t2, depth >= nMin && nMax.forall(depth <= _))
        }
        val out = scala.collection.mutable.ListBuffer.empty[(Double, Double)]
        var cur: Option[(Double, Double)] = None
        for ((t1, t2, ok) <- segs) {
          cur = (cur, ok) match {
            case (Some((a, b)), true) if b == t1 => Some((a, t2))
            case (c, true) => c.foreach(out += _); Some((t1, t2))
            case (c, false) => c.foreach(out += _); None
          }
        }
        cur.foreach(out += _)
        out.filter(p => p._1 < p._2).map(p => (g, p._1, p._2))
      }.toSet
      assert(got == want, s"nMin=$nMin nMax=$nMax")
    }
  }

  test("subtract_intervals ≡ per-left-row sequential sweep oracle") {
    import graft.intervals.SubtractIntervals
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val lrows = (0 until 60).map { i =>
        val s = rnd.nextInt(40).toDouble
        (i.toLong, rnd.nextInt(3), s, s + rnd.nextInt(12))
      }
      val rrows = (0 until 80).map { _ =>
        val s = rnd.nextInt(45).toDouble
        (rnd.nextInt(3), s, s + rnd.nextInt(6))
      }
      val left = lrows.toDF("id", "g", "start", "stop")
      val right = rrows.toDF("g", "start", "stop")
      val got = SubtractIntervals(left, right, on = Seq("g"),
        leftIdCol = Some("id"))
        .select("id", "start", "stop").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet

      // oracle: per left row, walk the key's sorted non-empty rights and
      // carve [start, stop) sequentially
      val want = lrows.flatMap { case (id, g, ls, le) =>
        if (ls >= le) Nil
        else {
          val cover = rrows.filter(r => r._1 == g && r._2 < r._3)
            .map(r => (r._2, r._3)).sortBy(_._1)
          val segs = scala.collection.mutable.ListBuffer.empty[(Double, Double)]
          var cur = ls
          cover.foreach { case (rs, re) =>
            if (re > cur && rs < le) {
              if (rs > cur) segs += ((cur, math.min(rs, le)))
              cur = math.max(cur, math.min(re, le))
            }
          }
          if (cur < le) segs += ((cur, le))
          segs.filter(s => s._1 < s._2).map(s => (id, s._1, s._2))
        }
      }.toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("group_intervals ≡ union-find single-linkage partition") {
    // the connection relation the reference IMPLEMENTS is the signed gap
    // (later.start − earlier.stop): overlapping intervals connect even
    // under strict inequality (misc.py:245-252, `start < cummax + d`).
    // exclusive + d=0 with equal-start ties is order-dependent in the
    // reference (stable sort = input order) — not a contract to test.
    for (seed <- Seq(5, 6);
        (dist, inclusive) <- Seq((0.0, true), (1.0, true), (3.0, true),
          (0.5, false), (2.0, false))) {
      val ivs = genIntervals(seed, 60, 3, 5)
      val df = ivs.toDF("id", "g", "s", "e")
      val out = GroupIntervals(df, "s", Some("e"), groupBy = Seq("g"),
        distance = lit(dist), inclusive = inclusive)
        .select("id", "interval_group").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      // partition = set of clusters (as row-id sets)
      val gotPartition = out.groupBy(_._2).values
        .map(_.map(_._1).toSet).toSet

      // oracle: union-find over all connected pairs within a group
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = parent(find(a)) = find(b)
      for {
        a <- ivs; b <- ivs // ordered pairs: edge iff a starts no later
        if a._1 != b._1 && a._2 == b._2 && a._3 <= b._3
        gap = b._3 - a._4 // signed: negative for overlap/containment
        if (if (inclusive) gap <= dist else gap < dist)
      } union(a._1, b._1)
      val wantPartition = ivs.map(_._1).groupBy(find).values
        .map(_.toSet).toSet
      assert(gotPartition == wantPartition,
        s"seed=$seed dist=$dist inclusive=$inclusive")
    }
  }

  test("impute ≡ sequential per-group fill oracle (methods × limits)") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 240).map { i =>
      val v: java.lang.Double =
        if (rnd.nextInt(10) < 4) null else rnd.nextInt(50).toDouble
      (i.toLong, rnd.nextInt(4), v)
    }
    val df = rows.toDF("rid", "g", "v").repartition(5)

    // sequential oracle over one group's ordered values
    def fills(vs: Vector[Option[Double]], limit: Option[Int]):
        (Vector[Option[Double]], Vector[Option[Double]], Vector[Option[Double]]) = {
      val n = vs.length
      def donor(dir: Int): Vector[Option[(Int, Double)]] = {
        val idx = if (dir > 0) 0 until n else (n - 1) to 0 by -1
        var last: Option[(Int, Double)] = None
        val arr = new Array[Option[(Int, Double)]](n)
        for (i <- idx) {
          vs(i).foreach(v => last = Some((i, v)))
          arr(i) = last
        }
        arr.toVector
      }
      val prev = donor(+1)
      val next = donor(-1)
      def within(i: Int, d: Option[(Int, Double)]): Option[Double] =
        d.filter { case (j, _) => limit.forall(k => math.abs(i - j) <= k) }.map(_._2)
      val f = Vector.tabulate(n)(i => vs(i).orElse(within(i, prev(i))))
      val b = Vector.tabulate(n)(i => vs(i).orElse(within(i, next(i))))
      // linear: interior only, by position; limit fills the first k
      // positions of the gap, values as if fully interpolated
      val lin = Vector.tabulate(n) { i =>
        vs(i).orElse {
          (prev(i), next(i)) match {
            case (Some((j, a)), Some((k2, c))) if limit.forall(l => i - j <= l) =>
              Some(a + (c - a) * (i - j).toDouble / (k2 - j).toDouble)
            case _ => None
          }
        }
      }
      (f, b, lin)
    }

    for (limit <- Seq(None, Some(1), Some(2));
        method <- Seq("ffill", "bfill", "afill", "linear")) {
      val got = graft.windows.Impute(df, Seq("v"), method,
        groupBy = Seq("g"), orderBy = Seq(col("rid").asc), limit = limit)
        .select("rid", "v").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(_._1)
        val vs = sorted.map(r => Option(r._3).map(_.doubleValue)).toVector
        val (f, b, lin) = fills(vs, limit)
        val outs = method match {
          case "ffill"  => f
          case "bfill"  => b
          case "linear" => lin
          case "afill"  => Vector.tabulate(vs.length) { i =>
            (f(i), b(i)) match {
              case (Some(x), Some(y)) => Some((x + y) / 2)
              case (x, y)             => x.orElse(y)
            }
          }
        }
        sorted.map(_._1).zip(outs)
      }
      // 1e-9 tolerance: linear interpolation agrees up to float
      // association (a + (c-a)*t vs equivalent orderings)
      assert(got.keySet == want.keySet, s"method=$method limit=$limit")
      for ((k, w) <- want) {
        (got(k), w) match {
          case (None, None) => ()
          case (Some(x), Some(y)) =>
            assert(math.abs(x - y) < 1e-9, s"method=$method limit=$limit rid=$k")
          case other => fail(s"method=$method limit=$limit rid=$k: $other")
        }
      }
    }

    // lfill: linear, then ffill, then bfill over each result (with no
    // limit every null is filled)
    for (limit <- Seq(None, Some(1), Some(2))) {
      val lf = graft.windows.Impute(df, Seq("v"), "lfill",
        groupBy = Seq("g"), orderBy = Seq(col("rid").asc), limit = limit)
        .select("rid", "v").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      val wantLf = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(_._1)
        val vs = sorted.map(r => Option(r._3).map(_.doubleValue)).toVector
        val (_, _, lin) = fills(vs, limit)
        val afterLin = Vector.tabulate(vs.length)(i => vs(i).orElse(lin(i)))
        val (f1, _, _) = fills(afterLin, limit)
        val (_, b1, _) = fills(f1, limit)
        sorted.map(_._1).zip(b1)
      }
      assert(lf.keySet == wantLf.keySet)
      for ((k, w) <- wantLf) {
        (lf(k), w) match {
          case (None, None) => ()
          case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9, s"lfill limit=$limit rid=$k")
          case other => fail(s"lfill limit=$limit rid=$k: $other")
        }
      }
    }
  }

  /** The rows of `cols`, in a canonical order. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
    df.select(cols.map(col): _*).collect().map(_.toSeq.toList).toList.sortBy(_.mkString("|"))

  /** `run` without keys ≡ `run` grouped by one constant key, on `cols`;
    * returns the rows. */
  private def keylessAsGrouped(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      clue: String)(run: (org.apache.spark.sql.DataFrame, Seq[String]) =>
        org.apache.spark.sql.DataFrame): List[List[Any]] = {
    val want = rowsOf(run(df.withColumn("one", lit(1)), Seq("one")), cols)
    assert(rowsOf(run(df, Nil), cols) == want, clue)
    want
  }

  spreadTest("keyless impute (two-phase carry) ≡ grouped impute with a constant key") {
    // the keyless path range-partitions the global order and fixes up
    // cross-partition donors from a carry summary; the grouped path with
    // one constant key is the single-window oracle for the same semantics.
    // Two impute columns with independent null patterns exercise the
    // per-column carry; nulls clustered at the head/tail land whole gaps
    // across partition boundaries.
    val rnd = new scala.util.Random(41)
    val rows = (0 until 500).map { i =>
      val u: java.lang.Double =
        if (i < 15 || i > 485 || rnd.nextInt(10) < 5) null
        else rnd.nextInt(90).toDouble
      val v: java.lang.Double =
        if (rnd.nextInt(10) < 3) null else rnd.nextInt(50).toDouble
      (i.toLong, u, v)
    }
    val df = rows.toDF("rid", "u", "v").repartition(7)
    for (limit <- Seq(None, Some(2), Some(5));
         method <- Seq("ffill", "bfill", "afill", "linear", "lfill")) {
      val keyless = graft.windows.Impute(df, Seq("u", "v"), method,
        groupBy = Nil, orderBy = Seq(col("rid").asc), limit = limit)
        .select("rid", "u", "v").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      val oracle = graft.windows.Impute(df.withColumn("one", lit(1)),
        Seq("u", "v"), method,
        groupBy = Seq("one"), orderBy = Seq(col("rid").asc), limit = limit)
        .select("rid", "u", "v").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(keyless == oracle, s"method=$method limit=$limit")
    }
  }

  test("prev_next_values ≡ sequential lag/lead with fills and indicators") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 150).map { i =>
      (i.toLong, rnd.nextInt(5), rnd.nextInt(40), rnd.nextInt(100).toDouble)
    }
    val df = rows.toDF("rid", "g", "ord", "v").repartition(6)
    val got = graft.windows.PrevNextValues(
      df, sortBy = Seq("ord", "rid"), groupBy = Seq("g"),
      columns = Map("v" -> graft.windows.PrevNextSpec(
        prevName = Some("pv"), nextName = Some("nv"),
        prevFill = Some(lit(-1.0)), nextFill = None)),
      firstIndicatorName = Some("isf"), lastIndicatorName = Some("isl"))
      .select("rid", "pv", "nv", "isf", "isl").collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getBoolean(3), r.getBoolean(4)))).toMap
    for ((_, rs) <- rows.groupBy(_._2)) {
      val sorted = rs.sortBy(r => (r._3, r._1))
      for ((r, i) <- sorted.zipWithIndex) {
        val pv = if (i == 0) -1.0 else sorted(i - 1)._4
        val nv = if (i == sorted.length - 1) None else Some(sorted(i + 1)._4)
        assert(got(r._1) == ((pv, nv, i == 0, i == sorted.length - 1)),
          s"rid=${r._1}")
      }
    }
  }

  spreadTest("keyless prev_next_values (boundary carry) ≡ grouped with a constant key") {
    // the keyless path range-partitions on sortBy and stitches partition
    // heads/tails from a per-partition first/last-row summary; grouped
    // with one constant key is the single-window oracle. Data nulls in v
    // distinguish "carried value is null" (stays null) from "global
    // edge" (fill applies).
    val rnd = new scala.util.Random(47)
    val rows = (0 until 400).map { i =>
      val v: java.lang.Double =
        if (rnd.nextInt(10) < 3) null else rnd.nextInt(100).toDouble
      (i.toLong, rnd.nextInt(60), v)
    }
    val df = rows.toDF("rid", "ord", "v").repartition(6)
    val spec = Map("v" -> graft.windows.PrevNextSpec(
      prevName = Some("pv"), nextName = Some("nv"),
      prevFill = Some(lit(-1.0)), nextFill = None))
    def run(d: org.apache.spark.sql.DataFrame, g: Seq[String]) =
      graft.windows.PrevNextValues(d, sortBy = Seq("ord", "rid"),
        groupBy = g, columns = spec,
        firstIndicatorName = Some("isf"), lastIndicatorName = Some("isl"))
        .select("rid", "pv", "nv", "isf", "isl").collect()
        .map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), r.getBoolean(3), r.getBoolean(4))))
        .toMap
    val keyless = run(df, Nil)
    val oracle  = run(df.withColumn("one", lit(1)), Seq("one"))
    assert(keyless == oracle)
  }

  spreadTest("keyless group_intervals (max scan) ≡ grouped with a constant key") {
    // null starts sort last; ties on start fall to the tie-break columns,
    // else to the row id both paths number the same input with
    val rnd = new scala.util.Random(53)
    val df = (0 until 600).map { i =>
      val s = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(4000).toDouble)
      (i.toLong, rnd.nextInt(3), s, s.map(_ + rnd.nextInt(6)))
    }.toDF("id", "tb", "s", "e")
    for (inclusive <- Seq(true, false); tie <- Seq(Nil, Seq("tb", "id"))) {
      val got = keylessAsGrouped(df, Seq("id", "interval_group"),
          s"inclusive=$inclusive tie=$tie") { (d, g) =>
        GroupIntervals(d, "s", Some("e"), groupBy = g, distance = lit(1.0),
          inclusive = inclusive, tieBreakCols = tie)
      }
      assert(got.map(_(1)).distinct.size > 7, "too few clusters to cross partitions")
    }
  }

  spreadTest("keyless combine_intervals (depth and segment scans) ≡ grouped with a constant key") {
    val rnd = new scala.util.Random(59)
    val df = (0 until 500).map { i =>
      val s = rnd.nextInt(2000).toDouble
      (i.toLong, s, s + rnd.nextInt(12), rnd.nextInt(3))
    }.toDF("id", "s", "e", "a")
    for ((nMin, nMax, attrs) <- Seq((1, None, Nil), (0, Some(0), Nil), (2, None, Nil),
        (1, None, Seq("a")), (2, None, Seq("a")))) {
      val got = keylessAsGrouped(df, Seq("s", "e"), s"nMin=$nMin nMax=$nMax attrCols=$attrs") {
        (d, g) => CombineIntervals(d, "s", Some("e"), attrCols = attrs, groupBy = g,
          nMin = nMin, nMax = nMax)
      }
      assert(got.size > 7, s"nMin=$nMin nMax=$nMax attrCols=$attrs: ${got.size} intervals")
    }
  }

  spreadTest("keyless scans on empty, one-row and all-null inputs ≡ grouped with a constant key") {
    import graft.windows.{Impute, PrevNextSpec, PrevNextValues}
    val shapes = Seq[(String, Seq[(Long, Option[Double], Option[Double])])](
      "empty" -> Nil,
      "one row" -> Seq((1L, Some(2.0), Some(4.0))),
      "all null" -> (0 until 20).map(i => (i.toLong, None, None)))
    for ((shape, rows) <- shapes) {
      val df = rows.toDF("id", "s", "e")
      for ((method, limit) <- Seq(("ffill", Some(1)), ("bfill", None), ("afill", Some(1)),
          ("linear", None), ("lfill", Some(1))))
        keylessAsGrouped(df, Seq("id", "s", "e"), s"$shape impute $method") { (d, g) =>
          Impute(d, Seq("s", "e"), method, g, Seq(col("id")), limit)
        }
      keylessAsGrouped(df, Seq("id", "ps", "ns", "f", "l"), s"$shape prev_next") { (d, g) =>
        PrevNextValues(d, Seq("id"), g, Map("s" -> PrevNextSpec(Some("ps"), Some("ns"),
          Some(lit(-1.0)), Some(lit(-2.0)))), Some("f"), Some("l"))
      }
      keylessAsGrouped(df, Seq("id", "interval_group"), s"$shape group_intervals") { (d, g) =>
        GroupIntervals(d, "s", Some("e"), groupBy = g, distance = lit(1.0))
      }
      keylessAsGrouped(df, Seq("s", "e"), s"$shape combine_intervals") { (d, g) =>
        CombineIntervals(d, "s", Some("e"), groupBy = g)
      }
    }
  }

  test("grouped_mode ≡ counting oracle (dropna both ways)") {
    val rnd = new scala.util.Random(29)
    val rows = (0 until 200).map { i =>
      val v: java.lang.Integer =
        if (rnd.nextInt(5) == 0) null else Integer.valueOf(rnd.nextInt(6))
      (rnd.nextInt(8), v)
    }
    val df = rows.toDF("g", "v")
    for (dropna <- Seq(true, false)) {
      val got = graft.agg.GroupedMode(df, Seq("g"), "v", dropna = dropna)
        .collect().map(r => r.getInt(0) ->
          ((Option(r.get(1)), r.getLong(2)))).toMap
      for ((g, rs) <- rows.groupBy(_._1)) {
        val vals = rs.map(r => Option(r._2).map(_.intValue))
          .filter(v => !dropna || v.isDefined)
        val want =
          if (vals.isEmpty) (None, 0L)
          else {
            val counts = vals.groupBy(identity).view.mapValues(_.size)
            val maxC = counts.values.max
            // ties: smallest value wins, nulls last
            val best = counts.filter(_._2 == maxC).keys.toSeq
              .sortBy(v => (v.isEmpty, v.getOrElse(0))).head
            (best, maxC.toLong)
          }
        assert(got(g)._2 == want._2 &&
          got(g)._1.map(_.asInstanceOf[Int]) == want._1.map(identity),
          s"g=$g dropna=$dropna got=${got(g)} want=$want")
      }
    }
  }

  test("factorize invariants: bijection, dense codes, sort order, joint sharing") {
    val rnd = new scala.util.Random(37)
    val rows = (0 until 180).map(_ =>
      (s"k${rnd.nextInt(12)}", rnd.nextInt(4)))
    val df = rows.toDF("a", "b")
    val (coded, n) = graft.agg.Factorize.withCount(df, Seq("a", "b"))
    val pairs = coded.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
    // equal rows ⇔ equal codes (bijection on distinct keys)
    val byKey = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byKey.values.forall(_.size == 1))
    val keyToCode = byKey.mapValues(_.head).toMap
    assert(keyToCode.values.toSet.size == keyToCode.size)
    // dense 0..n-1, count matches distinct keys
    assert(n == keyToCode.size.toLong)
    assert(keyToCode.values.toSet == (0L until n).toSet)
    // sort=true: codes follow lexicographic key order
    val sortedKeys = keyToCode.keys.toSeq.sorted
    assert(sortedKeys.map(keyToCode) == (0L until n))

    // joint: equal rows across frames share codes
    val rows2 = (0 until 90).map(_ => (s"k${rnd.nextInt(16)}", rnd.nextInt(4)))
    val (c1, c2) = graft.agg.Factorize.joint(
      df, Seq("a", "b"), rows2.toDF("a", "b"), Seq("a", "b"))
    val m1 = c1.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val m2 = c2.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (k <- m1.keySet intersect m2.keySet) assert(m1(k) == m2(k), s"k=$k")
    assert((m1.values.toSet ++ m2.values.toSet) ==
      (0L until (m1.keySet ++ m2.keySet).size.toLong).toSet)
  }

  test("find_containing_interval ≡ per-point first/last loop") {
    val rnd = new scala.util.Random(13)
    val ivs = (0 until 40).map { i =>
      val s = rnd.nextInt(20).toDouble
      (i.toLong, rnd.nextInt(3), s, s + rnd.nextInt(6))
    }
    val pts = (0 until 80).map { i =>
      (i.toLong, rnd.nextInt(3), rnd.nextInt(28).toDouble - 1)
    }
    val out = FindContainingInterval(
      ivs.toDF("iid", "g", "s", "e"), pts.toDF("pid", "g", "p"),
      pointCols = Seq("p"), on = Seq("g"),
      startCol = Some("s"), stopCol = Some("e"),
      intervalIdCol = Some("iid"))
      .select("pid", "p_first", "p_last").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    for ((pid, g, p) <- pts) {
      val containing = ivs.filter(iv =>
        iv._2 == g && iv._3 <= p && p <= iv._4).map(_._1)
      val want =
        if (containing.isEmpty) (-1L, -1L)
        else (containing.min, containing.max)
      assert(out(pid) == want, s"pid=$pid p=$p g=$g")
    }
  }

  test("connected components ≡ union-find closure (random graphs)") {
    import graft.dedup.ConnectedComponents
    for (seed <- Seq(7, 8); (n, m) <- Seq((40, 20), (60, 90), (30, 1))) {
      val rnd = new scala.util.Random(seed)
      val edges = (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("a", "b")
      // both execution paths must agree with the oracle: the distributed
      // star rounds (localFinishEdges = 0) and the bounded local
      // union-find finish (the default, which these small graphs take)
      val gotStar = ConnectedComponents(df, "a", "b", localFinishEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotLocal = ConnectedComponents(df, "a", "b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges if a != b) parent(find(a)) = find(b)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).filter(x =>
        edges.exists(e => e._1 != e._2 && (e._1 == x || e._2 == x))).distinct
      // oracle comp = min node id of the union-find class
      val classMin = nodes.groupBy(find).map { case (_, xs) => find(xs.head) -> xs.min }
      val want = nodes.map(x => x -> classMin(find(x))).toMap
      assert(gotStar == want, s"star path: seed=$seed n=$n m=$m")
      assert(gotLocal == want, s"local path: seed=$seed n=$n m=$m")
    }
  }

  test("connected components: long chain converges (pointer jumping)") {
    import graft.dedup.ConnectedComponents
    // a 200-node path has diameter 199 — plain min-propagation would need
    // 199 rounds; with pointer jumping maxIter=30 must suffice.
    // localFinishEdges = 0 forces every round distributed — this test
    // exists to prove the star rounds themselves beat the diameter.
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = ConnectedComponents(chain.toDF("a", "b"), "a", "b",
      localFinishEdges = 0L).collect()
    assert(got.length == 200 && got.forall(_.getLong(1) == 0L))
  }

  test("histogram equalWidth ≡ sequential binning oracle (random shapes)") {
    import graft.agg.Histogram
    for (seed <- Seq(11, 12); bins <- Seq(1, 4, 7)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 120).map { _ =>
        (rnd.nextInt(4).toString, math.floor(rnd.nextDouble() * 50) / 2.0)
      } :+ (("c", 3.0)) :+ (("c", 3.0)) // a possibly-constant group
      val got = Histogram.equalWidth(rows.toDF("g", "v"), "v", Seq("g"), bins)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      val want = rows.groupBy(_._1).flatMap { case (g, vs) =>
        val (mn, mx) = (vs.map(_._2).min, vs.map(_._2).max)
        def bin(v: Double): Long =
          if (mx == mn) 0L
          else math.min(math.floor((v - mn) * bins / (mx - mn)).toLong, bins - 1L)
        vs.groupBy(v => bin(v._2)).map { case (b, bs) =>
          (g, b) -> ((bs.size.toLong, bs.map(_._2).min, bs.map(_._2).max))
        }
      }
      assert(got == want, s"seed=$seed bins=$bins")
    }
  }

  test("bm25 ≡ sequential scoring oracle (random corpora)") {
    import graft.text.Bm25
    val words = Vector("ant", "bee", "cat", "dog", "elk", "fox")
    for (seed <- Seq(13, 14)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0L until 30L).map { i =>
        (i, Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "))
      }
      val terms = Seq("ant", "cat", "elk")
      val got = Bm25(corpus.toDF("id", "text"), "id", "text",
        terms.toDF("term")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

      val toks = corpus.map { case (i, t) =>
        i -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val n = corpus.size
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      val want = (for {
        term <- terms
        (id, tk) <- toks
        tf = tk.count(_ == term) if tf > 0
      } yield {
        val df = toks.values.count(_.contains(term))
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        (term, id) -> idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * tk.size / avgdl))
      }).toMap
      assert(got.keySet == want.keySet, s"seed=$seed")
      want.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-9, s"seed=$seed key=$k") }
    }
  }

  test("duplicate clusters: transitive closure, singletons, canonical flags") {
    import graft.dedup.DuplicateClusters
    val docs = (0L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // chain 0~1~2 (no direct 0~2 edge) + pair 4~5; 3 and 6 untouched
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_l", "id_r")
    val out = DuplicateClusters(docs, "doc_id", pairs, "id_l", "id_r")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(0L) == ((0L, 3L, 1)) && out(1L) == ((0L, 3L, 0)) &&
      out(2L) == ((0L, 3L, 0)))
    assert(out(4L) == ((4L, 2L, 1)) && out(5L) == ((4L, 2L, 0)))
    assert(out(3L) == ((3L, 1L, 1)) && out(6L) == ((6L, 1L, 1)))
  }

  test("duplicate clusters: EMPTY pair set -> all singletons (no NPE)") {
    import graft.dedup.DuplicateClusters
    val docs = (0L to 3L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_l", "id_r")
    val out = DuplicateClusters(docs, "doc_id", noPairs, "id_l", "id_r")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical").collect()
    assert(out.length == 4)
    assert(out.forall(r => r.getLong(0) == r.getLong(1) &&
      r.getLong(2) == 1L && r.getInt(3) == 1))
  }

  test("rolling time windows ≡ per-row scan oracle (random ts incl. ties)") {
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      // coarse second grid in a small range forces plenty of exact ties
      val rows = (0 until 300).map { i =>
        (i.toLong, rnd.nextInt(4).toLong,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
            .getTime + rnd.nextInt(120) * 1000L,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble() * 10))
      }
      val df = rows.map { case (id, g, ms, v) =>
        (id, g, new java.sql.Timestamp(ms), v)
      }.toDF("id", "g", "ts", "v")
      val win = 30L * 1000000L // 30 s in micros
      val got = graft.windows.Rolling
        .timeWindow(df, Seq("g"), "ts", "v", win, Seq("count", "sum", "max"))
        .select("id", "roll_count", "roll_sum", "roll_max").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
      // oracle: literal definition — scan every same-group row
      rows.foreach { case (id, g, ms, _) =>
        val frame = rows.filter(o => o._2 == g &&
          o._3 <= ms && o._3 >= ms - 30000L).flatMap(_._4)
        val want = (frame.size.toLong,
          if (frame.isEmpty) None else Some(frame.sum),
          if (frame.isEmpty) None else Some(frame.max))
        val (gc, gs, gm) = got(id)
        assert(gc == want._1, s"seed=$seed id=$id count")
        assert(gm.map(_.asInstanceOf[Double]) == want._3, s"seed=$seed id=$id max")
        (gs, want._2) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a.asInstanceOf[Double] - b) < 1e-9, s"seed=$seed id=$id sum")
          case (a, b) => assert(a.isEmpty == b.isEmpty, s"seed=$seed id=$id sum-null")
        }
      }
    }
  }

  test("span dedup ≡ sequential first-occurrence oracle (random corpora)") {
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("p", "q", "r", "s")
      val n = 2 + rnd.nextInt(3) // window 2..4
      val docs = (0L until 70L).map { id =>
        id -> (0 until rnd.nextInt(12))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }

      // sequential oracle: enumerate windows in (doc, pos) order, count
      // occurrences per gram, mark every non-first occurrence's positions
      val occs = docs.flatMap { case (id, t) =>
        val tk = t.split("\\s+").filter(_.nonEmpty)
        if (tk.isEmpty) Nil
        else (0 to math.max(tk.length - n, 0)).map { p =>
          (tk.slice(p, p + n).mkString(" "), id, p, tk.length)
        }
      }
      val firstOf = occs.groupBy(_._1).map { case (g, os) =>
        g -> os.map(o => (o._2, o._3)).min
      }
      val counts = occs.groupBy(_._1).map { case (g, os) => g -> os.size }
      val removed = occs.collect {
        case (g, id, p, len) if counts(g) > 1 && firstOf(g) != ((id, p)) =>
          (id, p until math.min(p + n, len))
      }.groupBy(_._1).map { case (id, rs) => id -> rs.flatMap(_._2).toSet }

      val got = graft.text.SpanDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", n = n)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      docs.foreach { case (id, t) =>
        val tk = t.split("\\s+").filter(_.nonEmpty)
        val rm = removed.getOrElse(id, Set.empty)
        val keptToks = tk.zipWithIndex.collect {
          case (w, i) if !rm(i) => w
        }
        val want = (keptToks.mkString(" "), tk.length.toLong, rm.size.toLong)
        assert(got(id) == want, s"seed=$seed n=$n doc=$id text='$t'")
      }
    }
  }

  test("line dedup ≡ sequential frequency oracle (random corpora)") {
    for (seed <- Seq(7, 8)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "e", "")
      val docs = (0L until 80L).map { id =>
        id -> (0 until (1 + rnd.nextInt(6)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString("\n")
      }
      val minDocs = 2 + rnd.nextInt(3)
      val minChars = rnd.nextInt(2) + 1
      val got = graft.text.LineDedup(
        docs.toDF("doc_id", "text"), "doc_id", "text", "\n",
        minDocs = minDocs, minLineChars = minChars)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(r.fieldIndex("n_lines")),
            r.getLong(r.fieldIndex("n_removed"))))).toMap
      // oracle: count distinct docs per eligible line, filter, reassemble
      val df2 = docs.flatMap { case (id, t) =>
        t.split("\n", -1).filter(_.length >= minChars).map(l => (l, id))
      }.groupBy(_._1).collect {
        case (l, occ) if occ.map(_._2).distinct.size >= minDocs => l
      }.toSet
      docs.foreach { case (id, t) =>
        val want = if (t.isEmpty) (t, 0L, 0L) else {
          val lines = t.split("\n", -1)
          val keptLines = lines.filter(l => l.length < minChars || !df2(l))
          (keptLines.mkString("\n"), lines.length.toLong,
            (lines.length - keptLines.length).toLong)
        }
        assert(got(id) == want, s"seed=$seed doc=$id")
      }
    }
  }
}
