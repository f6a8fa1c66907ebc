package graft

import graft.resample.{MakeWindows, ResampleEav, ResampleInterval}
import graft.windows.Impute
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Specs for the resampling batch: resample_eav (all agg families),
  * resample_interval (fraction conventions, `resampling.py:541-568`),
  * make_windows, impute — hand-computed oracles in the style of the
  * reference's slow-oracle tests (`tests/util.py:13-269`).
  */
class ResampleSpecs extends SparkSuite {
  import spark.implicits._

  private def obs = Seq(
    // (entity, t, attr, value)
    (1L, 1.0, "a", 10.0), (1L, 2.0, "a", 20.0), (1L, 3.0, "a", 60.0),
    (1L, 2.5, "b", 5.0), (1L, 2.6, "b", 5.0), (1L, 2.7, "b", 7.0),
    (2L, 1.0, "a", 100.0),
    (2L, 5.0, "a", Double.NaN) // NaN value: NA for value aggs, counts for size
  ).toDF("e", "t", "attr", "v")

  private def wins = Seq(
    (1L, 0.0, 4.0),  // window 0: all of entity 1
    (1L, 2.0, 2.5),  // window 1: [2.0, 2.5) → only t=2.0 (include_stop=false)
    (2L, 0.0, 10.0), // window 2: both entity-2 rows
    (2L, 6.0, 9.0)   // window 3: empty
  ).toDF("e", "ws", "wt")

  test("resample_eav: standard aggs, NaN handling, empty-window defaults") {
    val out = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("mean", "sum", "count", "size", "min", "max", "p50"),
                "b" -> Seq("nunique", "count")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy("e", "ws").collect()

    // window 0: a = {10,20,60}, b = {5,5,7}
    val r0 = out(0)
    assert(r0.getAs[Double]("a_mean") == 30.0)
    assert(r0.getAs[Double]("a_sum") == 90.0)
    assert(r0.getAs[Long]("a_count") == 3L)
    assert(r0.getAs[Long]("a_size") == 3L)
    assert(r0.getAs[Double]("a_min") == 10.0)
    assert(r0.getAs[Double]("a_max") == 60.0)
    assert(r0.getAs[Double]("a_p50") == 20.0)
    assert(r0.getAs[Long]("b_nunique") == 2L)
    assert(r0.getAs[Long]("b_count") == 3L)
    // window 1: a = {20} only (stop excluded), b = {}
    val r1 = out(1)
    assert(r1.getAs[Double]("a_mean") == 20.0)
    assert(r1.getAs[Long]("b_count") == 0L)
    // window 2: a values {100, NaN}: count=1 (non-NA), size=2 (incl. NA)
    val r2 = out(2)
    assert(r2.getAs[Long]("a_count") == 1L)
    assert(r2.getAs[Long]("a_size") == 2L)
    assert(r2.getAs[Double]("a_sum") == 100.0)
    // window 3: empty → null value aggs, 0 count-likes
    val r3 = out(3)
    assert(r3.isNullAt(r3.fieldIndex("a_mean")))
    assert(r3.getAs[Long]("a_count") == 0L)
    assert(r3.getAs[Long]("a_size") == 0L)
  }

  test("resample_eav: std/var/sem/skew small-n guards and values") {
    val out = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("std", "var", "sem", "skew", "mad", "prod")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy("e", "ws").collect()

    val r0 = out(0) // {10,20,60}: mean 30
    assert(math.abs(r0.getAs[Double]("a_var") - 700.0) < 1e-9)
    assert(math.abs(r0.getAs[Double]("a_std") - math.sqrt(700.0)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("a_sem") - math.sqrt(700.0 / 3)) < 1e-9)
    // pandas skew of [10,20,60] = 1.457862967321305
    assert(math.abs(r0.getAs[Double]("a_skew") - 1.4578629673) < 1e-9)
    assert(math.abs(r0.getAs[Double]("a_mad") - (20.0 + 10 + 30) / 3) < 1e-9)
    assert(r0.getAs[Double]("a_prod") == 12000.0)
    val r1 = out(1) // single obs → null std/var/sem/skew
    assert(r1.isNullAt(r1.fieldIndex("a_std")))
    assert(r1.isNullAt(r1.fieldIndex("a_var")))
    assert(r1.isNullAt(r1.fieldIndex("a_sem")))
    assert(r1.isNullAt(r1.fieldIndex("a_skew")))
  }

  test("resample_eav: approx opt-in matches exact at small cardinality") {
    // approx_percentile (GK sketch) and approx_count_distinct (HLL) are
    // EXACT below their sketch resolution — at this size the opt-in must
    // reproduce the exact results while keeping sketch-mergeable partials
    val exact = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("p50", "count"), "b" -> Seq("nunique")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy("e", "ws").collect()
    val approx = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("p50", "count"), "b" -> Seq("nunique")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"),
      approx = true)
      .orderBy("e", "ws").collect()
    assert(exact.length == approx.length)
    for ((e, a) <- exact.zip(approx)) {
      assert(a.getAs[Long]("a_count") == e.getAs[Long]("a_count"))
      assert(a.getAs[Long]("b_nunique") == e.getAs[Long]("b_nunique"))
      // GK picks an observed value within the rank tolerance; with 3
      // points p50 is the middle observation in both modes
      if (!e.isNullAt(e.fieldIndex("a_p50")))
        assert(a.getAs[Double]("a_p50") == e.getAs[Double]("a_p50"))
      else assert(a.isNullAt(a.fieldIndex("a_p50")))
    }
  }

  test("resample_eav: optimize='time'/'memory' agree; junk spelling raises") {
    // reference parity (resampling.py:113-118): optimize sizes the
    // reference's hand-built batches; Spark sizes and spills its own, so
    // both spellings must yield identical results — and typos must not
    // silently pass
    def run(opt: String) = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("mean", "p50"), "b" -> Seq("nunique")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"),
      optimize = opt)
      .orderBy("e", "ws").collect().toSeq
    assert(run("time") == run("memory"))
    val e = intercept[IllegalArgumentException] { run("speed") }
    assert(e.getMessage.contains("optimize"))
  }

  test("resample_eav: rank aggs rXX/tXX incl. negative and out-of-range") {
    val out = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("r0", "r1", "r-1", "t0", "t-1", "r5")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy("e", "ws").collect()

    val r0 = out(0) // times 1,2,3 → values 10,20,60
    assert(r0.getAs[Double]("a_r0") == 10.0)
    assert(r0.getAs[Double]("a_r1") == 20.0)
    assert(r0.getAs[Double]("a_r-1") == 60.0)
    assert(r0.getAs[Double]("a_t0") == 1.0)
    assert(r0.getAs[Double]("a_t-1") == 3.0)
    assert(r0.isNullAt(r0.fieldIndex("a_r5"))) // out of range
    // window 2 (entity 2): ordered values 100, NaN→null at t=5
    val r2 = out(2)
    assert(r2.getAs[Double]("a_r0") == 100.0)
    assert(r2.getAs[Double]("a_t-1") == 5.0) // time of NA observation counts
    assert(r2.isNullAt(r2.fieldIndex("a_r-1"))) // its value is NA
  }

  test("resample_eav: mode ties break by value asc, mode_count") {
    val out = ResampleEav(
      obs, wins,
      agg = Map("b" -> Seq("mode", "mode_count")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy("e", "ws").collect()
    assert(out(0).getAs[Double]("b_mode") == 5.0)
    assert(out(0).getAs[Long]("b_mode_count") == 2L)
    assert(out(3).isNullAt(out(3).fieldIndex("b_mode")))
    assert(out(3).getAs[Long]("b_mode_count") == 0L)
  }

  test("resample_eav: half-unbounded windows (no start column)") {
    val w = Seq((1L, 2.5), (2L, 0.5)).toDF("e", "wt")
    val out = ResampleEav(
      obs, w,
      agg = Map("a" -> Seq("count", "sum")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStopCol = Some("wt"))
      .orderBy("e").collect()
    assert(out(0).getAs[Long]("a_count") == 2L)  // t=1,2 < 2.5
    assert(out(0).getAs[Double]("a_sum") == 30.0)
    assert(out(1).getAs[Long]("a_count") == 0L)  // entity 2 has nothing < 0.5
  }

  test("resample_eav: custom agg hook (expression + typed Aggregator udaf)") {
    import graft.resample.CustomAgg
    val ssq = udaf(CustomAgg.SumOfSquares)
    val out = ResampleEav(
      obs, wins,
      agg = Map("a" -> Seq("count")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"),
      attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"),
      customAgg = Map("a" -> Seq(
        "tmax" -> CustomAgg.timeOfMax,
        "ssq"  -> ((v, _) => ssq(v)))))
      .orderBy("e", "ws").collect()
    // window 0: values 10,20,60 at t=1,2,3 → argmax t=3, Σv²=4600
    assert(out(0).getAs[Double]("a_tmax") == 3.0)
    assert(out(0).getAs[Double]("a_ssq") == 100.0 + 400.0 + 3600.0)
    assert(out(0).getAs[Long]("a_count") == 3L)
  }

  test("resample_interval: fraction conventions (resampling.py:541-568)") {
    val inf = Double.PositiveInfinity
    val df = Seq(
      // (entity, start, stop, value)
      (1L, 0.0, 10.0, 100.0),   // half inside window [5,15] → 50
      (1L, 6.0, 8.0, 10.0),     // fully inside → 10
      (1L, 7.0, 7.0, 3.0),      // zero-length inside → 3
      (1L, 20.0, 20.0, 9.0),    // zero-length outside → no match
      (1L, -inf, 7.0, 4.0),     // infinite I, finite ∩ → ε·sign
      (2L, -inf, inf, 5.0)      // infinite I and ∩ → v
    ).toDF("e", "a", "b", "v")
    val w = Seq((1L, 5.0, 15.0), (2L, -inf, inf), (1L, 100.0, 200.0))
      .toDF("e", "ws", "wt")
    val out = ResampleInterval(
      df, w, valueCol = "v", entityCol = Some("e"),
      startCol = Some("a"), stopCol = Some("b"),
      attributes = Some(Seq("s")),
      wStartCol = Some("ws"), wStopCol = Some("wt"), epsilon = 1e-7)
      .orderBy("e", "ws").collect()
    assert(math.abs(out(0).getAs[Double]("s") - (50.0 + 10.0 + 3.0 + 1e-7)) < 1e-12)
    assert(out(1).getAs[Double]("s") == 0.0) // window overlapping nothing
    assert(out(2).getAs[Double]("s") == 5.0) // both infinite → fraction 1
  }

  test("resample_interval: NA and inverted intervals ignored, NA windows get 0") {
    val df = Seq(
      (1L, Some(5.0), Some(3.0), 7.0),  // inverted → dropped
      (1L, None, Some(4.0), 7.0),       // NA start → dropped
      (1L, Some(0.0), Some(2.0), 8.0)   // valid, inside
    ).toDF("e", "a", "b", "v")
    val w = Seq((1L, Some(0.0), Some(10.0)), (1L, None, Some(10.0)))
      .toDF("e", "ws", "wt")
    val out = ResampleInterval(
      df, w, valueCol = "v", entityCol = Some("e"),
      startCol = Some("a"), stopCol = Some("b"),
      attributes = Some(Seq("s")),
      wStartCol = Some("ws"), wStopCol = Some("wt"))
      .orderBy(col("ws").asc_nulls_last).collect()
    assert(out(0).getAs[Double]("s") == 8.0)
    assert(out(1).getAs[Double]("s") == 0.0) // invalid window
  }

  test("make_windows: invalid argument combinations raise (test_make_windows.py:101-176)") {
    val df = Seq((1L, 10.0, 20.0)).toDF("e", "start", "stop")
    // both start and start_rel given
    intercept[IllegalArgumentException] {
      MakeWindows(start = Some(col("start")), startRel = Some(lit(0.0)),
        anchor = Some(col("start")))
    }
    // both stop and stop_rel given
    intercept[IllegalArgumentException] {
      MakeWindows(stop = Some(col("stop")), stopRel = Some(lit(0.0)),
        anchor = Some(col("stop")))
    }
    // rel endpoint without an anchor
    intercept[IllegalArgumentException] {
      MakeWindows(startRel = Some(lit(-1.0)))
    }
    // no endpoints at all (anchor+duration alone cannot place a window)
    intercept[IllegalArgumentException] {
      MakeWindows(entity = Some(col("e")), anchor = Some(col("start")),
        duration = Some(lit(10.0)))(df)
    }
    // both endpoints AND a duration: over-specified
    intercept[IllegalArgumentException] {
      MakeWindows(start = Some(col("start")), stop = Some(col("stop")),
        duration = Some(lit(10.0)))(df)
    }
  }

  test("resample_eav flatMapWindows: multi-row multi-column custom shape") {
    // mirrors the reference's callable agg contract (resampling.py:257-273):
    // arbitrary declared output columns, here one row per attribute
    val wins = Seq((1L, 0.0, 5.0), (2L, 3.0, 5.0)).toDF("e", "ws", "wt")
    implicit val enc: org.apache.spark.sql.Encoder[(String, Long, Double, Double)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaDouble)
    val obsA = Seq(
      (1L, "hr", 1.0, 80.0), (1L, "hr", 2.0, 70.0), (1L, "bp", 3.0, 120.0),
      (1L, "hr", 9.0, 99.0), // outside the window
      (2L, "hr", 1.0, 60.0)).toDF("e", "attr", "t", "v")
    val out = ResampleEav.flatMapWindows[(String, Long, Double, Double)](
      obsA, wins, timeCol = "t", valueCol = "v",
      entityCol = Some("e"), attrCol = Some("attr"),
      wStartCol = Some("ws"), wStopCol = Some("wt")) { os =>
        os.groupBy(_.attr).toSeq.sortBy(_._1).map { case (a, g) =>
          (a, g.size.toLong, g.map(_.v).min, g.last.v)
        }
      }
      .orderBy("e", "_1").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    // window (1, [0,5)): bp → 1 row, hr → 2 rows (last by time = 70);
    // window (2, [3,5)): no obs → emits nothing
    assert(out.toSeq == Seq(
      (1L, "bp", 1L, 120.0, 120.0),
      (1L, "hr", 2L, 70.0, 70.0)))
  }

  test("resample_interval: unbounded attribute inference fails loudly") {
    // 10001 distinct attribute values exceed the inference cap — the
    // driver-side collect must refuse instead of pivoting 10001 columns
    val df = spark.range(10001).select(
      lit(1L).as("e"), col("id").cast("double").as("a"),
      (col("id") + 1).cast("double").as("b"), lit(1.0).as("v"),
      concat(lit("attr_"), col("id")).as("attr"))
    val w = Seq((1L, 0.0, 5.0)).toDF("e", "ws", "wt")
    val e = intercept[IllegalArgumentException] {
      ResampleInterval(
        df, w, valueCol = "v", entityCol = Some("e"),
        startCol = Some("a"), stopCol = Some("b"), attrCol = Some("attr"),
        wStartCol = Some("ws"), wStopCol = Some("wt"))
    }
    assert(e.getMessage.contains("attributes"))
  }

  test("resample_interval: attribute inference skips a null attribute") {
    val df = Seq[(Long, Double, Double, Double, String)](
      (1L, 0.0, 2.0, 8.0, "x"), (1L, 1.0, 3.0, 4.0, "y"),
      (1L, 0.0, 1.0, 5.0, null)).toDF("e", "a", "b", "v", "attr")
    val w = Seq((1L, 0.0, 10.0), (2L, 0.0, 10.0)).toDF("e", "ws", "wt")
    def run(attributes: Option[Seq[String]]) = ResampleInterval(
      df, w, valueCol = "v", entityCol = Some("e"),
      startCol = Some("a"), stopCol = Some("b"), attrCol = Some("attr"),
      attributes = attributes, wStartCol = Some("ws"), wStopCol = Some("wt"))
    val inferred = run(None)
    assert(inferred.columns.toSeq == Seq("e", "ws", "wt", "x", "y"))
    assert(inferred.orderBy("e").collect().toSeq ==
      run(Some(Seq("x", "y"))).orderBy("e").collect().toSeq)
  }

  test("make_windows: start+duration, anchor+rel, stop−duration") {
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("e", "x")
    val w1 = MakeWindows(entity = Some(col("e")), start = Some(col("x")),
      duration = Some(lit(5.0)))(df).orderBy("entity").collect()
    assert(w1(0) == Row(1L, 10.0, 15.0))
    val w2 = MakeWindows(entity = Some(col("e")),
      startRel = Some(lit(-2.0)), stopRel = Some(lit(3.0)),
      anchor = Some(col("x")))(df).orderBy("entity").collect()
    assert(w2(1) == Row(2L, 18.0, 23.0))
    val w3 = MakeWindows(stop = Some(col("x")),
      duration = Some(lit(4.0)))(df).orderBy("win_stop").collect()
    assert(w3(0) == Row(6.0, 10.0))
  }

  // ── impute ────────────────────────────────────────────────────────────

  private def imputeDf = Seq(
    (1L, 1, Some(1.0)), (1L, 2, None), (1L, 3, None), (1L, 4, None),
    (1L, 5, Some(5.0)), (1L, 6, None),
    (2L, 1, None), (2L, 2, Some(4.0)), (2L, 3, None)
  ).toDF("g", "t", "v")

  private def run(method: String, limit: Option[Int] = None): Seq[Option[Double]] =
    Impute(imputeDf, Seq("v"), method, groupBy = Seq("g"),
      orderBy = Seq(col("t")), limit = limit)
      .orderBy("g", "t").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq

  test("impute: ffill with and without limit") {
    assert(run("ffill") == Seq(Some(1.0), Some(1.0), Some(1.0), Some(1.0),
      Some(5.0), Some(5.0), None, Some(4.0), Some(4.0)))
    assert(run("ffill", Some(2)) == Seq(Some(1.0), Some(1.0), Some(1.0), None,
      Some(5.0), Some(5.0), None, Some(4.0), Some(4.0)))
  }

  test("impute: bfill with and without limit") {
    assert(run("bfill") == Seq(Some(1.0), Some(5.0), Some(5.0), Some(5.0),
      Some(5.0), None, Some(4.0), Some(4.0), None))
    assert(run("bfill", Some(1)) == Seq(Some(1.0), None, None, Some(5.0),
      Some(5.0), None, Some(4.0), Some(4.0), None))
  }

  test("impute: bfill limit measures distance to the NEAREST next donor") {
    // two donors after the gap: the limit must be judged against the
    // nearest one (rn 3), not the farthest (regression: the donor row
    // number was taken as max over the descending frame)
    val df = Seq(
      (1L, 1, None), (1L, 2, None), (1L, 3, Some(7.0)), (1L, 4, Some(8.0))
    ).toDF("g", "t", "v")
    val got = Impute(df, Seq("v"), "bfill", groupBy = Seq("g"),
      orderBy = Seq(col("t")), limit = Some(2))
      .orderBy("g", "t").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq
    assert(got == Seq(Some(7.0), Some(7.0), Some(7.0), Some(8.0)))
  }

  test("impute: linear interpolation interior-only, by position") {
    assert(run("linear") == Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0),
      Some(5.0), None, None, Some(4.0), None))
    // pandas forward limit: only first 2 rows of the gap filled
    assert(run("linear", Some(2)) == Seq(Some(1.0), Some(2.0), Some(3.0), None,
      Some(5.0), None, None, Some(4.0), None))
  }

  test("impute: afill = midpoint of ffill/bfill, edge fallbacks") {
    assert(run("afill") == Seq(Some(1.0), Some(3.0), Some(3.0), Some(3.0),
      Some(5.0), Some(5.0), Some(4.0), Some(4.0), Some(4.0)))
  }

  test("impute: lfill = linear then ffill then bfill") {
    assert(run("lfill") == Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0),
      Some(5.0), Some(5.0), Some(4.0), Some(4.0), Some(4.0)))
  }
}
