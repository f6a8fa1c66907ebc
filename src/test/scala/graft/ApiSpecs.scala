package graft

import graft.core.IntervalSpec
import graft.resample.ResampleEav
import org.apache.spark.sql.functions._

/** Facade smoke + error-path tests (reference error suite:
  * `tests/test_merge_intervals.py:451-529`, `tests/test_make_windows.py:101-176`)
  * and resample_eav window-closedness variants.
  */
class ApiSpecs extends SparkSuite {
  import spark.implicits._

  private def l = Seq((1L, 0.0, 2.0)).toDF("lid", "a", "b")
  private def r = Seq((2L, 1.0, 3.0)).toDF("rid", "c", "d")

  test("Ops facade smoke: mergeIntervals, groupedMode, factorize") {
    val j = Ops.mergeIntervals(l, r,
      IntervalSpec.closed("a", "b"), IntervalSpec.closed("c", "d"),
      keepOrder = false)
    assert(j.count() == 1)
    val m = Ops.groupedMode(Seq((1L, "x"), (1L, "x"), (1L, "y")).toDF("g", "v"),
      Seq("g"), "v")
    assert(m.collect()(0).getAs[String]("mode") == "x")
    val f = Ops.factorize(Seq(("b"), ("a"), ("b")).toDF("v"), Seq("v"))
    assert(f.filter(col("v") === "a").collect()(0).getAs[Long]("code") == 0L)
  }

  test("error paths: invalid how/keep/which/method reject") {
    intercept[IllegalArgumentException] {
      Ops.mergeIntervals(l, r, IntervalSpec.closed("a", "b"),
        IntervalSpec.closed("c", "d"), how = "sideways")
    }
    intercept[IllegalArgumentException] {
      Ops.mergeIntervals(l, r, IntervalSpec.closed("a", "b"),
        IntervalSpec.closed("c", "d"), keep = "some")
    }
    intercept[IllegalArgumentException] {
      Ops.findContainingInterval(l, r, Seq("c"), which = "middle",
        startCol = Some("a"), stopCol = Some("b"))
    }
    intercept[IllegalArgumentException] {
      Ops.impute(l.toDF(), Seq("a"), method = "zfill", orderBy = Seq(col("b")))
    }
    intercept[IllegalArgumentException] {
      Ops.resampleEav(l, r, agg = Map.empty, timeCol = "a", valueCol = "b")
    }
    // no columns to merge on at all (merging.py analog)
    intercept[IllegalArgumentException] {
      Ops.mergeIntervals(
        l, r,
        IntervalSpec(None, None), IntervalSpec(None, None))
    }
    // make_windows: no endpoint derivable
    intercept[IllegalArgumentException] {
      Ops.makeWindows(entity = Some(col("lid")))(l)
    }
    intercept[IllegalArgumentException] {
      Ops.makeWindows(startRel = Some(lit(1.0)))(l) // rel without anchor
    }
  }

  test("resample_eav include_start/include_stop variants") {
    val obs = Seq((1L, 0.0, "x", 1.0), (1L, 5.0, "x", 2.0))
      .toDF("e", "t", "attr", "v")
    val wins = Seq((1L, 0.0, 5.0)).toDF("e", "ws", "wt")
    def cnt(incStart: Boolean, incStop: Boolean): Long =
      ResampleEav(obs, wins, Map("x" -> Seq("count")),
        timeCol = "t", valueCol = "v", entityCol = Some("e"),
        attrCol = Some("attr"), wStartCol = Some("ws"), wStopCol = Some("wt"),
        includeStart = incStart, includeStop = incStop)
        .collect()(0).getAs[Long]("x_count")
    assert(cnt(true, false) == 1L)   // default: [0,5) → t=0 only
    assert(cnt(true, true) == 2L)    // [0,5]
    assert(cnt(false, true) == 1L)   // (0,5] → t=5 only
    assert(cnt(false, false) == 0L)  // (0,5)
  }

  test("listener drain: a bus that does not empty in time only warns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(500)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      spark.range(1).count()
      // returns instead of throwing TimeoutException
      org.apache.spark.sql.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext, 1)
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}
