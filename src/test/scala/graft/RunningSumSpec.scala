package graft

import graft.agg.Factorize
import graft.core.PartitionSeries
import graft.intervals.GroupIntervals
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunningScan

/** The running sum of [[RunningScan]] (`RunningScan.prefixSum`, behind
  * GroupIntervals, Factorize, PartitionSeries and Packing), checked
  * against its definition: `sum(v) OVER (ORDER BY keys ROWS UNBOUNDED
  * PRECEDING)`, a window that runs every row through one partition.
  */
class RunningSumSpec extends SparkSuite {
  import spark.implicits._

  /** key -> (got, want) for every row; keys are unique per row. */
  private def compare(df: DataFrame, order: Seq[Column],
      value: Column = col("v")): Seq[(Any, Any, Any)] = {
    val got = RunningScan.prefixSum(df, order, value, "cum")
      .select("k", "cum").collect().map(r => r.get(0) -> r.get(1)).toMap
    val want = df.withColumn("want", sum(value).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "want").collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(got.keySet == want.keySet)
    want.keys.toSeq.map(k => (k, got(k), want(k)))
  }

  private def assertExact(df: DataFrame, order: Seq[Column], clue: String): Unit =
    for ((k, g, w) <- compare(df, order)) assert(g == w, s"$clue key=$k")

  /** n rows with unique keys from `key` (index 0 is the null key) and
    * values that are null about one time in four, in `parts` partitions. */
  private def frame[K](seed: Int, n: Int, parts: Int)(key: Int => K)
      (implicit enc: org.apache.spark.sql.Encoder[(K, Option[Long])]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val keys = rnd.shuffle((0 until n).toList)
    keys.map(i => (key(i), if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(100) - 30L)))
      .toDF("k", "v").repartition(parts)
  }

  private val orders: Seq[Column => Column] =
    Seq(c => c, _.asc_nulls_last, _.desc_nulls_first, _.desc_nulls_last)

  spreadTest("PrefixSum ≡ single-partition window: int, long and string keys with a null key, null values") {
    for (seed <- 1 to 3; o <- orders) {
      assertExact(frame(seed, 300, 7)(i =>
        if (i == 0) None else Some(i * 7919 % 100003)), Seq(o(col("k"))), s"int seed=$seed")
      assertExact(frame(seed, 300, 5)(i =>
        if (i == 0) None else Some(i.toLong << 40)), Seq(o(col("k"))), s"long seed=$seed")
      assertExact(frame(seed, 300, 3)(i =>
        if (i == 0) null else f"s${i * 31 % 997}%04d-$i"), Seq(o(col("k"))), s"string seed=$seed")
    }
  }

  spreadTest("PrefixSum: a partition of leading null values still carries the earlier sum") {
    // every value in the upper key range is null: those rows take the
    // sum of the lower range, whichever partition they land in
    val df = (0 until 400).map(i => (i, if (i >= 200) None else Some(1L)))
      .toDF("k", "v").repartition(8)
    assertExact(df, Seq(col("k")), "null tail")
    val got = RunningScan.prefixSum(df, Seq(col("k")), col("v"), "cum")
      .filter(col("k") >= 200).select("cum").distinct().as[Long].collect()
    assert(got.toSeq == Seq(200L))
    // and all-null values sum to null everywhere
    val allNull = df.withColumn("v", lit(null).cast("long"))
    assertExact(allNull, Seq(col("k")), "all null")
  }

  test("PrefixSum edge shapes: empty input, one row, more shuffle partitions than rows") {
    val empty = Seq.empty[(Int, Long)].toDF("k", "v")
    assert(RunningScan.prefixSum(empty, Seq(col("k")), col("v"), "cum").count() == 0)
    assertExact(Seq((7, 3L)).toDF("k", "v"), Seq(col("k")), "one row")
    withConf("spark.sql.shuffle.partitions" -> "64",
        "spark.sql.adaptive.enabled" -> "false") {
      assertExact(frame(4, 5, 5)(i => i), Seq(col("k")), "64 partitions, 5 rows")
      assertExact(frame(5, 1, 1)(i => i), Seq(col("k")), "64 partitions, 1 row")
    }
  }

  test("PrefixSum over a frame whose range partitions AQE coalesces") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    withConf("spark.sql.shuffle.partitions" -> "40",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k") {
      val df = frame(6, 2000, 6)(i => if (i == 0) None else Some(i))
      assertExact(df, Seq(col("k")), "coalesced")
      val out = RunningScan.prefixSum(df, Seq(col("k")), col("v"), "cum")
      out.collect()
      val reads = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.collect {
          case r: AQEShuffleReadExec if r.isCoalescedRead => r
        }
        case p => fail(s"not adaptive: $p")
      }
      assert(reads.nonEmpty, "AQE did not coalesce the range partitions")
      assert(reads.forall(r => r.partitionSpecs.size > 1 && r.partitionSpecs.size < 40))
    }
  }

  spreadTest("PrefixSum: double values to rounding, decimal values exactly") {
    val rnd = new scala.util.Random(8)
    val rows = rnd.shuffle((1 to 500).toList).map(k =>
      (k, if (k % 9 == 0) None else Some(rnd.nextDouble() * 100 - 40)))
    val df = rows.toDF("k", "v").repartition(6)
    for ((k, g, w) <- compare(df, Seq(col("k")))) {
      val (gd, wd) = (g.asInstanceOf[Double], w.asInstanceOf[Double])
      assert(math.abs(gd - wd) <= 1e-9 * math.max(1.0, math.abs(wd)), s"key=$k $gd vs $wd")
    }
    val dec = df.withColumn("v", col("v").cast("decimal(12,4)"))
    assertExact(dec, Seq(col("k")), "decimal")
    assert(RunningScan.prefixSum(dec, Seq(col("k")), col("v"), "cum")
      .schema("cum").dataType == org.apache.spark.sql.types.DecimalType(22, 4))
  }

  test("PrefixSum: running sum ≡ sequential scan on random keys") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 500).map(i => (rnd.nextInt(1000000), i.toLong % 7 + 1))
      .distinctBy(_._1) // unique keys required by the contract
    val df = rows.toDF("k", "n").repartition(13)
    val got = RunningScan.prefixSum(df, Seq(col("k")), col("n"), "cum")
      .orderBy("k").collect().map(r => r.getInt(0) -> r.getLong(2))
    val want = rows.sortBy(_._1)
      .scanLeft((0, 0L)) { case ((_, acc), (k, n)) => (k, acc + n) }.drop(1)
    assert(got.toSeq == want.map { case (k, c) => k -> c })
  }

  test("partition_series: greedy packing under budget, oversized groups isolated") {
    val df = (Seq.fill(5)(1) ++ Seq.fill(3)(2) ++ Seq.fill(12)(3) ++ Seq.fill(4)(4))
      .map(g => (g, 0)).toDF("g", "x")
    val out = PartitionSeries(df, Seq("g"), budget = 8)
      .orderBy("g").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // cum capped: 5, 8, 16, 20 → pids 0, 0, 1, 2
    assert(out == Map(1 -> 0L, 2 -> 0L, 3 -> 1L, 4 -> 2L))
  }

  spreadTest("group_intervals with null group keys ≡ one global window") {
    // the algorithm as windows, the last over one partition: a null group
    // key gives a null id, and its clusters take up ids between the keys
    // sorted before and after it
    for (seed <- 1 to 3; (dist, inclusive) <- Seq((0.0, true), (2.0, false))) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 200).map { i =>
        val s = rnd.nextInt(40).toDouble
        (i.toLong, if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4)),
          if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(2).toString),
          s, s + rnd.nextInt(5))
      }
      val df = rows.toDF("id", "g", "h", "s", "e").repartition(5)
      val got = GroupIntervals(df, "s", Some("e"), groupBy = Seq("g", "h"),
          distance = lit(dist), inclusive = inclusive, tieBreakCols = Seq("id"))
        .select("id", "interval_group").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val ord = Seq(col("s").asc_nulls_last, col("id").asc_nulls_last)
      val cm = max(col("e")).over(Window.partitionBy("g", "h").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, -1))
      val connected = if (inclusive) col("s") <= cm + dist else col("s") < cm + dist
      val want = df.withColumn("new", when(cm.isNull || !connected, 1L).otherwise(0L))
        .withColumn("gid", sum(col("new")).over(Window.orderBy(
          (Seq(col("g").asc_nulls_last, col("h").asc_nulls_last) ++ ord): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
        .withColumn("gid", when(col("g").isNotNull && col("h").isNotNull, col("gid")))
        .select("id", "gid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(got == want, s"seed=$seed dist=$dist inclusive=$inclusive")
      assert(got.values.exists(_.isEmpty) && got.values.exists(_.isDefined))
    }
  }

  spreadTest("factorize with null keys: sort = true and false, one frame and joint") {
    val rnd = new scala.util.Random(11)
    def keys(n: Int) = (0 until n).map { i =>
      (i.toLong, if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(5)),
        if (rnd.nextInt(4) == 0) null else ('a' + rnd.nextInt(3)).toChar.toString)
    }
    val (rows1, rows2) = (keys(120), keys(80))
    // local frames: row order (and so first appearance) is the list order
    val (df1, df2) = (rows1.toDF("id", "a", "b"), rows2.toDF("id", "a", "b"))
    def key(r: (Long, Option[Int], String)) = (r._2, Option(r._3))
    val all = (rows1 ++ rows2).map(key)
    // nulls last in each key column
    def sortedCodes(ks: Seq[(Option[Int], Option[String])]) = {
      val asc = ks.distinct.sortBy { case (a, b) =>
        ((a.isEmpty, a.getOrElse(0)), (b.isEmpty, b.getOrElse(""))) }
      asc.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    }
    def firstCodes(ks: Seq[(Option[Int], Option[String])]) =
      ks.distinct.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    def codes(df: DataFrame) = df.select("id", "code").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (sort <- Seq(true, false)) {
      val want1 = (if (sort) sortedCodes _ else firstCodes _)(rows1.map(key))
      assert(codes(Factorize(df1, Seq("a", "b"), sort = sort)) ==
        rows1.map(r => r._1 -> want1(key(r))).toMap, s"sort=$sort")
      val wantJ = (if (sort) sortedCodes _ else firstCodes _)(all)
      val (j1, j2) = Factorize.joint(df1, Seq("a", "b"), df2, Seq("a", "b"), sort = sort)
      assert(codes(j1) == rows1.map(r => r._1 -> wantJ(key(r))).toMap, s"joint 1 sort=$sort")
      assert(codes(j2) == rows2.map(r => r._1 -> wantJ(key(r))).toMap, s"joint 2 sort=$sort")
    }
  }
}
