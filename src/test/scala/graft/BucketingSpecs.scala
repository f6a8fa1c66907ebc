package graft

import graft.core.IntervalSpec
import graft.joins.IntervalJoin
import org.apache.spark.sql.functions._

/** Bucketed co-located execution — the storage-layout half of the 100 TB
  * story (SCALING.md §Joins): when both sides of a repeated equi-key join
  * are written bucketed (and sorted) by the key, Spark reuses the on-disk
  * hash partitioning and the join runs with NO Exchange — the shuffle is
  * paid once at write time and amortized over every subsequent join,
  * which is exactly the posture for a reference table joined by every
  * pipeline run.
  */
class BucketingSpecs extends SparkSuite {
  import spark.implicits._

  test("bucketed-by-key interval join plans without a shuffle") {
    val rnd = new scala.util.Random(61)
    val l = (0 until 400).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, rnd.nextInt(40), s, s + rnd.nextDouble() * 5)
    }.toDF("lid", "g", "ls", "le")
    val r = (0 until 300).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, rnd.nextInt(40), s, s + rnd.nextDouble() * 9)
    }.toDF("rid", "g", "rs", "re")

    try {
      l.write.mode("overwrite").bucketBy(8, "g").sortBy("g")
        .saveAsTable("bk_left")
      r.write.mode("overwrite").bucketBy(8, "g").sortBy("g")
        .saveAsTable("bk_right")
      val lb = spark.table("bk_left")
      val rb = spark.table("bk_right")

      // nullSafeKeys=false: the <=> rewrite (coalesce/isnull hash keys)
      // makes the planner disable bucket co-location entirely
      val joined = IntervalJoin(
        lb, rb,
        leftSpec = IntervalSpec.closed("ls", "le"),
        rightSpec = IntervalSpec.closed("rs", "re"),
        on = Seq("g"), keepOrder = false, nullSafeKeys = false)

      // both scans carry the bucket layout → the join needs no Exchange;
      // disable auto-broadcast so a BHJ can't mask the co-location
      val plan = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        joined.queryExecution.executedPlan.toString
      }
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")

      // and it computes the same pairs as the unbucketed plan
      val got = joined.select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = IntervalJoin(
        l, r,
        leftSpec = IntervalSpec.closed("ls", "le"),
        rightSpec = IntervalSpec.closed("rs", "re"),
        on = Seq("g"), keepOrder = false)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }

  test("bucketed+sorted tables: sweep join needs no Exchange AND no Sort") {
    import graft.joins.SweepJoin
    val rnd = new scala.util.Random(62)
    val l = (0 until 400).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, rnd.nextInt(40), s, s + rnd.nextDouble() * 5)
    }.toDF("lid", "g", "ls", "le")
    val r = (0 until 300).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, rnd.nextInt(40), s, s + rnd.nextDouble() * 9)
    }.toDF("rid", "g", "rs", "re")
    try {
      // repartition by the bucket column with the bucket count BEFORE the
      // bucketed write: the writer's HashPartitioning then matches the
      // bucket hash, each bucket lands in ONE file, and the scan can
      // report the per-file sort order — multiple files per bucket make
      // Spark drop outputOrdering and the Sort reappears
      graft.sources.Layout.writeBucketed(l, "bk_sw_l", 8, "g", Seq("ls"))
      graft.sources.Layout.writeBucketed(r, "bk_sw_r", 8, "g", Seq("rs"))
      // since Spark 3.0 the bucketed scan reports its per-file sort
      // order only under this opt-in conf (SPARK-28595: with >1 file
      // per bucket the order claim would be wrong; our aligned
      // repartition guarantees one file per bucket, making it sound)
      val (joined, plan) = withConf(
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val j = SweepJoin(
          spark.table("bk_sw_l"), spark.table("bk_sw_r"),
          Seq("g"), Seq("g"),
          IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
        (j, j.queryExecution.executedPlan.toString)
      }
      assert(plan.contains("IntervalSweepJoin"), plan)
      // the on-disk layout satisfies BOTH physical requirements: the
      // bucket hash is the required clustering, the per-bucket sort is
      // the required ordering — the join reads the files and sweeps,
      // zero shuffle, zero sort. At 100 TB this is the amortized
      // posture: pay the layout once at write time, every subsequent
      // interval join of the reference table is scan + sweep.
      assert(!plan.contains("Exchange"), s"bucketed sweep shuffled:\n$plan")
      assert(!plan.contains("+- Sort"), s"bucketed sweep re-sorted:\n$plan")
      val got = joined.select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = SweepJoin(l, r, Seq("g"), Seq("g"),
        IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_sw_l")
      spark.sql("DROP TABLE IF EXISTS bk_sw_r")
    }
  }

  // ── z-order layout ────────────────────────────────────────────────────

  test("layout compact: rewrites only over-fragmented partitions, " +
      "rows and sort order survive, untouched files stay") {
    import graft.sources.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
    val path = dir.resolve("idx").toString
    try {
      // base: cells 0..3; cell 0 and 1 then take three appends each,
      // cell 2 one append, cell 3 none
      def rows(tag: Int, cells: Seq[Int]) =
        cells.flatMap(c => (0 until 5).map(i =>
          (tag * 1000L + c * 100 + i, c, s"v$tag-$c-$i")))
          .toDF("id", "cell", "payload")
      Layout.writePartitioned(rows(0, Seq(0, 1, 2, 3)), path,
        partitionBy = Seq("cell"), sortBy = Seq("id"))
      Layout.appendPartitioned(rows(1, Seq(0, 1, 2)), path,
        partitionBy = Seq("cell"), sortBy = Seq("id"))
      Layout.appendPartitioned(rows(2, Seq(0, 1)), path,
        partitionBy = Seq("cell"), sortBy = Seq("id"))
      Layout.appendPartitioned(rows(3, Seq(0, 1)), path,
        partitionBy = Seq("cell"), sortBy = Seq("id"))
      val before = Layout.read(spark, path).collect()
        .map(_.toSeq.map(String.valueOf)).toSet
      def files(cell: Int): Seq[java.io.File] =
        new java.io.File(s"$path/cell=$cell").listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
      assert(files(0).size == 4 && files(1).size == 4)
      assert(files(2).size == 2 && files(3).size == 1)
      val untouched3 = files(3).map(f => (f.getName, f.lastModified)).toSet
      val untouched2 = files(2).map(f => (f.getName, f.lastModified)).toSet
      // threshold 2: cells 0 and 1 (4 files) compact; cell 2 (2 files)
      // and cell 3 (1 file) stay byte-for-byte
      def overwriteMode =
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").toLowerCase
      assert(overwriteMode == "static")
      val compacted = Layout.compact(spark, path,
        partitionBy = Seq("cell"), sortBy = Seq("id"), maxFragments = 2)
      // dynamic overwrite is the write's own option: the session conf,
      // which other queries of the session read, is never touched
      assert(overwriteMode == "static")
      assert(compacted.toSet == Set("cell=0", "cell=1"), compacted.toString)
      assert(files(0).size == 1 && files(1).size == 1)
      assert(files(2).map(f => (f.getName, f.lastModified)).toSet == untouched2)
      assert(files(3).map(f => (f.getName, f.lastModified)).toSet == untouched3)
      val after = Layout.read(spark, path).collect()
        .map(_.toSeq.map(String.valueOf)).toSet
      assert(after == before, "compaction changed the row set")
      // idempotent: nothing left over the threshold
      assert(Layout.compact(spark, path, Seq("cell"), Seq("id"), 2).isEmpty)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(dir)
    }
  }

  test("zorder: interleave bit positions match the reference math") {
    import graft.sources.ZOrder
    // codes (0b101, 0b011), 3 bits: c0 bits land at 0,2,4; c1 at 1,3,5
    // → positions {0, 1, 3, 4} set → 1 + 2 + 8 + 16 = 27
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.interleave(Seq(col("a"), col("b")), 3).as("z"))
      .collect().head.getLong(0)
    assert(z == 27L)
    // single dim = identity on the masked bits
    val z1 = Seq(Tuple1(13L)).toDF("a")
      .select(ZOrder.interleave(Seq(col("a")), 4).as("z"))
      .collect().head.getLong(0)
    assert(z1 == 13L)
    intercept[IllegalArgumentException](
      ZOrder.interleave(Seq(col("a"), col("b")), 32)) // 64 bits > 63
  }

  test("zorder: normalization is monotone; constant dims code to zero") {
    import graft.sources.ZOrder
    val df = Seq((0L, 7L), (100L, 7L), (550L, 7L), (1000L, 7L))
      .toDF("v", "k")
    val out = ZOrder.withZValue(df, Seq("v", "k"), bits = 8)
      .orderBy("v").select("z").collect().map(_.getLong(0)).toSeq
    // constant k codes to 0 ⇒ z is the spread-out v code alone; order
    // preserved and distinct endpoints distinct
    assert(out == out.sorted && out.head < out.last)
  }

  test("zorder write: per-file ranges tighten on BOTH dimensions") {
    import graft.sources.ZOrder
    val rnd = new scala.util.Random(3)
    val df = (0 until 4096).map { _ =>
      (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong) }
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString
    ZOrder.write(df, dir, Seq("x", "y"), bits = 10, numFiles = 16)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .agg(avg("sx").as("ax"), avg("sy").as("ay"))
      .collect().head
    // a z-layout over 16 files splits the square into ~16 tiles: both
    // dims' average per-file span must be well under the global ~1024
    // (a single-column sort would leave the other dim at full span)
    assert(perFile.getDouble(0) < 700.0, perFile.toString)
    assert(perFile.getDouble(1) < 700.0, perFile.toString)
  }
}
