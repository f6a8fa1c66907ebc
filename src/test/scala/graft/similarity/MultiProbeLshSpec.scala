package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Multi-probe LSH search: probes must extend the plain bucket lookup
  * monotonically (recall never drops as probes are added), full probing
  * must recover the exact brute-force answer, and the headline trade —
  * ONE table plus margin-directed probes matching MORE tables with
  * none — must hold on a fixture corpus.
  */
class MultiProbeLshSpec extends SparkSuite {
  import spark.implicits._

  // 6 direction clusters in 16-d, 40 vectors each, deterministic jitter
  private def corpus = {
    (0 until 240).map { i =>
      val c = i % 6
      val v = (0 until 16).map { d =>
        val base = if (d == c) 1.0 else if (d == c + 6) 0.5 else 0.0
        base + ((i * 31 + d * 17) % 23 - 11) / 150.0
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def queries = corpus.filter(col("vec_id") < 12)

  private def recallVsExact(found: org.apache.spark.sql.DataFrame): Double = {
    val exact = CosineTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val possible = exact.count()
    val hits = found.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / possible
  }

  test("recall grows monotonically with probes; full probing = near-exact") {
    val recalls = Seq(0, 2, 4, 8).map { mp =>
      mp -> recallVsExact(LshAnn.search(corpus, queries, "vec_id", "embedding",
        k = 5, numBits = 8, numTables = 1, multiProbe = mp))
    }
    val rs = recalls.map(_._2)
    assert(rs == rs.sorted, s"recall must be monotone in probes: $recalls")
    assert(rs.last > rs.head, s"probes must add recall on this fixture: $recalls")
    // probing every single-bit flip of an 8-bit table covers all buckets
    // within Hamming 1 — on clustered data that is near-exhaustive
    assert(rs.last >= 0.9, s"full single-bit probing too weak: $recalls")
  }

  test("one table + probes >= four tables + none (the index-size trade)") {
    val multiProbe1T = recallVsExact(LshAnn.search(corpus, queries,
      "vec_id", "embedding", k = 5, numBits = 8, numTables = 1, multiProbe = 4))
    val plain4T = recallVsExact(LshAnn.search(corpus, queries,
      "vec_id", "embedding", k = 5, numBits = 8, numTables = 4, multiProbe = 0))
    assert(multiProbe1T >= plain4T,
      s"1 table + 4 probes ($multiProbe1T) should match 4 tables + 0 ($plain4T)")
  }

  test("output contract: ranks dense from 1, ties by neighbor id, no self") {
    val out = LshAnn.search(corpus, queries, "vec_id", "embedding",
      k = 3, numBits = 6, numTables = 2, multiProbe = 2).cache()
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    val badRank = out.groupBy("query_id")
      .agg(max(col("rank")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(badRank == 0, "rank must be dense 1..n per query")
    // deterministic under repartitioning
    val again = LshAnn.search(corpus.repartition(7), queries, "vec_id",
      "embedding", k = 3, numBits = 6, numTables = 2, multiProbe = 2)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    // the shuffled-query path (large query batches) is row-identical
    val shuffled = LshAnn.search(corpus, queries, "vec_id", "embedding",
      k = 3, numBits = 6, numTables = 2, multiProbe = 2,
      broadcastQueries = false)
    assert(out.exceptAll(shuffled).count() == 0 &&
      shuffled.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("persisted signature index: pruned search ≡ in-memory search") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx").toString + "/idx"
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = 6, numTables = 2)
    val fromIndex = LshAnn.searchIndex(spark, path, queries, "vec_id",
      "embedding", k = 3, numBits = 6, numTables = 2, multiProbe = 2)
    val inMemory = LshAnn.search(corpus, queries, "vec_id", "embedding",
      k = 3, numBits = 6, numTables = 2, multiProbe = 2)
    assert(fromIndex.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(fromIndex).count() == 0)
    // the scan carries a non-empty partition predicate: only probed
    // (tbl, sig) directories are listed, not the whole index
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
        .trim.nonEmpty,
      s"expected a partition predicate on the index scan:\n$plan")
  }

  test("persisted index at probe order 2: pruned listing equals the " +
      "probed bucket set at a 20+-bucket width") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx_mp2").toString + "/idx"
    // 10 signature bits and THREE queries at an 8-probe order-2
    // budget: the pushed literal probe set is wide (3 x 9 >= 20
    // buckets) while the clustered corpus occupies buckets the probes
    // do NOT all cover -- so the pin can check both the exact pruned
    // count and that pruning actually happened
    val q3 = corpus.filter(col("vec_id") < 3)
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = 10, numTables = 1)
    val fromIndex = LshAnn.searchIndex(spark, path, q3, "vec_id",
      "embedding", k = 5, numBits = 10, numTables = 1, multiProbe = 8,
      probeOrder = 2)
    val inMemory = LshAnn.search(corpus, q3, "vec_id", "embedding",
      k = 5, numBits = 10, numTables = 1, multiProbe = 8, probeOrder = 2)
    assert(fromIndex.exceptAll(inMemory).count() == 0 &&
      inMemory.exceptAll(fromIndex).count() == 0)
    // the probe set this search pushes as a literal partition predicate
    val dim = 16
    val probed = LshAnn.probeFrame(q3, "vec_id", "embedding",
        numBits = 10, numTables = 1, multiProbe = 8, dim = dim,
        probeOrder = 2)
      .select(col("tbl"), col("sig")).distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(probed.size >= 20, s"probe set too narrow: ${probed.size}")
    // buckets that actually exist on disk (a probed-but-empty signature
    // has no directory to open)
    val existing = LshAnn.signatures(col("embedding"), 10, 1, dim)
    val corpusBuckets = corpus
      .select(posexplode(existing)).select(col("pos"), col("col"))
      .distinct().collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val expectDirs = probed.intersect(corpusBuckets).size
    // the scan's pruned listing must open EXACTLY the probed existing
    // directories — not the whole index
    fromIndex.collect()
    // AQE wraps executed stages: unwrap to the final adaptive plan and
    // its materialized query stages before looking for the file scan
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val scan = scans(fromIndex.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScanExec in the index-search plan"))
    val pruned = scan.metrics("numPartitions").value
    assert(pruned == expectDirs,
      s"pruned listing $pruned != probed existing buckets $expectDirs " +
        s"(probe set ${probed.size}, corpus buckets ${corpusBuckets.size})")
    assert(pruned < corpusBuckets.size,
      "order-2 probing must still prune (read less than the full index)")
  }

  test("index maintenance: append + compact are search-invisible") {
    // signatures are deterministic in the vector (no trained model), so
    // the delta path needs no model freezing: base write + delta append
    // must equal a full rebuild, and compaction must change nothing
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lshidx_app").toString
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val delta = corpus.filter(col("vec_id") % 5 === 0)
    LshAnn.writeIndex(base, "vec_id", "embedding", s"$dir/inc",
      numBits = 6, numTables = 2)
    LshAnn.appendIndex(delta, "vec_id", "embedding", s"$dir/inc",
      numBits = 6, numTables = 2)
    LshAnn.writeIndex(corpus, "vec_id", "embedding", s"$dir/full",
      numBits = 6, numTables = 2)
    // appending with foreign parameters would poison the buckets —
    // the sidecar check fails loudly instead
    val mism = intercept[IllegalArgumentException] {
      LshAnn.appendIndex(delta, "vec_id", "embedding", s"$dir/inc",
        numBits = 8, numTables = 2)
    }
    assert(mism.getMessage.contains("different spaces"))
    // ... and so would a delta of a DIFFERENT vector dimension (the
    // hyperplanes are dimension-parameterized): sidecar-checked too
    val wrongDim = delta.select(col("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    val dimMism = intercept[IllegalArgumentException] {
      LshAnn.appendIndex(wrongDim, "vec_id", "embedding", s"$dir/inc",
        numBits = 6, numTables = 2)
    }
    assert(dimMism.getMessage.contains("dimension"))
    def res(p: String) = LshAnn.searchIndex(spark, p, queries, "vec_id",
      "embedding", k = 3, numBits = 6, numTables = 2, multiProbe = 2)
    val (inc, full) = (res(s"$dir/inc"), res(s"$dir/full"))
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
    // compaction rewrites only over-fragmented buckets, invisibly
    graft.sources.Layout.compact(spark, s"$dir/inc",
      partitionBy = Seq("tbl", "sig"), sortBy = Seq("neighbor_id"),
      maxFragments = 1)
    val compacted = res(s"$dir/inc")
    assert(compacted.exceptAll(full).count() == 0 &&
      full.exceptAll(compacted).count() == 0)
  }

  test("parameter sidecar: mismatched search fails loudly") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx_meta").toString + "/idx"
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = 6, numTables = 2)
    val e = intercept[IllegalArgumentException] {
      LshAnn.searchIndex(spark, path, queries, "vec_id", "embedding",
        k = 3, numBits = 8, numTables = 2).count()
    }
    assert(e.getMessage.contains("different spaces"))
  }

  test("degraded append self-heals the sidecar; ragged vectors refused") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lshidx_heal").toString
    val path = s"$dir/idx"
    LshAnn.writeIndex(corpus.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", path, numBits = 6, numTables = 2)
    // simulate a pre-sidecar index: delete the meta file
    val meta = new java.io.File(path, "_graft_lsh_meta.json")
    assert(meta.delete(), "fixture sidecar should exist")
    // the degraded append succeeds (warn path) AND backfills the
    // sidecar from the appending caller's parameters
    LshAnn.appendIndex(corpus.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", path, numBits = 6, numTables = 2)
    assert(meta.exists(), "append must self-heal the missing sidecar")
    val txt = new String(java.nio.file.Files.readAllBytes(meta.toPath))
    assert(txt.contains("\"numBits\":6") && txt.contains("\"dim\":16"))
    // healed index is strict-checkable again: a foreign-parameter
    // search fails loudly instead of warning
    val e = intercept[IllegalArgumentException] {
      LshAnn.searchIndex(spark, path, queries, "vec_id", "embedding",
        k = 3, numBits = 8, numTables = 2).count()
    }
    assert(e.getMessage.contains("different spaces"))
    // ... and the healed result is search-identical to a full rebuild
    LshAnn.writeIndex(corpus, "vec_id", "embedding", s"$dir/full",
      numBits = 6, numTables = 2)
    def res(p: String) = LshAnn.searchIndex(spark, p, queries, "vec_id",
      "embedding", k = 3, numBits = 6, numTables = 2, multiProbe = 2)
    assert(res(path).exceptAll(res(s"$dir/full")).count() == 0 &&
      res(s"$dir/full").exceptAll(res(path)).count() == 0)
    // a ragged vector column is refused at the dimension probe (mixed
    // dimensions sign against different hyperplane spaces)
    val ragged = corpus.withColumn("embedding",
      when(col("vec_id") % 2 === 0, col("embedding"))
        .otherwise(slice(col("embedding"), 1, 8)))
    val r = intercept[IllegalArgumentException] {
      LshAnn.search(ragged, queries, "vec_id", "embedding", k = 3,
        numBits = 6, numTables = 1)
    }
    assert(r.getMessage.contains("ragged"))
  }

  test("searchIndex checks every query's dimension; all-null queries refused") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx_qdim").toString + "/idx"
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = 6, numTables = 2)
    def search(q: org.apache.spark.sql.DataFrame) = LshAnn.searchIndex(
      spark, path, q, "vec_id", "embedding", k = 3, numBits = 6,
      numTables = 2, multiProbe = 2).count()
    val short = slice(col("embedding"), 1, 8)
    val wrong = intercept[IllegalArgumentException] {
      search(queries.withColumn("embedding", short))
    }
    assert(wrong.getMessage.contains("dimension"))
    // one short query among full-width ones: its signatures would live
    // in a foreign space, so the batch is refused
    intercept[IllegalArgumentException] {
      search(queries.withColumn("embedding",
        when(col("vec_id") === 11, short).otherwise(col("embedding"))))
    }
    val nulls = intercept[IllegalArgumentException] {
      search(queries.withColumn("embedding", lit(null).cast("array<double>")))
    }
    assert(nulls.getMessage.contains("cannot infer vector dimension"))
  }

  test("writeIndex refuses a ragged column whose short vectors sit in a " +
      "later partition") {
    // 2000 clean rows fill partition 0 past any single 1024-row batch;
    // the short vectors are all in partitions 1 and 2 (the sides differ
    // in partition count, so the union concatenates their partitions)
    def vectors(from: Long, until: Long, slices: Int, dim: Int) =
      spark.range(from, until, 1, slices).select(col("id").as("vec_id"),
        array((0 until dim).map(d => sin(col("id") + d)): _*).as("embedding"))
    val ragged = vectors(0, 2000, 1, 16).union(vectors(2000, 2010, 2, 8))
    assert(ragged.rdd.getNumPartitions == 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx_ragged").toString + "/idx"
    val e = intercept[IllegalArgumentException] {
      LshAnn.writeIndex(ragged, "vec_id", "embedding", path,
        numBits = 4, numTables = 1)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("order-2 probe set follows the scored perturbation sequence") {
    val numBits = 4; val dim = 8
    // chosen so the score ranking INTERLEAVES: the pair {0,1} outranks
    // the single {2} (margins 0.41, 0.45, 0.86 vs 1.02)
    val v = (0 until dim).map(d => ((d * 7) % 19 - 9) / 10.0)
    val q = Seq((0L, v)).toDF("vec_id", "embedding")
    val probes = LshAnn.probeFrame(q, "vec_id", "embedding",
        numBits, 1, multiProbe = 4, dim = dim, probeOrder = 2)
      .select("sig").collect().map(_.getLong(0)).toSeq
    // replicate the contract: per-plane dots (ascending-index sum — the
    // VecProject order), base signature, then perturbation sets =
    // singles ∪ pairs ranked by total |margin|
    val dots = (0 until numBits).map(i =>
      (0 until dim).map(d => v(d) * LshAnn.hcomp(0, i, d)).sum)
    val base = (0 until numBits)
      .map(i => if (dots(i) > 0) 1L << i else 0L).sum
    val sets = (0 until numBits).map(i => (math.abs(dots(i)), Seq(i))) ++
      (for { i <- 0 until numBits; j <- (i + 1) until numBits }
        yield (math.abs(dots(i)) + math.abs(dots(j)), Seq(i, j)))
    assert(sets.map(_._1).distinct.length == sets.length,
      "fixture must have distinct scores for an unambiguous order")
    val expected = base +: sets.sortBy(_._1).take(4).map { case (_, bs) =>
      bs.foldLeft(base)((acc, b) => acc ^ (1L << b)) }
    assert(probes == expected,
      s"probe sequence $probes != expected $expected (dots: $dots)")
    // the sequence genuinely interleaves: with these margins a PAIR
    // must appear before the costliest single in the first 4 probes
    assert(sets.sortBy(_._1).take(4).exists(_._2.length == 2),
      s"fixture should rank a pair into the prefix: ${sets.sortBy(_._1)}")
  }

  test("order-2 at full budget covers order-1 at full budget") {
    val cap1 = 8 // numBits
    val cap2 = 8 + 8 * 7 / 2
    val r1 = recallVsExact(LshAnn.search(corpus, queries, "vec_id",
      "embedding", k = 5, numBits = 8, numTables = 1, multiProbe = cap1))
    val r2 = recallVsExact(LshAnn.search(corpus, queries, "vec_id",
      "embedding", k = 5, numBits = 8, numTables = 1, multiProbe = cap2,
      probeOrder = 2))
    assert(r2 >= r1,
      s"order-2 full budget ($r2) must cover order-1 full budget ($r1)")
  }

  test("probe-shape validation: budget caps and order bounds") {
    intercept[IllegalArgumentException] {
      LshAnn.search(corpus, queries, "vec_id", "embedding", k = 5,
        numBits = 4, numTables = 1, multiProbe = 5) // > numBits at order 1
    }
    intercept[IllegalArgumentException] {
      LshAnn.search(corpus, queries, "vec_id", "embedding", k = 5,
        numBits = 4, numTables = 1, multiProbe = 11, probeOrder = 2) // > 4+6
    }
    intercept[IllegalArgumentException] {
      LshAnn.search(corpus, queries, "vec_id", "embedding", k = 5,
        numBits = 1, numTables = 1, multiProbe = 1, probeOrder = 2)
    }
    intercept[IllegalArgumentException] {
      LshAnn.search(corpus, queries, "vec_id", "embedding", k = 5,
        numBits = 4, numTables = 1, multiProbe = 1, probeOrder = 3)
    }
  }

  test("strict sidecar mode refuses degraded checks; default warns") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_lshidx_strict").toString + "/idx"
    LshAnn.writeIndex(corpus, "vec_id", "embedding", path,
      numBits = 6, numTables = 2)
    // remove the sidecar: default mode degrades to a warning and works
    val p = new org.apache.hadoop.fs.Path(path, "_graft_lsh_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    assert(LshAnn.searchIndex(spark, path, queries, "vec_id", "embedding",
      k = 3, numBits = 6, numTables = 2).count() > 0)
    spark.conf.set("spark.graft.lsh.strictIndexMeta", "true")
    try {
      val e = intercept[IllegalStateException] {
        LshAnn.searchIndex(spark, path, queries, "vec_id", "embedding",
          k = 3, numBits = 6, numTables = 2).count()
      }
      assert(e.getMessage.contains("strictIndexMeta"))
    } finally spark.conf.unset("spark.graft.lsh.strictIndexMeta")
  }

  test("multiProbe = numBits probes every Hamming-1 bucket") {
    // with numBits = 4 and multiProbe = 4, every query emits 5 probe
    // signatures per table: its own bucket + all 4 single-bit flips
    val out = LshAnn.search(corpus, queries, "vec_id", "embedding",
      k = 5, numBits = 4, numTables = 1, multiProbe = 4)
    val exact = CosineTopK(corpus, queries, "vec_id", "embedding", k = 5)
    // 4-bit signatures on 6 clusters: Hamming-1 coverage is wide enough
    // that the approximate result is close to exact on this fixture
    assert(recallVsExact(out) >= 0.8)
    assert(out.count() <= exact.count())
  }
}
