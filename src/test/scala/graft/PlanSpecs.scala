package graft

/** Physical-plan audits over the driver queries at sf0.001 — regression
  * guards for the plan properties the engine's scale story depends on
  * (SCALING.md): column-pruned scans with pushed filters, no nested-loop
  * joins where a keyed/binned plan is intended, and no object-hash
  * aggregation on the resampling hot path (its sort-based fallback
  * beyond 128 in-memory groups is a memory cliff).
  */
class PlanSpecs extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("interval-contain scan prunes columns and pushes filters") {
    val p = plan("q_interval_contain")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // the orders scan must not read columns the query never touches
    assert(!p.contains("o_totalprice"), "unpruned orders scan")
    assert(!p.contains("l_quantity"), "unpruned lineitem scan")
  }

  test("binned baseline joins avoid nested-loop/cartesian execution") {
    for (q <- Seq("q_bench_contain", "q_bench_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated to cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated to BNLJ")
    }
  }

  test("resample_eav std family stays out of object-hash aggregation") {
    // exact percentiles run via sort+row_number interpolation; the
    // `percentile` TypedImperativeAggregate would appear here as an
    // ObjectHashAggregate
    val p = plan("q_resample_eav_std")
    assert(!p.contains("ObjectHashAggregate"), "percentile fell back to object agg")
  }

  private lazy val resampleEavQueries: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("q_resample_eav_")).toSeq.sorted

  test("the other resample_eav queries stay out of object-hash aggregation") {
    for (q <- resampleEavQueries if q != "q_resample_eav_std")
      assert(!plan(q).contains("ObjectHashAggregate"), s"$q fell back to object agg")
  }

  test("resample_eav aggregates once per (window, attribute): no full-outer merge") {
    for (q <- resampleEavQueries)
      assert(!plan(q).contains("FullOuter"), s"$q merges aggregation families")
  }

  test("keyless binned join runs as an equi-join on the bin") {
    val p = plan("q_interval_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ivf search never shuffles the corpus and prunes the top-k window") {
    val p = plan("q_ann_ivf")
    // probe side broadcast; the only Exchange feeding the join is the
    // explicit small-file repartition in emb()
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus got shuffled for the join")
    // rank <= k must push into the window sort (WindowGroupLimit)
    assert(p.contains("WindowGroupLimit"), "top-k filter not pushed into window")
  }

  test("salted join is an equi-join (no cartesian), salt on the stream side") {
    val p = plan("q_salted_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("histogram: per-group stats broadcast back onto the rows") {
    val p = plan("q_hist_width")
    // (group -> min,max) is group-cardinality-sized: must broadcast, and
    // the row side must never sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "row side shuffled for the stats join")
  }

  test("bm25: terms and df broadcast; one token-stream exchange is reused") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    // tf/dl/df all derive from the same groupBy(doc, token) shuffle — the
    // executed plan must reuse that exchange, not recompute the token
    // stream. Under AQE reuse happens at RUNTIME (stage dedup), so drive
    // the query and inspect the final adaptive plan, not the initial one.
    val df = SparkEntry.queries("q_bm25")(spark, sf)
    df.queryExecution.toRdd.count()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      "token-stream exchange not reused at runtime")
  }

  test("bloom prune: probe filters the big side BELOW the join, inside codegen") {
    val p = plan("q_bloom_join")
    // the probe must appear as a plain Filter condition (projection-level,
    // pre-shuffle), not inside the join condition
    assert(p.contains("bloom_might_contain"), s"bloom probe missing:\n$p")
    val filterSection = p.linesIterator
      .filter(l => l.contains("Condition") && l.contains("bloom_might_contain"))
    assert(filterSection.nonEmpty, "bloom probe is not a Filter condition")
    // and the pruned side still joins exactly (semi join present)
    assert(p.contains("LeftSemi"), s"exact semi-join step missing:\n$p")
  }

  test("inverted index: posting cap prunes via WindowGroupLimit") {
    val p = plan("q_inverted")
    assert(p.contains("WindowGroupLimit"),
      s"posting cap not pushed below the rank sort:\n$p")
  }

  test("as-of merge path plans as union + one window — no join operator at all") {
    val p = plan("q_asof_merge")
    assert(!p.contains("Join"), s"merge path must not join:\n$p")
    assert(p.contains("Window"), s"expected the carrying window:\n$p")
    assert(p.contains("Union"), s"expected the two-side union:\n$p")
  }

  test("kmv sketch aggregates partially — bounded map-side state") {
    // the whole point of the KMV sketch is that the partial state is
    // ≤ k longs per group per task; that requires the planner to run
    // min_k_longs in partial + final mode like any other bounded agg
    // (a single-phase plan would shuffle raw rows to the reducers)
    val p = plan("q_distinct_sketch")
    assert(p.contains("partial_min_k_longs"),
      s"kmv agg lost its partial (map-side) phase:\n$p")
    assert(p.contains("min_k_longs("), p)
  }

  test("count-min estimate broadcasts the bounded grid, never the probes") {
    // the sketch is ≤ d·w rows by construction; the probe side can be
    // any size, so the join must be a broadcast of the sketch
    val p = plan("q_cms_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"cms estimate join did not broadcast the sketch:\n$p")
  }

  test("random projection is a stateless per-row map — zero exchanges") {
    import spark.implicits._
    val df = Seq((1L, Array.fill(64)(0.5))).toDF("id", "embedding")
    val p = graft.similarity.RandomProjection
      .project(df, "embedding", 64, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"projection should not shuffle:\n$p")
  }

  test("closure output carries pinned, non-compounded size statistics") {
    // localCheckpoint leaves inherit the pre-checkpoint plan's size
    // estimate; an iterative self-join loop compounds it exponentially
    // (O(4^rounds) BITS with two pointer jumps per round) until the
    // optimizer's stats walks grind on million-bit BigInt products —
    // q_dedup_embcluster measured seconds → >7 min at sf0.1 before
    // each round's leaf was pinned to the real row count (now `Pin`).
    import graft.dedup.ConnectedComponents
    import spark.implicits._
    // a chain forces several rounds, so compounding would be visible
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = ConnectedComponents(edges, "a", "b", localFinishEdges = 0L)
    // labels derives from the pinned star-edge leaves by a union +
    // distinct, so its estimate is a small multiple of the real edge
    // count — anything near BigInt-blowup territory means a leaf
    // escaped the pin
    val size = labels.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size.bitLength < 64,
      s"closure stats not pinned: sizeInBytes has ${size.bitLength} bits")
  }

  test("line dedup: measured frequent-set stats drive the anti-join strategy") {
    // LineDedup pins the REAL (row count, bytes) of the materialized
    // frequent-line set on its checkpoint leaf, so the STATIC planner —
    // not a hard-coded hint, not a post-shuffle AQE rescue — chooses the
    // anti-join strategy under the session's own broadcast threshold.
    import graft.text.LineDedup
    import spark.implicits._
    val df = (0L until 64L)
      .map(i => (i, s"COMMON BOILERPLATE LINE\nunique prose $i"))
      .toDF("doc_id", "text")
    def antiJoinPlan(): String =
      LineDedup(df, "doc_id", "text", "\n", minDocs = 32)
        .queryExecution.sparkPlan.toString
    // tiny measured set + default 10m threshold => broadcast anti-join,
    // already in the INITIAL plan (no AQE conversion needed)
    val p = antiJoinPlan()
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"small frequent set did not broadcast:\n$p")
    // broadcast disabled => honest fallback to a shuffled anti-join;
    // proves the broadcast is threshold-gated, never forced
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = antiJoinPlan()
      assert(!q.contains("BroadcastHashJoin"),
        s"anti-join broadcast is forced, not threshold-gated:\n$q")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("factorize numbering stays in Tungsten (no RDD scan in the plan)") {
    val p = plan("q_factorize")
    assert(!p.contains("ExistingRDD"), "factorize round-trips through an RDD")
    val pj = plan("q_factorize_joint")
    assert(!pj.contains("ExistingRDD"), "joint factorize round-trips through an RDD")
  }

  /** The plan AQE starts from (the stages it runs are cut from it). */
  private def initialPlan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  test("keyed group_intervals: one range exchange of the full rows, on the group keys") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.RunningScanExec
    val df = spark.range(5000).select(col("id"), (col("id") % 40).as("g"),
      (col("id") * 13 % 700).as("s"))
    val p = initialPlan(graft.Ops.groupIntervals(df, "s", None, groupBy = Seq("g"),
      distance = lit(3), tieBreakCols = Seq("id")))
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, p)
    exchanges.head.outputPartitioning match {
      case r: RangePartitioning =>
        assert(r.ordering.map(_.child.references.map(_.name).toSet) == Seq(Set("g")), p)
      case other => fail(s"not a range exchange: $other\n$p")
    }
    assert(p.collect { case r: RunningScanExec => r }.size == 1, p)
  }

  test("prefix-sum users never plan a single-partition exchange") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).select(col("id"), (col("id") % 40).as("g"),
      (col("id") * 13 % 700).as("s"), (col("id") % 3).cast("string").as("f"),
      when(col("id") % 4 =!= 0, col("id") * 0.5).as("v"))
    val users = Map(
      "PrefixSum" -> org.apache.spark.sql.graft.RunningScan.prefixSum(df,
        Seq(col("s"), col("id")), col("g"), "cum"),
      "groupIntervals" -> graft.Ops.groupIntervals(df, "s", None, groupBy = Seq("g"),
        distance = lit(3)),
      "factorize" -> graft.Ops.factorize(df, Seq("f", "g")),
      "factorize sort=false" -> graft.Ops.factorize(df, Seq("f", "g"), sort = false),
      "factorize joint" -> graft.agg.Factorize.joint(df, Seq("f"), df, Seq("g"))._2,
      "partitionSeries" -> graft.Ops.partitionSeries(df, Seq("g"), budget = 300L),
      "Packing.chunk" -> graft.text.Packing.chunk(df, Seq(col("s"), col("id")),
        col("g"), budget = 64L),
      // the keyless scans: at the parent each planned a single partition
      "keyless impute" -> graft.Ops.impute(df, Seq("v"), "lfill",
        orderBy = Seq(col("id")), limit = Some(2)),
      "keyless prevNextValues" -> graft.Ops.prevNextValues(df, Seq("s", "id"), Nil,
        Map("v" -> graft.windows.PrevNextSpec(Some("pv"), Some("nv"), nextFill = Some(lit(0.0)))),
        Some("first"), Some("last")),
      "keyless groupIntervals" -> graft.Ops.groupIntervals(df, "s", None, groupBy = Nil,
        distance = lit(3), tieBreakCols = Seq("id")),
      "keyless combineIntervals" -> graft.Ops.combineIntervals(
        df.withColumn("e", col("s") + col("g")), "s", Some("e")))
    for ((name, out) <- users) {
      val p = initialPlan(out).toString
      assert(p.contains("RunningScan"), s"$name:\n$p")
      assert(!p.contains("SinglePartition"), s"$name:\n$p")
    }
  }

  test("keyless interval join: broadcast-small side feeds the sweep, no nested loop") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.IntervalSweepJoinExec
    val l = spark.range(20000).select(col("id"), (col("id") % 997).cast("double").as("x"))
    val r = spark.range(2000).select(col("id").as("rid"), (col("id") % 50).cast("double").as("y"))
    def keyless = graft.Ops.mergeIntervals(l, r, graft.core.IntervalSpec.point("x"),
      graft.core.IntervalSpec.unboundedBelow("y"), keepOrder = false)

    val p = initialPlan(keyless)
    val sweep = p.collect { case j: IntervalSweepJoinExec => j }
    assert(sweep.size == 1, p)
    assert(sweep.head.right.isInstanceOf[BroadcastExchangeExec], p)
    assert(!p.toString.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toString.contains("SinglePartition"), p)

    // keyed: Catalyst's broadcast hash join with a post-filter, as before
    val keyed = initialPlan(graft.Ops.mergeIntervals(
      l.withColumn("g", col("id") % 7), r.withColumn("g", col("rid") % 7),
      graft.core.IntervalSpec.point("x"), graft.core.IntervalSpec.unboundedBelow("y"),
      on = Seq("g"), keepOrder = false)).toString
    assert(keyed.contains("BroadcastHashJoin") && !keyed.contains("IntervalSweepJoin"), keyed)

    // both sides above the threshold: Catalyst's plan, no sweep
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    try {
      val big = initialPlan(keyless).toString
      assert(!big.contains("IntervalSweepJoin"), big)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("no driver query degenerates to cartesian/nested-loop (except by design)") {
    // intended exceptions: q_cross_join IS a cross join; q_ann_topk scores
    // every (query, corpus) pair by design — a broadcast nested loop over
    // the broadcast query set is exactly its plan; q_bm25 and q_lm_score
    // cross-join ONE-ROW broadcast corpus-stats frames ((N, avgdl) /
    // vocab size) — scalar broadcasts, not data-sized nested loops
    // q_ann_q8 = q_ann_topk's plan on int8 codes (broadcast query loop)
    // q_tfidf / q_skew cross-join 1-row corpus-total frames, like q_bm25
    // q_sample_temperature cross-joins the 1-row pow-sum normalizer
    // q_collocations cross-joins the 1-row (pair-total, token-total)
    // frame, like q_bm25; q_fuzzy_join's short-string completion block
    // is an explicit count-guarded cross of two length-bounded slivers
    // (maxShortSide refusal) — the main candidate path is an equi-join
    // q_dsir cross-joins the 1-row target/raw total-count frames (its
    // bucket models broadcast by size; the totals are scalars)
    // q_mixture cross-joins the 1-row grand-total frame for
    // share-of-corpus, like q_bm25
    // q_ann_pq = q_ann_topk's shape on PQ codes: ADC scans the code
    // table against the broadcast query set (with its lookup tables) —
    // the brute baseline; q_ann_ivfpq is its cell-pruned equi-join form
    // q_hybrid_rrf's brute legs pair every corpus doc with the 5-row
    // broadcast seed set (inequality-only condition) — the blocked
    // variants (MinHash banding / IVF) replace the legs at scale
    // q_ann_recall cross-joins each method's hit count with the 1-row
    // ground-truth total (hits × possible — scalar broadcast, like
    // q_bm25), and its brute pq/exact legs are q_ann_topk's
    // broadcast-query-loop shape by design
    val intended = Set("q_cross_join", "q_ann_topk", "q_ann_q8",
      "q_bm25", "q_lm_score", "q_tfidf", "q_skew", "q_sample_temperature",
      "q_collocations", "q_fuzzy_join", "q_fuzzy_freq", "q_dsir",
      "q_mixture", "q_ann_pq", "q_hybrid_rrf", "q_ann_recall",
      // q_ann_pq256 = q_ann_recall's scalar hits × possible cross-join
      // plus the brute ADC/exact legs at production bit-width
      "q_ann_pq256")
    for (name <- SparkEntry.queries.keys if !intended(name)) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name planned a BNLJ")
    }
  }

  test("driver contract: every query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${(o -- q).toSeq.sorted}")
    assert(q.subsetOf(o), s"queries without oracles: ${(q -- o).toSeq.sorted}")
  }
}
