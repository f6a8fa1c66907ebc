package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerDrain

/** Job budgets: on a fixed small input, the Spark jobs an operator call
  * launches — from the call through its materialization — may not grow
  * past the recorded count, and the only RDDs the call leaves persisted
  * are the pins its returned frame reads (none for a call that returns
  * no frame). Lower a cap when an operator gets cheaper.
  */
class JobBudgetSpec extends SparkSuite {

  private lazy val orders: DataFrame = spark.range(4000).select(
    col("id").as("okey"), (col("id") * 7 % 300).as("ckey"),
    (col("id") * 37 % 900).as("day"),
    element_at(array(lit("A"), lit("N"), lit("R")), (col("id") % 3 + 1).cast("int")).as("flag"),
    when(col("id") % 4 === 0, lit(null)).otherwise(lit("O")).as("status"))

  /** Jobs launched by `call`, and the RDDs it left persisted. */
  private def measure(call: => Unit): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    ListenerDrain.waitUntilEmpty(sc, 10000)
    val before = sc.getPersistentRDDs.keySet
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      call
      ListenerDrain.waitUntilEmpty(sc, 10000)
    } finally sc.removeSparkListener(listener)
    (jobs.get, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  /** Budget for a call that returns no frame (a write, an advice). */
  private def budgetCall(name: String, cap: Int)(call: => Any): Unit = {
    val (jobs, pinned) = measure(call)
    info(s"$name: $jobs jobs")
    assert(jobs <= cap, s"$name launched $jobs jobs, budget $cap")
    assert(pinned.isEmpty, s"$name left persisted RDDs $pinned")
  }

  /** Budget for building and materializing `df`; the pins under its plan
    * may stay, and are released afterwards. */
  private def budget(name: String, cap: Int)(df: => DataFrame): Unit = {
    var out: DataFrame = null
    val (jobs, pinned) = measure { out = df; out.queryExecution.toRdd.count() }
    val read = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .filter(r => spark.sparkContext.getPersistentRDDs.contains(r.id))
    info(s"$name: $jobs jobs")
    assert(jobs <= cap, s"$name launched $jobs jobs, budget $cap")
    assert(pinned == read.map(_.id).toSet,
      s"$name left persisted RDDs $pinned; its result reads ${read.map(_.id)}")
    read.foreach(_.unpersist(blocking = false))
  }

  // each: the range exchange's sample and map jobs, the running sum's
  // totals job and the result, plus the aggregate's map job (factorize,
  // partitionSeries) and the code table's broadcast (factorize)
  test("running-sum users: job budgets and no persisted RDD left") {
    orders.count()
    budget("groupIntervals", 4)(Ops.groupIntervals(
      orders.select(col("okey"), col("ckey"), col("day"), (col("day") + 30).as("stop")),
      "day", Some("stop"), groupBy = Seq("ckey"), distance = lit(5),
      tieBreakCols = Seq("okey")))
    budget("factorize", 6)(Ops.factorize(orders, Seq("flag", "status")))
    budget("factorize sort=false", 6)(Ops.factorize(orders, Seq("flag", "status"), sort = false))
    budget("partitionSeries", 5)(Ops.partitionSeries(orders, Seq("ckey"), budget = 100L))
    budget("Packing.chunk", 4)(graft.text.Packing.chunk(orders, Seq(col("ckey"), col("okey")),
      col("day") % 17, budget = 64L))
  }

  // each scan: the range exchange's sample and map jobs, one totals job
  // per scan node (a suffix node adds one; group_intervals and
  // combine_intervals chain two prefix nodes), the result, plus the
  // events aggregate's and the segment aggregate's map jobs
  // (combine_intervals)
  test("keyless scans: job budgets and no persisted RDD left") {
    val withV = orders.withColumn("v", when(col("okey") % 5 =!= 0, col("day").cast("double")))
    val order = Seq(col("day"), col("okey"))
    budget("keyless impute ffill limit", 4)(Ops.impute(withV, Seq("v"), "ffill",
      orderBy = order, limit = Some(2)))
    budget("keyless impute linear", 5)(Ops.impute(withV, Seq("v"), "linear", orderBy = order))
    budget("keyless impute afill", 5)(Ops.impute(withV, Seq("v"), "afill", orderBy = order,
      limit = Some(2)))
    budget("keyless prevNextValues", 5)(Ops.prevNextValues(orders, Seq("day", "okey"), Nil,
      Map("ckey" -> graft.windows.PrevNextSpec(Some("prev"), Some("next"))),
      Some("is_first"), Some("is_last")))
    budget("keyless groupIntervals", 5)(Ops.groupIntervals(
      orders.select(col("okey"), col("day"), (col("day") + 3).as("stop")),
      "day", Some("stop"), groupBy = Nil, distance = lit(1), tieBreakCols = Seq("okey")))
    budget("keyless combineIntervals", 7)(Ops.combineIntervals(
      orders.select(col("day"), (col("day") + 3).as("stop")), "day", Some("stop")))
  }

  // each: the windows' broadcast into the observation join, the map jobs
  // of the (window, attribute), pivot and windows shuffles, the pivot's
  // broadcast back onto the windows (AQE) and the result; inferred
  // attributes add the distinct's map job and its collect
  test("resamplers: job budgets and no persisted RDD left") {
    val windows = spark.range(600).select((col("id") % 300).as("e"),
      (col("id") / 300 * 450).cast("long").as("ws"))
      .withColumn("wt", col("ws") + 450)
    val obs = orders.select(col("ckey").as("e"), col("day").as("t"),
      col("flag").as("attr"), (col("okey") % 13).cast("double").as("v"))
    budget("resampleEav, every family", 6)(Ops.resampleEav(obs, windows,
      agg = Map(
        "A" -> Seq("mean", "p50", "mad", "count", "mode", "mode_count", "r0", "r-1", "t0"),
        "N" -> Seq("sum", "nunique", "mode")),
      timeCol = "t", valueCol = "v", entityCol = Some("e"), attrCol = Some("attr"),
      wStartCol = Some("ws"), wStopCol = Some("wt"),
      customAgg = Map("R" -> Seq("tmax" -> graft.resample.CustomAgg.timeOfMax))))
    val intervals = obs.withColumn("stop", col("t") + 30)
    def resampleInterval(attributes: Option[Seq[String]]) = Ops.resampleInterval(
      intervals, windows, "v", entityCol = Some("e"), startCol = Some("t"),
      stopCol = Some("stop"), attrCol = Some("attr"), attributes = attributes,
      wStartCol = Some("ws"), wStopCol = Some("wt"))
    budget("resampleInterval", 6)(resampleInterval(Some(Seq("A", "N", "R"))))
    budget("resampleInterval, inferred attributes", 8)(resampleInterval(None))
  }

  // write, append: the dimension probe, the repartition's map job and the
  // write; compact: the parquet schema read, the repartition's map job
  // and the write; search: the probe collect, the schema read, the
  // broadcast of the collected probes, two shuffle map jobs and the result
  test("LSH index lifecycle: job budgets and no persisted RDD left") {
    import graft.similarity.LshAnn
    val corpus = spark.range(400).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        sin(col("id") * (d + 1) + lit(d))): _*).as("embedding"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_budget_lsh").toString + "/idx"
    budgetCall("writeIndex", 3)(LshAnn.writeIndex(
      corpus.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", path,
      numBits = 4, numTables = 2))
    budgetCall("appendIndex", 3)(LshAnn.appendIndex(
      corpus.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", path,
      numBits = 4, numTables = 2))
    budgetCall("compact", 3)(graft.sources.Layout.compact(spark, path,
      partitionBy = Seq("tbl", "sig"), sortBy = Seq("neighbor_id"),
      maxFragments = 1))
    budget("searchIndex", 6)(LshAnn.searchIndex(spark, path,
      corpus.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      numBits = 4, numTables = 2, multiProbe = 2))
  }

  // every operator that pins AND needs the pin's size or a metric: the
  // count, the convergence witness or the shape check rides the pin's own
  // job, and the pins the result does not read are freed
  test("pin users: job budgets and only the result's pins left") {
    val edges = spark.range(120).select(col("id").as("src"),
      ((col("id") * 7 + 3) % 120).as("dst"))
    budget("PageRank tolerance > 0", 14)(graft.graph.PageRank(edges, "src", "dst",
      iterations = 6, tolerance = 1000000L))
    budget("LabelPropagation", 18)(graft.graph.LabelPropagation(
      spark.range(120).toDF("node"), edges, iters = 3))
    budget("ConnectedComponents", 38)(graft.dedup.ConnectedComponents(
      spark.range(100).where(col("id") % 10 =!= 9)
        .select(col("id").as("a"), (col("id") + 1).as("b")),
      "a", "b", localFinishEdges = 0L))
    val vecs = spark.range(300).select(col("id").as("vec_id"),
      array((0 until 8).map(d => sin(col("id") * (d + 1) + lit(d))): _*)
        .as("embedding"))
    budget("KMeans.fit", 7)(graft.similarity.KMeans.fit(vecs, "vec_id",
      "embedding", k = 4, iters = 2)._2)
    budget("PqAnn.fit", 7)(graft.similarity.PqAnn.fit(vecs, "vec_id",
      "embedding", m = 2, ksub = 4, iters = 2)._2)
    budget("Bpe.fit", 14)(graft.text.Bpe.fit(
      spark.range(60).select(concat(lit("lo"), (col("id") % 7).cast("string"),
        lit("wer")).as("word"), (col("id") % 5 + 1).as("freq")),
      "word", "freq", k = 4)._2)
    budget("LineDedup", 6)(graft.text.LineDedup(
      spark.range(64).select(col("id").as("doc_id"),
        concat(lit("COMMON BOILERPLATE LINE\nunique prose "),
          col("id").cast("string")).as("text")),
      "doc_id", "text", minDocs = 32))
    budgetCall("AnnAdvisor", 26)(graft.similarity.AnnAdvisor.advise(vecs,
      "vec_id", "embedding", k = 5, recallFloor = 0.5, nlists = Seq(8),
      nprobes = Seq(1, 2), sampleQueries = 8, trainedNlists = Seq(8),
      trainedIters = 1, lshConfigs = Seq((4, 2, 0), (4, 3, 1))))
    budgetCall("LshAdvisor", 15)(graft.dedup.LshAdvisor.advise(
      spark.range(48).select(col("id").as("doc_id"),
        concat_ws(" ", array((0 until 20).map(j =>
          concat(lit(s"w$j-"), (col("id") % 16).cast("string"))): _*))
          .as("text")),
      "text", "doc_id", numHashes = 8, bandCandidates = Seq(2, 8),
      sampleDocs = 32))
  }
}
