package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerDrain

/** Job budgets: on a fixed small input, the Spark jobs an operator call
  * launches — from the call through its materialization — may not grow
  * past the recorded count, and the call leaves no persisted RDD behind.
  * Lower a cap when an operator gets cheaper.
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

  /** Budget for a call that returns `Unit` (a write). */
  private def budgetCall(name: String, cap: Int)(call: => Unit): Unit = {
    val (jobs, pinned) = measure(call)
    assert(jobs <= cap, s"$name launched $jobs jobs, budget $cap")
    assert(pinned.isEmpty, s"$name left persisted RDDs $pinned")
  }

  /** Budget for building and materializing `df`. */
  private def budget(name: String, cap: Int)(df: => DataFrame): Unit =
    budgetCall(name, cap) { df.queryExecution.toRdd.count(); () }

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
}
