package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The one way an operator pins an intermediate frame AND learns its
  * size: one eager `localCheckpoint` job that also counts the rows and
  * evaluates the caller's aggregates, then honest statistics on the leaf.
  *
  * '''One job.''' `Dataset.localCheckpoint(eager = true)` runs its
  * materialization through `withAction` on the frame's own
  * `queryExecution`, so an `observe` attached to the pre-checkpoint plan
  * is collected by the checkpoint job itself and read back from that
  * execution's `observedMetrics` as soon as the job ends (no listener-bus
  * wait, unlike an `Observation`). The row count, a convergence witness
  * or a shape check (min/max vector size) rides that job instead of a
  * second `count()` / `agg(...).head()` over the pinned blocks.
  *
  * '''Honest statistics.''' The checkpoint wraps the blocks in a
  * [[LogicalRDD]] that INHERITS the pre-checkpoint plan's statistics. An
  * iterative loop that self-joins its own checkpoint output and
  * re-checkpoints compounds that estimate exponentially: after k rounds
  * the `sizeInBytes` BigInt carries O(c^k) bits, and the optimizer's
  * stats walks grind on million-bit multiplications (measured on the
  * embedding-cluster closure at sf0.1: seconds → >7 minutes of driver-side
  * BigInt math). So the leaf is rebuilt to report `rows × rowBytes` —
  * pure metadata surgery, the materialized RDD is reused as-is.
  *
  * '''Safety path.''' Under heavy load Spark's observation delivery has
  * surfaced a schema-less metrics row whose NPE propagated out of the
  * checkpoint job itself (seen at sf1 in the closure). A pin must never
  * fail on its bookkeeping: the observed checkpoint gets ONE retry as a
  * plain checkpoint, and metrics that were not collected (or came back
  * without a schema) are computed by an explicit aggregation over the
  * pinned blocks. A genuine data or executor failure throws again on the
  * retry, as it should.
  *
  * Barrier-only pins (no size or metric needed afterwards) stay plain
  * `localCheckpoint(true)`; [[free]] releases either kind.
  */
object Pin {

  /** A pinned frame, its exact row count and the caller's observed
    * aggregates keyed by alias (values as `Row` getters return them;
    * `null` where an aggregate over no rows is null).
    */
  final case class Pinned(df: DataFrame, rows: Long, metrics: Map[String, Any]) {

    /** `df` re-stated to `rows × rowBytes`, for a row width that is only
      * known from the metrics. */
    def sized(rowBytes: Long): DataFrame = restat(df, rows, rowBytes)
  }

  private val RowsAlias = "__pin_rows"

  /** Materialize `df` once, counting it and evaluating `metrics` (named
    * aggregate columns) in the same job.
    *
    * @param rowBytes bytes per row for the leaf statistics; 0 takes
    *                 Catalyst's schema estimate
    */
  def apply(df: DataFrame, rowBytes: Long = 0L,
            metrics: Seq[Column] = Nil): Pinned = {
    val aggs = count(lit(1)).as(RowsAlias) +: metrics
    val name = s"__pin_${java.util.UUID.randomUUID}"
    val (ck, observed) =
      try {
        val o = df.observe(name, aggs.head, aggs.tail: _*)
        val c = o.localCheckpoint()
        (c, o.queryExecution.observedMetrics.get(name).filter(_.schema != null))
      } catch { case NonFatal(e) =>
        System.err.println(
          s"[pin] observed checkpoint failed (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); retrying unobserved")
        (df.localCheckpoint(), None)
      }
    // not collected: pay the explicit job
    val r = observed.getOrElse(ck.agg(aggs.head, aggs.tail: _*).head())
    val m = r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    val rows = m(RowsAlias).asInstanceOf[Long]
    val width =
      if (rowBytes > 0) rowBytes
      else EstimationUtils.getSizePerRow(plan(ck).output).toLong
    Pinned(restat(ck, rows, width), rows, m - RowsAlias)
  }

  /** Free the blocks of every materialized checkpoint under `df`'s plan NOW.
    *
    * `Dataset.unpersist` routes through the cache manager, which only
    * knows `InMemoryRelation` caches — on a checkpoint leaf (and doubly
    * so on a re-stated one, whose plan identity changed) it is a no-op,
    * and the blocks linger in executor storage until the ContextCleaner
    * collects the RDD. Iterative operators free each round's obsolete
    * pin, and every operator frees the pins its result does not read.
    */
  def free(df: DataFrame): Unit = plan(df).foreach {
    case l: LogicalRDD if l.rdd.isCheckpointed =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  private def plan(df: DataFrame) =
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed

  private def restat(df: DataFrame, rows: Long, rowBytes: Long): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val stats = Statistics(
          sizeInBytes = BigInt(rows.max(1L)) * rowBytes.max(1L),
          rowCount = Some(BigInt(rows.max(0L))))
        Dataset.ofRows(ds.sparkSession, LogicalRDD(l.output, l.rdd,
          l.outputPartitioning, l.outputOrdering, l.isStreaming, l.stream)(
          ds.sparkSession, Some(stats), None))
      case _ => df
    }
  }
}
