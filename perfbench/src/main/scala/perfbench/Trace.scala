package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A timed interval at one layer boundary. Times are epoch milliseconds;
  * `op` is the id of the operator call the span belongs to. */
final class Span(val id: Int, val name: String, val layer: String,
    val start: Double, val parent: Int, val op: Int) {
  var end: Double = start
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "layer" -> layer, "start" -> start, "end" -> end, "parent" -> parent,
    "op" -> op, "attrs" -> attrs.toMap)
}

/** Instrumentation of the traced run, all from outside the library: a
  * SparkListener for jobs, stages and tasks, a QueryExecutionListener for
  * the queries a call runs eagerly, and the planning tracker, codegen
  * counters and SQL metrics of each executed plan. Spans stay in memory
  * until the run writes them out. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def now(): Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val taskPeakMem = mutable.Map.empty[Int, Long]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val pinnedRdds = mutable.Set.empty[Int]

  def begin(name: String, layer: String, parent: Int, op: Int): Span =
    synchronized {
      val s = new Span(spans.size, name, layer, now(), parent, op)
      spans += s
      byId(s.id) = s
      s
    }

  def finish(s: Span): Unit = s.end = now()

  /** Forgets every span, e.g. those of an iteration that only warmed up
    * the tracing code. */
  def reset(): Unit = synchronized {
    spans.clear()
    byId.clear()
    jobSpans.clear()
    stageJob.clear()
  }

  /** Runs `body` with its jobs tagged as children of `s`. */
  def tagged[T](s: Span)(body: => T): T = {
    sc.setJobGroup(s"perfbench:${s.id}", s"${s.op} ${s.name}")
    try body finally sc.clearJobGroup()
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench:")).map(_.stripPrefix("perfbench:").toInt)
    val parent = group.flatMap(byId.get)
    val s = new Span(spans.size, s"job ${e.jobId}", "scheduler",
      e.time.toDouble, parent.map(_.id).getOrElse(-1), parent.map(_.op).getOrElse(-1))
    spans += s
    byId(s.id) = s
    jobSpans(e.jobId) = s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      taskPeakMem(e.stageId) =
        taskPeakMem.getOrElse(e.stageId, 0L).max(m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val job = stageJob.get(si.stageId)
      val s = new Span(spans.size, s"stage ${si.stageId}", "exec",
        si.submissionTime.getOrElse(0L).toDouble,
        job.map(_.id).getOrElse(-1), job.map(_.op).getOrElse(-1))
      s.end = si.completionTime.getOrElse(0L).toDouble
      spans += s
      byId(s.id) = s
      val m = si.taskMetrics
      val times = taskTimes.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
      val mb = 1024.0 * 1024.0
      s.attrs ++= Seq(
        "tasks" -> si.numTasks.toDouble,
        "task_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / mb,
        "spill_mb" -> m.diskBytesSpilled / mb,
        "peak_task_mem_mb" -> taskPeakMem.remove(si.stageId).getOrElse(0L) / mb,
        "bytes_written_mb" -> m.outputMetrics.bytesWritten / mb,
        "task_max_s" -> times.lastOption.getOrElse(0L) / 1e3,
        "task_median_s" -> (if (times.isEmpty) 0.0 else times(times.size / 2) / 1e3))
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rddId, _) => synchronized(pinnedRdds += rddId)
      case _ =>
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized(executions += qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized(executions += qe)

  /** Everything the listeners saw since the last call: the queries run
    * eagerly and the RDDs that stored blocks. The bus is drained first. */
  def takeCallEvents(): (Seq[QueryExecution], Set[Int]) = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized {
      val out = (executions.toSeq, pinnedRdds.toSet)
      executions.clear()
      pinnedRdds.clear()
      out
    }
  }
}

object Trace {
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodeGenerated = """Code generated in ([0-9.]+) ms""".r.unanchored
  @volatile private var compileMs = 0.0

  /** Total codegen compile time so far, in ms, summed from the code
    * generator's own "Code generated in ..." log lines; Spark's compile
    * time histogram only keeps a sample. */
  def codegenMs(): Double = compileMs

  def installCodegenLog(): Unit = {
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case CodeGenerated(ms) => Trace.synchronized(compileMs += ms.toDouble)
          case _ =>
        }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(codegenLogger, Level.INFO, false)
    logger.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, logger)
    ctx.updateLoggers()
  }

  /** Every node of an executed plan, looking through adaptive and query
    * stage wrappers and command results. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(n: SparkPlan, key: String): Double =
    n.metrics.get(key).map(_.value.toDouble).getOrElse(0.0)

  /** Catalyst and kernel attributes of the queries one call ran. */
  def planAttrs(qes: Seq[QueryExecution]): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    qes.foreach { qe =>
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      acc("catalyst.analysis_s") += phase("analysis")
      acc("catalyst.optimization_s") += phase("optimization")
      acc("catalyst.planning_s") += phase("planning")
      acc("catalyst.graft_rules_s") += qe.tracker.rules.collect {
        case (name, r) if name.contains("graft") => r.totalTimeNs / 1e9
      }.sum
      val ns = nodes(qe.executedPlan)
      ns.foreach { n =>
        val name = n.nodeName
        if (name.contains("IntervalSweep")) {
          acc("kernel.sweep_rows_out") += metric(n, "numOutputRows")
          acc("kernel.sweep_degraded_keys") += metric(n, "degradedKeys")
        }
        if (name.contains("Join"))
          acc("kernel.join_rows_out") =
            acc("kernel.join_rows_out").max(metric(n, "numOutputRows"))
        acc("kernel.sort_s") += metric(n, "sortTime") / 1e3
        acc("kernel.agg_s") += metric(n, "aggTime") / 1e3
        if (n.metrics.contains("numFiles")) {
          if (n.getClass.getSimpleName.contains("Scan"))
            acc("io.files_read") += metric(n, "numFiles")
          else acc("io.files_written") += metric(n, "numFiles")
        }
      }
    }
    acc.toMap
  }
}
