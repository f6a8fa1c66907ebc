package perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload as a single closed-loop caller and writes the raw
  * measurements as JSON: set-up times, every timed call with its check,
  * and, in a traced run, the spans. `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <work dir> <out json>
  */
object Main {

  final case class CallResult(kind: String, wallS: Double, ok: Boolean,
      digest: Option[Digest], error: Option[String])

  /** Old-generation occupancy after each collection, while recording. */
  object Heap {
    @volatile var recording = false
    @volatile var peakBytes = 0L

    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: NotificationEmitter =>
          em.addNotificationListener((n, _) => {
            if (recording && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
                case (pool, use) if pool.contains("Old") || pool.contains("Tenured") =>
                  peakBytes = peakBytes.max(use.getUsed)
                case _ =>
              }
            }
          }, null, null)
        case _ =>
      }
  }

  private def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: perfbench.Main <workload> <seed> " +
      "<seconds> <trace 0|1> <cores> <work dir> <out json>")
    val Array(name, seedArg, secondsArg, traceArg, coresArg, work, out) = argv
    require(Workload.names.contains(name),
      s"unknown workload '$name'; expected one of ${Workload.names.mkString(", ")}")
    val (seed, seconds, trace, cores) =
      (seedArg.toLong, secondsArg.toDouble, traceArg == "1", coresArg.toInt)
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The inputs are ~50x smaller than the reference's 10M x 1M join, so
      // the broadcast threshold is scaled down with them: both keyed join
      // sides stay above it and take the sweep route, as at full scale.
      .config("spark.sql.autoBroadcastJoinThreshold", "256k")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Heap.install()
    if (trace) Trace.installCodegenLog()

    var iterationNo = 0
    val expected = mutable.Map.empty[String, Digest]
    val tracer = new Tracer(spark)
    var opNo = 0

    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    def check(kind: String, d: Option[Digest]): Option[String] = d match {
      case None => None
      case Some(got) => expected.get(kind) match {
        case Some(want) if want != got => Some(s"digest $got, oracle $want")
        case Some(_) => None
        // no oracle (yet): the first result is the reference
        case None => expected(kind) = got; None
      }
    }

    def runCall(c: Call, parent: Option[Span]): CallResult = {
      opNo += 1
      val op = opNo
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val res: CallResult = parent match {
        case None =>
          val t = System.nanoTime()
          try {
            val d = c.api().map(Digest.of)
            val wall = (System.nanoTime() - t) / 1e9
            val err = check(c.kind, d)
            CallResult(c.kind, wall, err.isEmpty, d, err)
          } catch { case NonFatal(e) =>
            CallResult(c.kind, (System.nanoTime() - t) / 1e9, ok = false, None,
              Some(e.toString))
          }
        case Some(it) =>
          val cgMs0 = Trace.codegenMs()
          val call = tracer.begin(c.kind, "call", it.id, op)
          var df: Option[DataFrame] = None
          val r = try {
            val api = tracer.begin("api", "api", call.id, op)
            df = try tracer.tagged(api)(c.api()) finally tracer.finish(api)
            val plan = tracer.begin("plan", "catalyst", call.id, op)
            try tracer.tagged(plan)(df.foreach(_.queryExecution.executedPlan))
            finally tracer.finish(plan)
            val act = tracer.begin("action", "action", call.id, op)
            val d = try tracer.tagged(act)(df.map(Digest.of)) finally tracer.finish(act)
            tracer.finish(call)
            val err = check(c.kind, d)
            CallResult(c.kind, (call.end - call.start) / 1e3, err.isEmpty, d, err)
          } catch { case NonFatal(e) =>
            tracer.finish(call)
            CallResult(c.kind, (call.end - call.start) / 1e3, ok = false, None,
              Some(e.toString))
          }
          val (qes, pinned) = tracer.takeCallEvents()
          val cgMs1 = Trace.codegenMs()
          call.attrs ++= Trace.planAttrs(df.map(_.queryExecution).toSeq ++ qes)
          call.attrs ++= Seq(
            "api.pins" -> pinned.size.toDouble,
            "api.pins_live_after" ->
              (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).size.toDouble,
            "catalyst.codegen_compile_s" -> (cgMs1 - cgMs0) / 1e3,
            "result_rows" -> r.digest.map(_.rows.toDouble).getOrElse(0.0),
            "ok" -> (if (r.ok) 1.0 else 0.0))
          r
      }
      cleanup()
      res.error.foreach(e => System.err.println(s"[perfbench] ${c.kind} FAILED: $e"))
      res
    }

    def runIteration(w: Workload, traced: Boolean): Map[String, Any] = {
      val it = iterationNo
      iterationNo += 1
      val span = if (traced) Some(tracer.begin(s"iteration $it", "iteration", -1, -1)) else None
      val bytes0 = fsBytesWritten()
      val calls = w.calls(it).map(c => runCall(c, span))
      span.foreach(tracer.finish)
      val bytesWritten = fsBytesWritten() - bytes0
      val after = w.afterIteration(it).flatMap { case (kind, df) =>
        val err = try check(s"$kind:after", Some(Digest.of(df)))
          catch { case NonFatal(e) => Some(e.toString) }
        err.map { e =>
          System.err.println(s"[perfbench] $kind FAILED after the iteration: $e")
          kind
        }
      }
      w.cleanupIteration(it)
      val leaks = Seq(
        spark.sparkContext.getPersistentRDDs.size -> "persisted RDDs",
        (if (Files.isEmptyDir(s"${w.dir}/tmp")) 0 else 1) -> "temp files")
        .collect { case (n, what) if n > 0 => s"$n $what left after iteration $it" }
      leaks.foreach(l => System.err.println(s"[perfbench] leak: $l"))
      Map(
        "traced" -> traced,
        "wall_s" -> calls.map(_.wallS).sum,
        "fs_bytes_written" -> bytesWritten,
        "leaks" -> leaks,
        "calls" -> calls.map { c =>
          val failedAfter = after.contains(c.kind)
          Map("kind" -> c.kind, "wall_s" -> c.wallS, "ok" -> (c.ok && !failedAfter),
            "digest" -> c.digest.map(_.toString).orNull)
        })
    }

    // ── set-up, repeated so that its median can be reported. Each set-up
    // generates the inputs and warms up with one untimed iteration. The
    // oracles are a function of the inputs: they run once, untimed, and
    // later set-ups only confirm that they generated the same inputs.
    // The loop below forces no collection: a System.gc() hands the
    // ContextCleaner work that then runs inside the next timed iteration.
    val setupReps = 3
    var workload: Workload = null
    var inputDigests = Map.empty[String, String]
    var extras = Map.empty[String, Double]
    var oracleS = 0.0
    val setupFailures = mutable.ArrayBuffer.empty[String]
    val repS = (1 to setupReps).map { rep =>
      val dataDir = s"$work/data"
      Files.delete(dataDir)
      val t = System.nanoTime()
      workload = Workload(name, spark, dataDir, seed)
      val digests = workload.inputs.map { case (n, df) => n -> Digest.of(df).toString }.toMap
      if (rep == 1) inputDigests = digests
      else if (digests != inputDigests)
        setupFailures += s"set-up $rep generated other inputs: $digests"
      val warm = runIteration(workload, traced = false)
      warm("calls").asInstanceOf[Seq[Map[String, Any]]].filterNot(_("ok") == true)
        .foreach(c => setupFailures += s"set-up $rep: ${c("kind")} failed")
      setupFailures ++= warm("leaks").asInstanceOf[Seq[String]]
      if (rep == 1) {
        // after the warm-up, which recorded its results as the reference:
        // the oracles are plain Spark plans and run faster on a warm JVM
        val o = System.nanoTime()
        workload.oracles.foreach { case (k, df) =>
          val want = Digest.of(df)
          expected.get(k).filter(_ != want).foreach(got =>
            setupFailures += s"set-up 1: $k digest $got, oracle $want")
          expected(k) = want
        }
        extras = workload.extras()
        oracleS = (System.nanoTime() - o) / 1e9
      }
      (System.nanoTime() - t) / 1e9 - (if (rep == 1) oracleS else 0.0)
    }
    System.err.println(s"[perfbench] input digest (seed $seed): " +
      inputDigests.map { case (n, d) => s"$n=$d" }.mkString(" "))

    // ── measurement: closed loop, one call in flight. A traced run first
    // runs one traced iteration untimed, so that its first timed traced
    // iteration does not pay for loading the tracing code.
    if (trace) {
      tracer.attach()
      try runIteration(workload, traced = true) finally tracer.detach()
      tracer.reset()
    }
    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    Heap.recording = true
    val start = System.nanoTime()
    // a traced run needs a traced and an untraced iteration for its overhead
    while ((System.nanoTime() - start) / 1e9 < seconds ||
        (trace && iterations.size < 2)) {
      val traced = trace && iterations.size % 2 == 0
      if (traced) tracer.attach()
      try iterations += runIteration(workload, traced)
      finally if (traced) tracer.detach()
    }
    Heap.recording = false
    val measuredS = (System.nanoTime() - start) / 1e9

    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "jvm_start_s" -> jvmStartS,
      "session_s" -> sessionS,
      "setup_rep_s" -> repS,
      "oracle_s" -> oracleS,
      "main_s" -> (System.nanoTime() - t0) / 1e9,
      "setup_failures" -> setupFailures.toSeq,
      "input_digest" -> inputDigests,
      "expected" -> expected.map { case (k, d) => k -> d.toString }.toMap,
      "extras" -> extras,
      "rows_per_iteration" -> workload.rowsPerIteration,
      "input_bytes" -> workload.inputBytes,
      "measured_s" -> measuredS,
      "peak_live_heap_mb" -> Heap.peakBytes / (1024.0 * 1024.0),
      "iterations" -> iterations.toSeq,
      "spans" -> tracer.spans.toSeq.map(_.toMap))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(out), result)
    spark.stop()
  }
}
