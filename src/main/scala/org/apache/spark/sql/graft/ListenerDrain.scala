package org.apache.spark.sql.graft

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the dev Profile tool
  * needs its `waitUntilEmpty` to drain job/stage events deterministically
  * before reporting (a fixed sleep raced late events off a loaded host
  * and under-counted jobs). This accessor lives in the repo's
  * `org.apache.spark.sql.graft` shim package for visibility only.
  */
object ListenerDrain {
  /** Block until the listener bus has delivered every queued event, or
    * `timeoutMillis` elapsed. A timeout is not fatal: it prints a
    * warning that counts taken from the listener may be incomplete, and
    * the caller carries on. */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case e: TimeoutException =>
        System.err.println(s"[profile] WARN listener bus not drained after " +
          s"$timeoutMillis ms (${e.getMessage}); job and stage counts may " +
          "be incomplete")
    }
}
