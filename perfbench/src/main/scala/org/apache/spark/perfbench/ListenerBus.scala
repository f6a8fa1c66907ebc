package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each call so that every event of the call is attributed to it. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException =>
      System.err.println(s"[perfbench] listener bus not drained in $timeoutMillis ms")
    }
}
