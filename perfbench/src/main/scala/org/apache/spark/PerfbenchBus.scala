package org.apache.spark

/** The listener bus is `private[spark]`; the tracer drains it before it
  * reads counters, so late task-end events are never lost. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
