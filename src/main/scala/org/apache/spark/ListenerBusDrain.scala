package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a
  * profiler waits on it before reading what its listener collected, so
  * stage events still queued on the bus are not dropped.
  */
object ListenerBusDrain {
  /** True when every event posted so far was delivered within `ms`. */
  def waitUntilEmpty(sc: SparkContext, ms: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(ms); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
