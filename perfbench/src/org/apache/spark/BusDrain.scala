package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer waits on it before reading what its listener collected, so
  * events still queued on the bus are never silently missed.
  */
object BusDrain {
  /** True when every event posted so far was delivered within `ms`. */
  def waitUntilEmpty(sc: SparkContext, ms: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(ms); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
