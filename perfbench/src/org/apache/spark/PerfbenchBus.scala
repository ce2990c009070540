package org.apache.spark

/** The listener bus drain is `private[spark]`; the tracer needs it so every
  * task and job event of a span has been delivered before the span's
  * Spark work is summed, and the heap reading so no queued event is counted
  * as retained heap. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
