package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener's totals only after every event posted so far was handled.
  * `waitUntilEmpty` is Spark-internal, hence this accessor's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
