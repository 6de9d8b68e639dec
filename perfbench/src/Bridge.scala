package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private.
  * Task-end events arrive asynchronously; per-layer sums are read only
  * after the bus has delivered every event of the run.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
