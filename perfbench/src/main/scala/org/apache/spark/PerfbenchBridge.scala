package org.apache.spark

/** The one Spark-internal hook the tracer needs: waiting until the listener
  * bus has delivered every event posted so far, so that job, task and
  * query-execution events are attributed before a span is closed.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
