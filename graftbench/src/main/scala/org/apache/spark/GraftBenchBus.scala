package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus calls the benchmark's tracer needs that Spark
  * keeps package-private: posting its own op markers into the bus, so
  * they are ordered with Spark's events, and draining the bus before
  * the trace is read.
  */
object GraftBenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
