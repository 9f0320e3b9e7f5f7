package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * tracer sees all jobs, stages and Catalyst actions before it reports.
  * Lives in this package because `listenerBus` is private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
