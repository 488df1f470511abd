package org.apache.spark

/** Access to the driver's listener bus, which is `private[spark]`. The
  * tracer drains it before a span closes so that every job, stage and task
  * event of the span has reached the benchmark's listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
