package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`:
  * draining it before reading a listener's counters makes every event of
  * the jobs that already ran visible, with no settle-time guess.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
