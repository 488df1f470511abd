package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the driver's listener bus, which is `private[spark]`:
  * draining it before reading a listener's counters makes every event of
  * the jobs that already ran visible, with no settle-time guess.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Counts the Spark jobs a block starts on `sc`. The bus is drained
  * before and after the block, so no earlier job is counted and every job
  * the block started is. `close()` removes the listener.
  */
final class JobCounter(sc: SparkContext) extends AutoCloseable {
  private val jobs = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }
  sc.addSparkListener(listener)

  def apply(body: => Any): Int = {
    ListenerBusDrain(sc)
    val before = jobs.get()
    body
    ListenerBusDrain(sc)
    jobs.get() - before
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}
