package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Test access to the driver's listener bus, which is `private[spark]`:
  * draining it before reading a listener's counters makes every event of
  * the jobs that already ran visible, with no settle-time guess.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Counts the Spark jobs a block starts on `sc`, the tasks of their
  * stages, and its SQL executions (one per query action, none for a plain
  * `runJob`). The bus is drained before and after the block, so no
  * earlier event is counted and every event the block caused is.
  * `close()` removes the listener.
  */
final class JobCounter(sc: SparkContext) extends AutoCloseable {
  private val jobs = new AtomicInteger(0)
  private val sqlExecutions = new AtomicInteger(0)
  private val stageTasks = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      stageTasks.addAndGet(jobStart.stageInfos.map(_.numTasks).sum)
    }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Jobs started by `body`. */
  def apply(body: => Any): Int = counts(body)._1

  /** Tasks of every stage of the jobs started by `body`. */
  def tasks(body: => Any): Int = {
    ListenerBusDrain(sc)
    val t = stageTasks.get()
    body
    ListenerBusDrain(sc)
    stageTasks.get() - t
  }

  /** (jobs, SQL executions) started by `body`. */
  def counts(body: => Any): (Int, Int) = {
    ListenerBusDrain(sc)
    val (j, q) = (jobs.get(), sqlExecutions.get())
    body
    ListenerBusDrain(sc)
    (jobs.get() - j, sqlExecutions.get() - q)
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}
