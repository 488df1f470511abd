package graft

import org.apache.spark.sql.SparkSession

/** A value computed once per (SparkSession, key) and shared after: the
  * memoized testdata scans, catalog statistics, IVF index builds and
  * duplicate clusters.
  *
  * Every call first evicts the entries of stopped sessions: a stored
  * value can pin its whole session (a DataFrame holds QueryExecution →
  * SessionState → FileIndex), and a JVM that cycles sessions (the test
  * suites; a session-per-tenant driver) must not accumulate stopped ones
  * for its lifetime. The map stays #live-sessions × #keys small, so the
  * sweep is O(tiny) per call. Sessions compare by identity, so a
  * `spark.newSession()` keeps entries of its own.
  */
private[graft] final class SessionMemo[K, V] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()

  /** The value for (`spark`, `key`), running `compute` if there is none. */
  def apply(spark: SparkSession, key: K)(compute: => V): V = {
    val it = entries.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    entries.computeIfAbsent((spark, key), _ => compute)
  }

  /** Drop every entry of `spark`; the next [[apply]] recomputes. */
  def invalidate(spark: SparkSession): Unit = {
    val it = entries.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }
}
