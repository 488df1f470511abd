package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The per-session memo behind `Readers.table`, `CatalogStats`,
  * `IvfIndex` and `TextQueries.sharedClusters`.
  */
class SessionMemoSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  /** A memo whose values count the computations run so far. */
  private class Counting {
    val memo = new SessionMemo[String, Int]
    var runs = 0
    def get(s: SparkSession, key: String): Int = memo(s, key) {
      runs += 1
      runs
    }
  }

  test("a value is computed once per (session, key)") {
    val c = new Counting
    assert(c.get(spark, "a") == 1)
    assert(c.get(spark, "a") == 1)
    assert(c.get(spark, "b") == 2)
    assert(c.runs == 2)
  }

  test("spark.newSession() keeps entries of its own") {
    val c = new Counting
    val other = spark.newSession()
    assert(c.get(spark, "a") == 1)
    assert(c.get(other, "a") == 2)
    assert(c.get(spark, "a") == 1)
    assert(c.get(other, "a") == 2)
  }

  test("invalidate drops only that session's entries; the next call recomputes") {
    val c = new Counting
    val other = spark.newSession()
    c.get(spark, "a"); c.get(spark, "b"); c.get(other, "a")
    c.memo.invalidate(spark)
    assert(c.get(other, "a") == 3)
    assert(c.runs == 3)
    assert(c.get(spark, "a") == 4)
    assert(c.get(spark, "b") == 5)
    assert(c.get(spark, "a") == 4)
  }
}
