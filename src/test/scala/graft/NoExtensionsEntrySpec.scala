package graft

import org.apache.spark.sql.GraftColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Driver-parity checks for sessions graft did not build itself.
  *
  * Note a true extensions-less session is unreachable in-JVM: Spark's
  * session constructors re-apply `spark.sql.extensions` from the shared
  * SparkConf, so a bare `new SparkSession(sc)` still carries the injected
  * rules and functions. What IS testable is that the entry point works in
  * any session over this context.
  */
class NoExtensionsEntrySpec extends AnyFunSuite {

  test("entry works in a bare session (driver smoke parity)") {
    val bare = GraftColumnBridge.bareSession(TestSpark.spark)
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(SparkEntry.entry(bare).count() > 0)
  }
}
