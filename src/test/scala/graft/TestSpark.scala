package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (forked test JVM), on the
  * engine's own session contract plus a per-user warehouse dir.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSessions.builder("4")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${System.getProperty("user.name", "u")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
