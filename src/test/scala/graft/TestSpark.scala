package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${System.getProperty("user.name", "u")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
