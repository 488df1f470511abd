package graft

/** Smoke-check main mirroring the driver's entry check: runs
  * `SparkEntry.entry` and prints the row count (must be > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSessions.localFromEnv()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"SMOKE rows=${df.count()}")
    spark.stop()
  }
}
