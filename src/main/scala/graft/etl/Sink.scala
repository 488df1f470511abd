package graft.etl

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Sinks. The reference's only sink is a truncate-and-load BigQuery upload
  * (`pandas_gbq.to_gbq(if_exists="replace")`, reference `etl/bq_client.py:27-32`,
  * `etl/run.py:11`) addressed as `dataset.tablename`
  * (reference `etl/bq_client.py:24`).
  *
  * In this offline environment the warehouse sink is Parquet, replaced
  * only once the new table is fully written (see [[replace]]) — the
  * semantic equivalent of `if_exists="replace"`, a WRITE_TRUNCATE load job
  * that leaves the old table in place when it fails. The
  * `dataset.tablename` naming contract is kept:
  * it maps to `<root>/<dataset>/<tablename>`. On a connected cluster the
  * same call shape targets the spark-bigquery-connector
  * (`df.write.format("bigquery").option("table", t).mode(Overwrite)`).
  *
  * Scale notes: writes inherit the upstream partitioning — no coalesce(1)
  * here (a single-file write serializes 100 TB through one task). Callers
  * that need fewer output files should `repartition(n)` by a write-side key.
  */
object Sink {

  /** Truncate-and-load a table under a warehouse root directory. */
  def overwriteTable(df: DataFrame, warehouseRoot: String,
                     tableName: String): Unit = {
    require(tableName.matches("[A-Za-z0-9_]+\\.[A-Za-z0-9_]+"),
      s"table name must be dataset.tablename, got: $tableName")
    val Array(dataset, table) = tableName.split("\\.")
    replace(df, s"$warehouseRoot/$dataset/$table", "parquet")
  }

  /** ORC sink — the columnar alternative when the downstream stack is
    * Hive/Trino-first; same overwrite contract as the parquet sink.
    */
  def overwriteOrc(df: DataFrame, path: String): Unit =
    replace(df, path, "orc")

  /** Truncate-and-load `path`: the `format` write fills the hidden sibling
    * `.<name>.staging-<uuid>` (Spark's file listing skips dot-prefixed
    * paths), which then takes the table's place through two renames
    * (old table → `.<name>.trash-<uuid>`, staging → `path`) before the
    * trash is deleted. A failed write leaves the old table whole: the
    * staging dir is deleted and the write's own exception is rethrown.
    * Each rename is atomic on HDFS and local disk; on an object store a
    * rename is a copy, and the connector or table format (BigQuery, Delta)
    * owns atomicity.
    */
  private def replace(df: DataFrame, path: String, format: String): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id = UUID.randomUUID()
    val staging = new Path(target.getParent, s".${target.getName}.staging-$id")
    val trash = new Path(target.getParent, s".${target.getName}.trash-$id")
    try {
      df.write.format(format).save(staging.toString)
      val hadOld = fs.exists(target)
      if (hadOld && !fs.rename(target, trash))
        throw new IOException(s"could not move $target aside to $trash")
      if (!fs.rename(staging, target)) {
        if (hadOld) fs.rename(trash, target)
        throw new IOException(s"could not move $staging to $target")
      }
      if (hadOld) fs.delete(trash, true)
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(staging, true))
        throw e
    }
    // what Spark's own overwrite does for its output path: cached frames
    // over the table re-read it
    spark.catalog.refreshByPath(path)
  }
}
