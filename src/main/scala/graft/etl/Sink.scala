package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sinks. The reference's only sink is a truncate-and-load BigQuery upload
  * (`pandas_gbq.to_gbq(if_exists="replace")`, reference `etl/bq_client.py:27-32`,
  * `etl/run.py:11`) addressed as `dataset.tablename`
  * (reference `etl/bq_client.py:24`).
  *
  * In this offline environment the warehouse sink is Parquet with
  * `SaveMode.Overwrite` — the exact semantic equivalent of
  * `if_exists="replace"`. The `dataset.tablename` naming contract is kept:
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
    df.write.mode(SaveMode.Overwrite).parquet(s"$warehouseRoot/$dataset/$table")
  }

  /** ORC sink — the columnar alternative when the downstream stack is
    * Hive/Trino-first; same overwrite contract as the parquet sink.
    */
  def overwriteOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
}
