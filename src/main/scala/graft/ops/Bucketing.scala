package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table layout: pre-hash a table on its join/agg key at WRITE
  * time so every later join or aggregation on that key runs with zero
  * exchanges.
  *
  * This is the storage-side dual of [[Layout]]'s z-order trick: z-order
  * buys scan PRUNING, bucketing buys shuffle ELIMINATION. A table written
  * `bucketBy(n, key)` records its hash-partitioning in the catalog; when
  * two tables share the bucket count and key, Catalyst sees both sides
  * already partitioned `HashPartitioning(key, n)` and plans the sort-merge
  * join with NO Exchange on either side — and a `groupBy(key)` on one such
  * table aggregates entirely map-side (partial = final, no exchange at
  * all). At 100 TB this is the difference between re-shuffling the fact
  * table on every query and shuffling it exactly once, at load time; the
  * bucket count is the knob that fixes reducer fan-in forever after
  * (thousands on a real cluster, small here so sf0.001 specs still
  * exercise multi-row buckets).
  *
  * Mechanics this module owns:
  *   - bucketed writes go through `saveAsTable` (bucket metadata lives in
  *     the session catalog, not the parquet footer — a path read loses it);
  *     the data itself is plain parquet at an explicit external path.
  *   - the frame is `repartition(n, key)`-ed first so each bucket is one
  *     file per write: Spark only trusts per-bucket sort order when a
  *     bucket has a single file, and one-file-per-bucket also caps the
  *     small-file count at n per table regardless of writer parallelism.
  *   - `sortBy(key)` within buckets: with the single-file guarantee the
  *     reader skips the per-partition Sort too, so the join is pure
  *     streamed merge.
  *
  * Oracle strategy: layout must not change RESULTS — the paired query
  * computes a join+agg over the bucketed tables and is checked against
  * DuckDB running the same SQL on the raw parquet; the shuffle-free plan
  * shape itself is asserted by BucketingSpec (plans are not
  * SQL-observable).
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted external parquet table and
    * register it in the session catalog under `table` (dropped first if
    * present). The write is NOT atomic, unlike [[graft.etl.Sink]]'s staged
    * truncate-and-load: the drop and `SaveMode.Overwrite` remove the old
    * table before the job runs, so a failed write leaves no table. It is
    * for scratch copies only, which `bucketed_join` rewrites on every
    * construction.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
                    path: String, key: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(nBuckets, col(key))
      .write.format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }
}
