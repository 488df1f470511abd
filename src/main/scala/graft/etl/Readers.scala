package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources. Two families:
  *
  *   1. the reference's CSV scans with scan-time column projection
  *      (reference `etl/orders_etl.py:72-75`);
  *   2. the synthetic Parquet testdata tables (`/root/repo/TESTDATA.md`).
  *
  * Scale notes: all readers hand Catalyst a declarative scan so column
  * pruning / predicate pushdown reach the file source (check
  * `PushedFilters` / `ReadSchema` in `.explain("formatted")`). CSV schemas
  * are explicit — never `inferSchema` (that is a second full pass over the
  * data). Parquet readers are plain `spark.read.parquet`, so partition
  * pruning and the vectorized reader apply unchanged on a real cluster.
  */
object Readers {

  /** Orders CSV scan projected to the 10 used columns, all-string.
    * The leading unnamed pandas index column is dropped by the projection,
    * mirroring `usecols` (reference `etl/orders_etl.py:72`).
    */
  def ordersCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.ordersCsvRaw)
      .csv(path)
      .select(Schemas.ordersReadCols.map(col): _*)

  /** Products CSV scan, 4-column projection
    * (reference `etl/orders_etl.py:73-75`).
    */
  def productsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.productsCsvRaw)
      .csv(path)
      .select(Schemas.productsReadCols.map(col): _*)

  /** A testdata Parquet table by name, memoized per (session, path).
    *
    * `spark.read.parquet` runs file listing + footer schema inference —
    * including one small Spark job — EVERY call. A catalog table resolves
    * that once; this cache gives the path-based testdata the same
    * behavior, so constructing a query repeatedly (the 4-pass bench, a
    * dashboard re-issuing plans) never re-lists or re-infers, and query
    * construction stays job-free after first touch
    * (LazyConstructionSpec). The returned DataFrame is an immutable
    * logical plan — sharing it across queries is exactly what a catalog
    * does; files appearing in the path after first read are not seen
    * until a new session (same contract as a metastore table without
    * REFRESH).
    */
  private val tableCache = new graft.SessionMemo[String, DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    tableCache(spark, path)(spark.read.parquet(path))
  }

  /** ORC source with an explicit schema (columnar like parquet — column
    * pruning and predicate pushdown work the same way; ORC files carry
    * their own schema, so the explicit one here acts as a projection +
    * type assertion).
    */
  def orc(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** JSON-lines source with an EXPLICIT schema and row-level quarantine.
    * The schema is never inferred: inference is a full extra pass over
    * the data and is type-unstable between samples; fields the schema
    * names but a line lacks read as null. Malformed lines survive the
    * scan in the `_corrupt_record` column (PERMISSIVE mode) instead of
    * failing the job or silently vanishing — at corpus scale a crawl
    * delivery ALWAYS contains broken lines, and the pipeline decision
    * (drop, retry, route to a quarantine sink) belongs to the caller,
    * not the parser. Well-formed rows parse into the schema with the
    * corrupt column null; a malformed line yields nulls plus its raw
    * text. Note Spark refuses a query that projects ONLY the corrupt
    * column (the parser would have nothing to fail on) — keep at least
    * one data column in quarantine-side projections.
    */
  def jsonlQuarantine(spark: SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType)
  : DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Fan a narrow source out to full parallelism before per-row-expensive
    * work (hashing, regex pipelines, vector math).
    *
    * A parquet scan parallelizes at row-group granularity; a small or
    * compacted input (single file, single row group) yields ONE partition,
    * and every downstream map runs on one core no matter how many the
    * cluster has. This is a no-op when the scan already has enough splits —
    * which is the normal case at production scale, where the extra shuffle
    * would be pure waste — so it costs nothing where it isn't needed and
    * buys full fan-out where it is.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, p / 2)) df
    else df.repartition(p)
  }

  /** The events table, with `ts` normalized to microsecond TimestampType
    * regardless of the on-disk layout — the generator has shipped the column
    * both as INT64 TIMESTAMP(NANOS) and as plain TIMESTAMP(MICROS), and a
    * deployed reader must accept either without a code change.
    *
    * Note `nanosAsLong` is session-wide (all shipped mains set it at
    * startup; the set here is a defensive idempotent re-set): any other
    * parquet read of a NANOS column in the session also sees longs — an
    * engine deployment should treat the flag as part of its session
    * contract.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, sfDir, "events"))
  }

  /** Normalize an events frame's `ts` to microsecond TimestampType:
    *
    *   - INT64 TIMESTAMP(NANOS) surfaces as long under `nanosAsLong` —
    *     floor-truncate to micros, the same truncation DuckDB applies
    *     casting TIMESTAMP_NS to TIMESTAMP, so oracle comparisons agree;
    *   - TIMESTAMP(MICROS) without UTC adjustment surfaces as
    *     TIMESTAMP_NTZ — reinterpret on the session's UTC clock
    *     (value-preserving, since the session timezone is pinned to UTC);
    *   - an already-zoned TimestampType passes through.
    *
    * Shared by the batch reader and the file-stream specs so batch and
    * streaming apply the identical conversion.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported on-disk type $other")
    }
}
