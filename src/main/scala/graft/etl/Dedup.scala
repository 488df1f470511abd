package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-first deduplication (reference `etl/orders_etl.py:77-79,83-85`:
  * pandas `drop_duplicates(keep="first")` preserves the first occurrence in
  * file order).
  *
  * Scale notes: the window formulation is one hash-shuffle on the dedup key
  * followed by a streaming rank within each key group — the same cost as any
  * keyed aggregation, no global sort. At 100 TB the shuffle is unavoidable
  * for exact dedup (equal keys must meet). `dropDuplicates` would be
  * marginally cheaper (map-side partial aggregation) but keeps an
  * *arbitrary* row — only legal when the caller proves all survivors are
  * equivalent.
  *
  * Hot-key skew is guarded STRUCTURALLY, not by a stats gate: because the
  * `row_number()` window is consumed by an adjacent `rn = 1` filter,
  * Spark's `InferWindowGroupLimit` plans a PARTIAL WindowGroupLimit below
  * the exchange — each map task locally sorts its ~n/P rows (partition-
  * sized, key-independent) and forwards at most ONE row per key, so the
  * 100 TB crawl's empty-URL class contributes ≤ P rows (cluster metadata,
  * not data mass) to its reducer, where the FINAL limit reduces ≤ P rows
  * per key. No key's full mass ever crosses the wire or funnels through
  * one sort task. DedupSkewPlanSpec pins the Partial-below-Exchange shape
  * so an edit that breaks the filter adjacency (and with it the
  * inference) fails loudly.
  */
object Dedup {

  /** Keep the first row per key, "first" defined by `order` columns — use a
    * real data column (`ts`, `l_linenumber`) so results are deterministic
    * across partitionings and match a SQL `row_number()` oracle.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Keep-first in *file order* — reproduces pandas `keep="first"` exactly.
    * Order = (file path, position within file): `monotonically_increasing_id`
    * is monotone within a partition, which for an unshuffled scan encodes
    * in-file position; the `input_file_name` prefix makes multi-file input
    * deterministic too (lexicographic path order — Spark otherwise packs
    * files into partitions by *size*, which silently reorders them). Only
    * for reference-fidelity paths; oracle-checked queries use [[keepFirst]]
    * with an explicit data order column.
    */
  def keepFirstFileOrder(df: DataFrame, keys: Seq[String]): DataFrame =
    keepFirst(
      df.withColumn("_file", input_file_name())
        .withColumn("_seq", monotonically_increasing_id()),
      keys, Seq(col("_file"), col("_seq"))).drop("_file", "_seq")
}
