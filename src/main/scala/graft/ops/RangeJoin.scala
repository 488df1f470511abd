package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: match fact rows whose scalar value falls inside a
  * dimension row's `[lo, hi)` interval.
  *
  * The naive plan — `fact JOIN dim ON v >= lo AND v < hi` — has no equi
  * key, so Spark executes a broadcast nested loop: every fact row is
  * tested against every interval. Fine when the dim is tiny, quadratic
  * death when it isn't. The scale path here maps both sides onto a shared
  * bucket grid of width `bucketWidth`:
  *
  *   - each interval explodes into the buckets it covers (an interval of
  *     width w lands in ~w/bucketWidth buckets);
  *   - each fact row computes its single bucket;
  *   - hash equi-join on bucket, then the exact `[lo, hi)` refinement.
  *
  * The join becomes shuffle-partitionable on the bucket key, so it scales
  * out like any equi-join. `bucketWidth` trades dim replication (wide
  * intervals → more buckets) against candidate false positives (bucket
  * wider than intervals → more refinement misses); set it near the median
  * interval width.
  *
  * CLAMP open-ended intervals before joining: an interval generates
  * (hi−lo)/bucketWidth bucket rows, so a "no upper bound" sentinel like
  * 1e9 explodes one dim row into millions of grid rows. Cap hi at the
  * fact domain's real maximum (or route unbounded intervals through a
  * separate filter).
  */
object RangeJoin {

  /** Inner range join of `fact.valueCol` into `dim`'s `[loCol, hiCol)`.
    * Output: all fact columns + all dim columns.
    */
  def bucketedBetween(fact: DataFrame, valueCol: String,
                      dim: DataFrame, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    val dimBuckets = dim.withColumn("_bucket",
      explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        // hi is exclusive: an interval ending exactly on a bucket edge
        // does not reach into that bucket
        floor((col(hiCol) - lit(1e-9)) / bucketWidth).cast("long"))))
    val factBucketed = fact.withColumn("_bucket",
      floor(col(valueCol) / bucketWidth).cast("long"))
    factBucketed.join(dimBuckets, Seq("_bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("_bucket")
  }
}
