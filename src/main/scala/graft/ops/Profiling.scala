package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Data-profiling operators: the first thing a pipeline runs against a new
  * 100 TB delivery.
  *
  * [[profile]] computes every column's stats in ONE aggregation pass over
  * the table (a per-column loop of `df.select(...).agg(...)` would scan the
  * data once per column). The single wide aggregate row is then unpivoted
  * driver-side — it is one row, column count wide; the data never moves.
  */
object Profiling {

  /** Pairwise Pearson correlations of `cols`, all from ONE aggregation
    * pass (n·(n-1)/2 parallel `corr` aggregates — each a constant-size
    * co-moment state, map-side combined; the scan dominates, as it
    * should). The 1-row aggregate is unpivoted in-plan via explode of a
    * struct array — rows never move for the reshape. Correlations are
    * rounded to 6 decimals: the co-moment merge order varies with
    * partitioning, so the raw last ULP is not reproducible — the rounded
    * value is.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__$b").as("pearson_r"))
    }
    one.select(explode(array(stacked: _*)).as("r")).select(col("r.*"))
  }

  /** Per-column profile:
    * (column, n_nulls, n_distinct, min_num, max_num, nd_ok) — numeric
    * min/max as double (null for non-numeric columns), exact distinct
    * counts, and the HLL++ sketch-contract boolean (|approx − exact| ≤
    * 3·rsd·exact — the tolerance proven on `agg_approx_sketch`).
    *
    * Shape, after the r6 flag: fully LAZY (one single-row plan, no
    * `collect` — the unpivot is the in-plan explode-of-structs
    * [[corrMatrix]] uses), and NO multi-distinct Expand — the r6 version
    * put every `count(DISTINCT col)` in one aggregate, which duplicates
    * each scan row once per column and forces a sort-aggregate over the
    * expanded rows. Nulls / min / max / HLL sketches all ride ONE
    * constant-state hash-aggregate pass; each exact distinct is its own
    * stacked (distinct → count) subtree — two distributed hash shuffles,
    * bounded state, no Expand. At 100 TB the exact-distinct yardsticks are
    * the columns to drop (the sketch estimate is the scale answer — that
    * is what `nd_ok` certifies); the one-pass sketch profile is the
    * production shape.
    */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.schema.fields
    // backtick-quote: raw delivery column names may contain dots, which
    // bare col() would parse as nested-field paths
    def c(name: String) = col(s"`$name`")
    val wideAggs: Seq[Column] = cols.flatMap { f =>
      val (mn, mx) = f.dataType match {
        case _: NumericType =>
          (min(c(f.name)).cast("double"), max(c(f.name)).cast("double"))
        case _ =>
          (lit(null).cast("double"), lit(null).cast("double"))
      }
      Seq(
        count(when(c(f.name).isNull, 1)).as(s"${f.name}__nulls"),
        approx_count_distinct(c(f.name), rsd = 0.02).as(s"${f.name}__nd_est"),
        mn.as(s"${f.name}__min"),
        mx.as(s"${f.name}__max"))
    }.toSeq
    val wide = df.agg(wideAggs.head, wideAggs.tail: _*)
    // one row each, broadcast onto the single wide row
    val one = cols.foldLeft(wide) { (acc, f) =>
      acc.crossJoin(broadcast(
        df.select(c(f.name)).distinct()
          .agg(count(c(f.name)).as(s"${f.name}__nd_exact"))))
    }
    val stacked = cols.map { f =>
      struct(lit(f.name).as("col_name"),
        c(s"${f.name}__nulls").as("n_nulls"),
        c(s"${f.name}__nd_exact").as("n_distinct"),
        c(s"${f.name}__min").as("min_num"),
        c(s"${f.name}__max").as("max_num"),
        (abs(c(s"${f.name}__nd_est") - c(s"${f.name}__nd_exact"))
          <= c(s"${f.name}__nd_exact") * lit(0.06)).as("nd_ok"))
    }
    one.select(explode(array(stacked.toIndexedSeq: _*)).as("r")).select(col("r.*"))
  }

  /** Fixed-bound equi-width histogram of a numeric column: bucket 0 =
    * below lo, buckets+1 = at/above hi, else 1-based equal-width bins
    * (width_bucket semantics, spelled as explicit floor arithmetic so the
    * identical IEEE expression runs in any engine — built-in
    * `width_bucket`s differ in evaluation order at bin boundaries).
    * Fixed bounds keep it one pass; deriving bounds from the data is the
    * cheap min/max pass [[profile]] already provides.
    */
  def histogram(df: DataFrame, c: Column, lo: Double, hi: Double,
                buckets: Int): DataFrame = {
    val step = (hi - lo) / buckets
    df.select(
        when(c.isNull, lit(null))
          .when(c < lo, lit(0L))
          .when(c >= hi, lit(buckets + 1L))
          // least(): (c-lo)/step can round UP to exactly `buckets` for an
          // in-range c one ULP under hi — clamp so in-range values never
          // land in the overflow bucket (oracle must mirror the clamp)
          .otherwise(least(floor((c - lit(lo)) / lit(step)) + 1L,
            lit(buckets.toLong)))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
  }
}
