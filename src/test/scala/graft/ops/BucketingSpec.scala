package graft.ops

import graft.TestSpark
import graft.queries.LayoutQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table layout: results are layout-invariant AND the plan is
  * exchange-free below the final rollup — the whole point of paying the
  * bucket shuffle at write time.
  */
class BucketingSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed join+agg matches the plain-parquet computation") {
    import graft.etl.Readers
    val bucketed = LayoutQueries.bucketedJoin(spark, dir).collect()
    val perOrder = Readers.table(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val plain = Readers.table(spark, dir, "orders")
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("n_items").as("n_items"),
        round(sum("rev"), 2).as("revenue"))
      .orderBy("o_orderpriority").collect()
    assert(bucketed.toSeq == plain.toSeq)
  }

  test("bucket-aligned join and per-key agg plan with zero exchanges") {
    // constructing the query (re)writes the bucketed tables; then build
    // the join WITHOUT the final rollup so the assertion isolates the
    // layout's effect: no Exchange of any kind below the join
    LayoutQueries.bucketedJoin(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val perOrder = spark.table(s"graft_b_lineitem_$tag")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"))
    val joined = spark.table(s"graft_b_orders_$tag")
      .join(perOrder.hint("merge"), col("o_orderkey") === col("l_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"), s"expected exchange-free plan:\n$plan")
  }

  test("one file per bucket (sort-trusted layout)") {
    LayoutQueries.bucketedJoin(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    val root = s"${graft.SparkSessions.scratchDir()}/bucketed/$tag/lineitem"
    val files = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == LayoutQueries.BucketCount,
      s"expected ${LayoutQueries.BucketCount} bucket files, got ${files.length}")
  }
}
