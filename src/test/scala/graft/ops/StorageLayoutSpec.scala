package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-layout levers the 100 TB design relies on, proven against the
  * actual plans Catalyst produces:
  *
  *   - bucketed tables ⇒ co-located joins with NO shuffle exchange;
  *   - partitioned writes ⇒ partition pruning at scan time.
  */
class StorageLayoutSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle exchange") {
    // unique per-run table names: the in-memory catalog forgets tables on
    // restart but their warehouse directories survive, so reusing a fixed
    // name would hit "location already exists" after an interrupted run
    val run = java.lang.Long.toHexString(System.nanoTime())
    val liTable = s"li_bucketed_$run"
    val ordTable = s"ord_bucketed_$run"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liTable)
      ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordTable)
      val joined = spark.table(liTable)
        .join(spark.table(ordTable), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, plan was:\n$plan")
      // and it still computes the right thing
      assert(joined.count() ==
        li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $liTable")
      spark.sql(s"DROP TABLE IF EXISTS $ordTable")
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions") {
    // the 100 TB star-join lever STATIC pruning can't reach: the
    // qualifying partitions are only known after filtering the dim at
    // RUNTIME — Spark plans a dynamicpruning subquery on the fact's
    // partition column, so the fact scan reads only the partitions the
    // filtered dim actually joins
    val base = Files.createTempDirectory("graft_dpp").toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    orders.write.partitionBy("o_orderpriority").mode("overwrite")
      .parquet(s"$base/fact")
    orders.select(col("o_orderpriority").as("prio")).distinct()
      .withColumn("tier",
        when(col("prio") === "1-URGENT", "hot").otherwise("cold"))
      .write.mode("overwrite").parquet(s"$base/dim")
    val fact = spark.read.parquet(s"$base/fact")
    // the dim predicate must be one DPP considers "likely selective"
    // (EqualTo/In/comparison) — a bare boolean attribute filter is NOT,
    // and silently forfeits the pruning
    val dim = spark.read.parquet(s"$base/dim").filter(col("tier") === "hot")
    val q = fact.join(dim, fact("o_orderpriority") === dim("prio"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
    val planned = q.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning"),
      s"no dynamic pruning subquery in the fact scan:\n$planned")
    // and the pruned plan computes the static filter's answer — count
    // exactly; the sums via tolerance (double addition is
    // non-associative, and the two aggregations fold in different
    // partition orders)
    val got = q.collect()(0)
    val expected = orders.filter(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
      .collect()(0)
    assert(got.getLong(0) == expected.getLong(0))
    assert(math.abs(got.getDouble(1) - expected.getDouble(1)) < 1e-4)
  }

  test("partitioned write enables partition pruning at scan") {
    val out = Files.createTempDirectory("graft-part").toString
    graft.etl.Readers.events(spark, dir)
      .write.partitionBy("event_type").mode("overwrite").parquet(out)

    val pruned = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    val planStr = pruned.queryExecution.executedPlan.toString
    // the predicate must appear INSIDE the PartitionFilters bracket — the
    // bracket itself prints (empty) on every file scan
    val prunedFilter = "PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\]".r
    assert(prunedFilter.findFirstIn(planStr).isDefined, planStr)
    val expected = graft.etl.Readers.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("centroid-partitioned IVF index prunes partitions on the probe path") {
    // the 100 TB IVF layout: persist centroid assignments partitioned by
    // centroid_id, so an nprobe probe reads ONLY the probed cells'
    // directories instead of scanning the whole index
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val out = Files.createTempDirectory("graft-ivf").toString
    Vectors.assignToCentroids(emb, "vec_id", centroids)
      .write.partitionBy("centroid_id").mode("overwrite").parquet(out)

    val probed = spark.read.parquet(out)
      .filter(col("centroid_id").isin(1L, 3L))
    val planStr = probed.queryExecution.executedPlan.toString
    val prunedFilter = "PartitionFilters: \\[[^\\]]*centroid_id[^\\]]*\\]".r
    assert(prunedFilter.findFirstIn(planStr).isDefined, planStr)
    // pruning read only the probed cells, and the cells are complete
    val all = Vectors.assignToCentroids(emb, "vec_id", centroids)
    assert(probed.count() ==
      all.filter(col("centroid_id").isin(1L, 3L)).count())
    assert(probed.count() > 0 && probed.count() < all.count())
  }
}
