package graft.streaming

import graft.TestSpark
import graft.ops.{IvfIndex, Vectors}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[EmbeddingStreams.annEnrichBatch]] certification: streaming ANN
  * enrichment answered from the persisted IVF index matches the batch
  * `ann_ivf_pruned` key exactly (same queries, same index, same top-k
  * ranking contract), regardless of how the query stream is chunked —
  * and each micro-batch's index scan carries a LITERAL partition filter
  * on the probed centroids (the static-pruning twin of the batch key's
  * DPP, since runtime pruning subqueries are not planned inside
  * micro-batches).
  */
class AnnEnrichStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"
  private val K = 8
  private val TopK = 5

  private def centroids = graft.etl.Readers.table(spark, Dir, "embeddings")
    .select("vec_id", "embedding")
    .filter(col("vec_id") < K).limit(K)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))

  private def indexDf = {
    val emb = graft.etl.Readers.table(spark, Dir, "embeddings")
      .select("vec_id", "embedding")
    val tag = Dir.replaceAll("[^A-Za-z0-9]+", "_")
    val path = IvfIndex.ensure(spark,
      s"${graft.SparkSessions.scratchDir()}/ivf/${tag}_k$K",
      Vectors.assignToCentroids(emb, "vec_id", centroids)
        .withColumn("_n", Vectors.norm(col("embedding"))))
    spark.read.parquet(path)
  }

  private def queryVecs: Seq[(Long, Array[Float])] =
    graft.etl.Readers.table(spark, Dir, "embeddings")
      .filter(col("vec_id") < 5)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq

  private def run(chunks: Seq[Seq[(Long, Array[Float])]])
  : Set[(Long, Long, Int, Long, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    val idx = indexDf
    val cents = centroids.localCheckpoint()
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Row]())
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        EmbeddingStreams.annEnrichBatch(b, idx, cents, TopK)
          .collect().foreach(results.add)
      }.start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    results.toArray(Array.empty[Row]).map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSet
  }

  test("stream enrichment matches the batch ann_ivf_pruned answer") {
    val want = graft.queries.VectorQueries.annIvfPruned(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(want.nonEmpty)
    assert(run(Seq(queryVecs)) == want, "one-batch parity")
    assert(run(queryVecs.grouped(2).toSeq) == want, "chunked parity")
  }

  test("the per-batch index scan is partition-pruned to the probed cells") {
    val idx = indexDf
    val plan = EmbeddingStreams
      .annEnrichBatch(queryVecs.take(2).toDF("vec_id", "embedding"),
        idx, centroids, TopK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"no literal partition filter on the index scan:\n$plan")
  }

  test("at a production-shaped cell count the batch reads only its probe " +
    "fraction (runtime partition metrics, k=64)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
      val more = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      }
      self ++ (p.children ++ more).flatMap(scans)
    }
    val k = 64
    val emb = graft.etl.Readers.table(spark, Dir, "embeddings")
      .select("vec_id", "embedding")
    val cents64 = emb.filter(col("vec_id") < k).limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val tag = Dir.replaceAll("[^A-Za-z0-9]+", "_")
    val path = IvfIndex.ensure(spark,
      s"${graft.SparkSessions.scratchDir()}/ivf/${tag}_enrich_k$k",
      Vectors.assignToCentroids(emb, "vec_id", cents64)
        .withColumn("_n", Vectors.norm(col("embedding"))))
    val idx64 = spark.read.parquet(path)
    // a small batch (2 queries) probes at most 2 of the 64 cells
    val out = EmbeddingStreams.annEnrichBatch(
      queryVecs.take(2).toDF("vec_id", "embedding"), idx64, cents64, TopK)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val probed = rows.map(_.getLong(1)).distinct.length
    assert(probed <= 2)
    val read = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("_enrich_k")))
      .map(_.metrics("numPartitions").value)
    assert(read.nonEmpty && read.forall(_ == probed.toLong),
      s"scan read $read of $k cells; probe set has $probed")
  }
}
