package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming IVF index maintenance ([[IvfAppendSink]]): streamed appends
  * land in the right cells (parity with the batch assignment), a
  * replayed micro-batch leaves the index byte-stable (the dynamic
  * partition overwrite contract), and cell pruning survives the
  * base ∪ delta union — the append path never costs probes their
  * 100 TB story.
  */
class IvfAppendSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val k = 8

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
    val more = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Nil
    }
    self ++ (p.children ++ more).flatMap(scans)
  }

  // real corpus split: first half bulk-builds the base, second half
  // arrives on the stream
  private lazy val corpus: Seq[EmbRow] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    graft.etl.Readers.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
      .map { case (id, e) => EmbRow(id, e, new Timestamp(base + id * 1000L)) }
  }

  private def centroids =
    corpus.take(k).toDF()
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))

  test("streamed appends: batch parity, idempotent replay, pruning through the union") {
    val path = graft.SparkSessions.scratchDir() + "/ivf_stream_test"
    val (baseHalf, streamHalf) = corpus.splitAt(corpus.size / 2)
    graft.ops.Vectors
      .assignToCentroids(baseHalf.toDF().select("vec_id", "embedding"),
        "vec_id", centroids)
      .withColumn("_n", graft.ops.Vectors.norm(col("embedding")))
      .write.partitionBy("centroid_id").mode("overwrite").parquet(path)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EmbRow]
    val q = mem.toDF().writeStream
      .foreachBatch(IvfAppendSink.appendBatch(path, centroids) _)
      .outputMode("append").start()
    try {
      // two micro-batches — batch_id partitioning must separate them
      streamHalf.grouped(math.max(1, streamHalf.size / 2)).foreach { c =>
        mem.addData(c: _*); q.processAllAvailable()
      }
    } finally q.stop()

    // 1) parity: the maintained index holds exactly the batch assignment
    //    of the full corpus
    val got = IvfAppendSink.readIndex(spark, path)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    val want = graft.ops.Vectors
      .assignToCentroids(corpus.toDF().select("vec_id", "embedding"),
        "vec_id", centroids)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got == want,
      s"index diverged from batch assignment: ${(got diff want).take(5)} / " +
        s"${(want diff got).take(5)}")

    // 2) idempotence: re-delivering batch 0 (foreachBatch's at-least-once
    //    crash contract) leaves the index unchanged — the replay
    //    overwrites its own batch_id partitions with identical rows
    val before = IvfAppendSink.readIndex(spark, path).count()
    IvfAppendSink.appendBatch(path, centroids)(
      streamHalf.take(math.max(1, streamHalf.size / 2)).toDF(), 0L)
    assert(IvfAppendSink.readIndex(spark, path).count() === before,
      "batch replay duplicated rows — delta overwrite is not idempotent")

    // 3) pruning: a 2-cell filter over base ∪ delta prunes BOTH scans to
    //    ≤ 2 partitions each (delta partitions are (batch, cell) pairs,
    //    so ≤ 2 cells × number of batches)
    val probed = IvfAppendSink.readIndex(spark, path)
      .filter(col("centroid_id").isin(1, 3))
    assert(probed.count() > 0)
    val ss = scans(probed.queryExecution.executedPlan)
    assert(ss.size >= 2, s"expected base+delta scans, got ${ss.size}")
    val nBatches = spark.read.parquet(IvfAppendSink.deltaPath(path))
      .select("batch_id").distinct().count()
    ss.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= 2L * nBatches,
        s"union scan read $read partitions — cell pruning lost in the union:\n$s")
    }

    // 4) compaction absorbs the delta: same content, single partitioned
    //    base again, delta gone — and a second compact is a no-op
    assert(graft.ops.IvfIndex.compact(spark, path))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      IvfAppendSink.deltaPath(path))), "compact left the delta behind")
    val compacted = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(compacted == want,
      "compaction changed the index content")
    assert(!graft.ops.IvfIndex.compact(spark, path),
      "compact with no delta must be a no-op")
  }
}
