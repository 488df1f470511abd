package graft.streaming

import graft.TestSpark
import graft.streaming.DocStreams.{QuotaDecision, QuotaDoc}
import graft.streaming.TwsGates.NeardupDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsGates]] certification: the quota gate against the batch
  * greedy-prefix rule (same oracle as QuotaStreamSpec), the near-dup
  * gate against the sequential-greedy replay on the shared
  * NeardupStreamSpec fixture — at both one-batch and many-batch feeds,
  * the near-dup gate driven as one `Trigger.AvailableNow` run per chunk
  * against a shared checkpoint.
  */
class TwsGatesSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Budget = 300L

  private val quotaFeed: Seq[QuotaDoc] = {
    val rnd = new scala.util.Random(41)
    (0 until 60).map { i =>
      QuotaDoc(s"src${i % 3}", 1000L + i,
        n_tokens = 10L + rnd.nextInt(90), seq = i.toLong)
    }
  }

  private def quotaRule(docs: Seq[QuotaDoc]): Map[Long, (Boolean, Long)] =
    docs.groupBy(_.source).flatMap { case (_, g) =>
      var cum = 0L
      g.sortBy(_.seq).map { d =>
        cum += d.n_tokens
        d.doc_id -> (cum <= Budget, cum)
      }
    }

  private def runQuota(chunks: Seq[Seq[QuotaDoc]], name: String)
  : Map[Long, (Boolean, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QuotaDoc]
    val q = TwsGates.tokenQuotaStreamTws(mem.toDS(), Budget)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      spark.table(name).as[QuotaDecision].collect()
        .map(d => d.doc_id -> ((d.kept, d.cum_tokens))).toMap
    } finally q.stop()
  }

  test("tws quota gate matches the batch prefix rule across batch shapes") {
    val want = quotaRule(quotaFeed)
    assert(runQuota(Seq(quotaFeed), "tws_quota_one") == want)
    assert(runQuota(quotaFeed.grouped(7).toSeq, "tws_quota_chunks") == want)
    // fixture-exercise: both branches fire per source
    quotaFeed.groupBy(_.source).foreach { case (src, g) =>
      val kept = g.count(d => want(d.doc_id)._1)
      assert(kept > 0 && kept < g.size, s"$src kept=$kept of ${g.size}")
    }
  }

  import NeardupStreamSpec.{Doc, feed, replay}

  /** Each chunk is one `Trigger.AvailableNow` drain-and-stop run against
    * a shared checkpoint, so every chunk after the first restores the
    * band claims (and their timers) from the checkpoint; NeardupStreamSpec
    * drives the same gate as one live query.
    */
  private def runNeardup(chunks: Seq[Seq[Doc]], name: String)
  : Map[Long, (Boolean, Int, Int)] = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"tws_neardup_$name").toString
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[NeardupDecision]())
    val mem = MemoryStream[Doc]
    chunks.foreach { c =>
      mem.addData(c: _*)
      val q = TwsGates.neardupStreamTws(mem.toDF())
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[NeardupDecision], _: Long) =>
            b.collect().foreach(results.add)
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow drain did not stop")
    }
    results.toArray(Array.empty[NeardupDecision])
      .map(d => d.doc_id -> ((d.kept, d.n_bands, d.claimed_bands))).toMap
  }

  test("tws near-dup gate matches the sequential-greedy replay") {
    val want = replay(feed, NeardupStreamSpec.bandKeys(spark, feed))
    assert(runNeardup(Seq(feed), "tws_neardup_one") == want)
    assert(runNeardup(feed.grouped(2).toSeq, "tws_neardup_chunks") == want)
    // the 2-hour eviction horizon outlives the feed → claims live across
    // batches: the near dup in the LAST chunk is still caught
    assert(!want(5L)._1)
  }
}
