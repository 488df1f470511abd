package graft.streaming

import graft.TestSpark
import graft.streaming.TwsGates.NeardupDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsGates.neardupStreamTws]] certification: the near-dup gate
  * against the sequential-greedy replay on the shared NeardupStreamSpec
  * fixture, at both one-batch and many-batch feeds, driven as one
  * `Trigger.AvailableNow` run per chunk against a shared checkpoint.
  * QuotaStreamSpec certifies the quota gate.
  */
class TwsGatesSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

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
