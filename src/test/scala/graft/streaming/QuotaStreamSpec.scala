package graft.streaming

import graft.TestSpark
import graft.streaming.DocStreams.{QuotaDecision, QuotaDoc}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsGates.tokenQuotaStreamTws]] certification: the per-source quota
  * gate is row-identical to the batch greedy-prefix rule over arrival
  * order, and the answer does not depend on micro-batch boundaries or
  * on the shuffle order within a batch (the `seq` sort is the
  * determinism contract). State is one long per source — the property
  * that lets the gate run unbounded with no watermark.
  */
class QuotaStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Budget = 300L

  /** Seeded random feed: 3 sources, ~60 docs, token sizes spanning the
    * budget (some singles near it, so the boundary fires mid-stream).
    */
  private val feed: Seq[QuotaDoc] = {
    val rnd = new scala.util.Random(41)
    (0 until 60).map { i =>
      QuotaDoc(s"src${i % 3}", 1000L + i,
        n_tokens = 10L + rnd.nextInt(90), seq = i.toLong)
    }
  }

  /** The batch twin: greedy prefix over seq order per source. */
  private def batchRule(docs: Seq[QuotaDoc]): Map[Long, (Boolean, Long)] =
    docs.groupBy(_.source).flatMap { case (_, g) =>
      var cum = 0L
      g.sortBy(_.seq).map { d =>
        cum += d.n_tokens
        d.doc_id -> (cum <= Budget, cum)
      }
    }

  private def run(chunks: Seq[Seq[QuotaDoc]], name: String)
  : Map[Long, (Boolean, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QuotaDoc]
    val q = TwsGates.tokenQuotaStreamTws(mem.toDS(), Budget)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      spark.table(name).as[QuotaDecision].collect()
        .map(d => d.doc_id -> (d.kept, d.cum_tokens)).toMap
    } finally q.stop()
  }

  test("quota decisions match the batch prefix rule, with both branches " +
    "firing per source") {
    val want = batchRule(feed)
    val got = run(Seq(feed), "quota_one_batch")
    assert(got == want)
    // the fixture must actually exercise the gate: every source keeps
    // some docs and drops some (r10 fixture-exercise lesson)
    feed.groupBy(_.source).foreach { case (src, g) =>
      val kept = g.count(d => got(d.doc_id)._1)
      assert(kept > 0 && kept < g.size, s"$src kept=$kept of ${g.size}")
    }
  }

  test("batch-boundary and within-batch shuffle invariance") {
    val want = batchRule(feed)
    // many small batches
    assert(run(feed.grouped(7).toSeq, "quota_chunks7") == want)
    // scrambled WITHIN each batch: the seq sort must restore the order
    val rnd = new scala.util.Random(5)
    val scrambled = feed.grouped(20).map(c => rnd.shuffle(c)).toSeq
    assert(run(scrambled, "quota_scrambled") == want)
  }

  test("a doc landing exactly on the budget is kept; the next is not") {
    val docs = Seq(
      QuotaDoc("s", 1L, 200L, 0L),
      QuotaDoc("s", 2L, 100L, 1L), // cum = 300 = budget: kept
      QuotaDoc("s", 3L, 1L, 2L))   // cum = 301: dropped forever
    val got = run(Seq(docs.take(2), docs.drop(2)), "quota_boundary")
    assert(got(1L) == (true, 200L))
    assert(got(2L) == (true, 300L))
    assert(got(3L) == (false, 301L))
  }
}
