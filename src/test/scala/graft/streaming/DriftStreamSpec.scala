package graft.streaming

import graft.TestSpark
import graft.streaming.DriftStream.GroupDrift
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[DriftStream.histDriftStream]] certification: the LAST emitted
  * readout per group equals a direct batch fold of all its values
  * (bucket → count → KL) at two chunkings — intermediate emissions are
  * prefixes of the same fold, checked monotone in `n` — plus bucket
  * boundary behavior (values exactly ON an edge land in the upper
  * bucket) and the shifted-distribution fixture showing the gate
  * actually separates drifted from undrifted groups.
  */
class DriftStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Edges = Seq(10.0, 20.0, 40.0, 80.0)
  // reference = the "steady" generator's true bucket mass (uniform over
  // [0,80): 10/80, 10/80, 20/80, 40/80), with the overflow bucket kept
  // small-but-positive as the constructor requires
  private val Ref = Seq(0.125, 0.125, 0.25, 0.49, 0.01)

  /** steady ~ uniform over [0, 80); drifted ~ shifted mass into the top
    * buckets.
    */
  private val feed: Seq[(String, Double)] = {
    val rnd = new scala.util.Random(47)
    val steady = (1 to 400).map(_ => ("steady", rnd.nextDouble() * 80.0))
    val drifted = (1 to 400).map(_ => ("drifted",
      40.0 + rnd.nextDouble() * 80.0))
    // edge-exactness probe: values precisely on every bucket edge
    val onEdges = Edges.map(e => ("steady", e))
    rnd.shuffle(steady ++ drifted ++ onEdges)
  }

  private def batchRule(vals: Seq[(String, Double)])
  : Map[String, (Long, Double)] =
    vals.groupBy(_._1).map { case (g, vs) =>
      val counts = vs.groupBy(v => DriftStream.bucketOf(v._2, Edges.toArray))
        .map { case (b, xs) => b -> xs.size.toLong }
      g -> DriftStream.klOf(counts, Ref.toArray)
    }

  private def run(chunk: Int, name: String): Seq[GroupDrift] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = DriftStream.histDriftStream(mem.toDS(), Edges, Ref)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      feed.grouped(chunk).foreach { c =>
        mem.addData(c: _*); q.processAllAvailable()
      }
      spark.table(name).as[GroupDrift].collect().toSeq
    } finally q.stop()
  }

  test("final readout equals the batch fold at two chunkings; n is " +
    "monotone per group") {
    val want = batchRule(feed)
    for ((chunk, name) <- Seq((feed.size, "drift_one"), (61, "drift_chunks"))) {
      val got = run(chunk, name)
      val byGroup = got.groupBy(_.group)
      assert(byGroup.keySet == want.keySet)
      byGroup.foreach { case (g, rows) =>
        // update-mode emissions are cumulative prefixes, so their n values
        // must be pairwise DISTINCT and each batch strictly grows the
        // fold; sort first — the memory sink's collect() order is an
        // implementation detail, not part of the contract under test
        val ns = rows.map(_.n).sorted
        assert(ns.distinct == ns, s"$name/$g: duplicate n emissions: $ns")
        val last = rows.maxBy(_.n)
        val (wn, wkl) = want(g)
        assert(last.n == wn, s"$name/$g: n ${last.n} != $wn")
        assert(math.abs(last.kl - wkl) < 1e-12,
          s"$name/$g: kl ${last.kl} != $wkl")
      }
    }
  }

  test("drifted group separates from the steady one") {
    val want = batchRule(feed)
    assert(want("steady")._2 < 0.05,
      s"steady KL should be near zero: ${want("steady")._2}")
    assert(want("drifted")._2 > 0.5,
      s"drifted KL should be large: ${want("drifted")._2}")
  }

  test("edge values land in the upper bucket (bucketOf is right-open)") {
    assert(DriftStream.bucketOf(10.0, Edges.toArray) == 1)
    assert(DriftStream.bucketOf(9.999, Edges.toArray) == 0)
    assert(DriftStream.bucketOf(80.0, Edges.toArray) == 4)
    assert(DriftStream.bucketOf(1e9, Edges.toArray) == 4)
    assert(DriftStream.bucketOf(-5.0, Edges.toArray) == 0)
  }

  test("constructor rejects malformed references") {
    val ds = spark.emptyDataset[(String, Double)]
    intercept[IllegalArgumentException] {
      DriftStream.histDriftStream(ds, Seq(2.0, 1.0), Seq(0.5, 0.3, 0.2))
    }
    intercept[IllegalArgumentException] {
      DriftStream.histDriftStream(ds, Seq(1.0), Seq(0.5, 0.5, 0.0))
    }
    intercept[IllegalArgumentException] {
      DriftStream.histDriftStream(ds, Seq(1.0, 2.0), Seq(1.0, 0.0, 0.0))
    }
  }
}
