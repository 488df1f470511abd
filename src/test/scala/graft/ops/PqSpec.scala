package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization assignment against a hand-checkable codebook. */
class PqSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  // dim=4, m=2 subspaces of 2, codebook k=2 (rows 0 and 1).
  // row 0 = [0,0, 10,10], row 1 = [5,5, 0,0]
  private val vecs = Seq(
    (0L, Array(0f, 0f, 10f, 10f)),
    (1L, Array(5f, 5f, 0f, 0f)),
    (2L, Array(1f, 1f, 9f, 9f)),   // sub0 → code 0 (d²=2 vs 32), sub1 → code 0 (d²=2 vs 162)
    (3L, Array(4f, 4f, 1f, 1f)),   // sub0 → code 1 (d²=2 vs 32), sub1 → code 1 (d²=2 vs 162)
    (4L, Array(2.5f, 2.5f, 5f, 5f)) // equidistant in both subs → tie → lower code 0
  ).toDF("vec_id", "embedding")

  test("pqAssign picks the nearest sub-centroid per subspace, ties to lower code") {
    val out = Vectors.pqAssign(vecs, "vec_id", m = 2, k = 2, dim = 4)
      .orderBy("vec_id", "sub")
      .select($"vec_id", $"sub", $"code", $"err2")
      .as[(Long, Long, Long, Double)].collect()
    val byVec = out.groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toList).toMap
    assert(byVec(2L) == List((0L, 0L), (1L, 0L)))
    assert(byVec(3L) == List((0L, 1L), (1L, 1L)))
    assert(byVec(4L) == List((0L, 0L), (1L, 0L)))   // exact tie → code 0
    // seed rows quantize to themselves with zero residual
    assert(byVec(0L) == List((0L, 0L), (1L, 0L)))
    assert(byVec(1L) == List((0L, 1L), (1L, 1L)))
    out.filter(r => r._1 <= 1L).foreach(r => assert(r._4 == 0.0, r.toString))
    // residuals: doc 2 sub0 = (1-0)²+(1-0)² = 2
    assert(out.find(r => r._1 == 2L && r._2 == 0L).get._4 == 2.0)
  }

  test("pqAssign emits exactly m rows per vector") {
    val counts = Vectors.pqAssign(vecs, "vec_id", m = 2, k = 2, dim = 4)
      .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.toSet == Set(2L))
    assert(counts.size == 5)
  }
}
