package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class HashingTrickSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("token placement matches the md5 contract the oracle replays") {
    val dim = 16
    val vec = HashingTrickOps
      .hashFeatures(UTF8String.fromString("alpha beta alpha"), dim)
      .toDoubleArray()
    def slot(t: String): (Int, Double) = {
      val hx = md5hex(t)
      val idx = (java.lang.Long.parseLong(hx.substring(0, 8), 16) % dim).toInt
      val sgn = if (Integer.parseInt(hx.substring(8, 9), 16) % 2 == 0) 1.0 else -1.0
      (idx, sgn)
    }
    val (ia, sa) = slot("alpha"); val (ib, sb) = slot("beta")
    val expected = new Array[Double](dim)
    expected(ia) += 2 * sa
    expected(ib) += sb
    assert(vec.toSeq == expected.toSeq)
  }

  test("empty and multi-space text tokenize like split-with-empties") {
    val dim = 8
    val one = HashingTrickOps.hashFeatures(UTF8String.fromString(""), dim)
      .toDoubleArray()
    // "" yields one empty token — mirrors string_split('', ' ') = ['']
    assert(one.map(math.abs).sum == 1.0)
    val three = HashingTrickOps.hashFeatures(UTF8String.fromString("a  b"), dim)
      .toDoubleArray()
    // 'a', '', 'b'
    assert(three.map(math.abs).sum >= 1.0) // signed collisions may cancel
    val (nnzSum, _) = (three.map(math.abs).sum, ())
    assert(nnzSum == 3.0 || nnzSum == 1.0) // 3 tokens, possible ±cancel pair
  }

  test("stays inside WholeStageCodegen as a scan projection") {
    val df = spark.range(100)
      .select(concat(lit("tok"), col("id")).as("text"))
      .select(HashingTrickFunctions.hashingFeatures(col("text"), 32).as("v"))
    assert(!df.queryExecution.executedPlan.toString.contains("CodegenFallback"))
    val rows = df.select(size(filter(col("v"), x => x =!= 0.0))).collect()
    assert(rows.forall(_.getInt(0) == 1))
  }

  test("SQL surface: hashing_features") {
    val out = spark.sql(
      "SELECT hashing_features('x y z', 8) AS v").collect()(0).getSeq[Double](0)
    assert(out.length == 8 && out.map(math.abs).sum <= 3.0)
  }
}
