package graft.functions

import graft.TestSpark
import graft.ops.Vectors
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen dot product must be bit-identical to the
  * higher-order-function fold it replaces (same sequential double math).
  */
class VectorExpressionsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def randomVecs(n: Int, d: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Seq.fill(d)(rnd.nextFloat() * 2 - 1)))
  }

  test("native expression matches the zip_with/aggregate fold bit-for-bit") {
    val df = randomVecs(200, 64, seed = 11L).toDF("id", "v")
      .crossJoin(randomVecs(3, 64, seed = 13L).toDF("id2", "w"))
    val out = df.select(
      Vectors.dot($"v", $"w").as("native"),
      Vectors.dotHof($"v", $"w").as("hof"))
      .as[(Double, Double)].collect()
    assert(out.length == 600)
    out.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("interpreted eval path (no codegen) agrees too") {
    val e = FloatArrayDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 2.0f, 3.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4.0f, 5.0f, 6.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null) == 32.0)
  }

  test("mismatched lengths yield null in both formulations") {
    val df = Seq((Seq(1.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = df.select(Vectors.dot($"a", $"b").as("n"),
      Vectors.dotHof($"a", $"b").as("h")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("zero-norm vector yields null cosine instead of ANSI divide-by-zero") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = df.select(Vectors.cosine($"a", $"b")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("null array yields null") {
    val df = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(Vectors.dot($"a", $"b")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("type check rejects non-float arrays") {
    val err = intercept[Exception] {
      Seq((Seq(1.0, 2.0), Seq(1.0, 2.0))).toDF("a", "b")
        .select(Vectors.dot($"a", $"b")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("float"))
  }
}
