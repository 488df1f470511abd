package graft.functions

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class TopKAggregateSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(String, Double, Long)], k: Int,
                  partitions: Int = 1): Map[String, Seq[(Long, Double)]] =
    rows.toDF("g", "score", "id")
      .repartition(partitions)
      .groupBy("g")
      .agg(TopKFunctions.topK($"score", $"id", k).as("top"))
      .as[(String, Seq[(Long, Double)])].collect().toMap

  test("keeps the k best, ordered best-first, ties to the lowest id") {
    val rows = Seq(
      ("a", 1.0, 10L), ("a", 3.0, 11L), ("a", 2.0, 12L),
      ("a", 3.0, 5L),                       // tie with 11 → id 5 ranks first
      ("b", 7.0, 1L))
    val out = run(rows, 2)
    assert(out("a") == Seq((5L, 3.0), (11L, 3.0)))
    assert(out("b") == Seq((1L, 7.0)))      // group smaller than k
  }

  test("identical results under multi-partition merge") {
    val r = new scala.util.Random(42)
    val rows = Seq.tabulate(2000) { i =>
      (s"g${i % 7}", (r.nextInt(50) * 1.0), i.toLong)
    }
    val one = run(rows, 5, partitions = 1)
    val many = run(rows, 5, partitions = 13)
    assert(one == many)
  }

  test("null scores and ids are ignored") {
    val df = Seq[(String, Option[Double], Option[Long])](
      ("a", Some(1.0), Some(1L)), ("a", None, Some(2L)), ("a", Some(9.0), None)
    ).toDF("g", "score", "id")
    val out = df.groupBy("g")
      .agg(TopKFunctions.topK($"score", $"id", 3).as("top"))
      .as[(String, Seq[(Long, Double)])].collect().toMap
    assert(out("a") == Seq((1L, 1.0)))
  }

  test("wrong input types fail at analysis, not mid-job") {
    Seq(("a", 1, 1L)).toDF("g", "score_int", "id")
      .createOrReplaceTempView("topk_badtypes")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_top_k(score_int, id, 2) FROM topk_badtypes GROUP BY g")
        .collect()
    }
    assert(e.getMessage.contains("graft_top_k requires"))
  }

  test("registered as graft_top_k in SQL") {
    Seq(("a", 2.0, 1L), ("a", 5.0, 2L)).toDF("g", "score", "id")
      .createOrReplaceTempView("topk_in")
    val out = spark.sql(
      "SELECT g, graft_top_k(score, id, 1) AS top FROM topk_in GROUP BY g")
      .as[(String, Seq[(Long, Double)])].collect()
    assert(out.toSeq == Seq(("a", Seq((2L, 5.0)))))
  }
}
