package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Similarity scorer goldens from the reference
  * (`tests/test_orders_etl.py:148-200`) — these lock in the cross-wired
  * weight constants as the spec.
  */
class SimilaritySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val products = Seq(
    (536469L, 749.0, "Для активного відпочинку", "Bugs"),
    (296597L, 199.0, "Дитячі машинки", "CARS"),
    (385613L, 199.0, "Ігрові фігурки", "CARS"),
    (516423L, 219.0, "Дитячі машинки", "CARS"),
    (516425L, 299.0, "Дитячі машинки", "CARS"),
    (427227L, 329.0, "Дитячі машинки", "LENA"),
    (439541L, 810.0, "Дитячі машинки", "LENA"),
    (528462L, 219.0, "Дитячі машинки", "LENA")
  ).toDF("product_id", "price", "goods_group", "manufacturer")

  test("golden candidate scores vs target 516423") {
    val expected = Map(
      536469L -> 0.08772, 296597L -> 0.9726, 385613L -> 0.4726,
      516423L -> 1.0, 516425L -> 0.91973, 427227L -> 0.6997,
      439541L -> 0.58111, 528462L -> 0.8)
    val got = Similarity
      .findSimilar(products, 516423L, expected.keys.toSeq)
      .as[(Long, Double)].collect().toMap
    assert(got == expected)
  }

  private def scores(rows: Seq[(Option[Double], Option[String], Option[String],
      Option[Double], Option[String], Option[String])]): Seq[Option[Double]] =
    rows.toDF("price", "group", "mfr", "t_price", "t_group", "t_mfr")
      .select(Similarity.scoreExpr($"price", $"group", $"mfr",
        $"t_price", $"t_group", $"t_mfr"))
      .as[Option[Double]].collect().toSeq

  test("a null group or manufacturer on either side adds 0") {
    val (p, g, m) = (Some(10.0), Some("g"), Some("m"))
    val got = scores(Seq(
      (p, g, m, p, g, m),       // everything matches: 0.5 + 0.2 + 0.3
      (p, None, m, p, g, m),    // null candidate group
      (p, g, m, p, None, m),    // null target group
      (p, g, None, p, g, m),    // null candidate manufacturer
      (p, g, m, p, g, None),    // null target manufacturer
      (p, None, None, p, None, None))) // null never equals null
    assert(got == Seq(Some(1.0), Some(0.5), Some(0.5), Some(0.8), Some(0.8),
      Some(0.3)))
  }

  test("a null price or t_price gives a null score") {
    val (g, m) = (Some("g"), Some("m"))
    val got = scores(Seq(
      (None, g, m, Some(10.0), g, m),
      (Some(10.0), g, m, None, g, m)))
    assert(got == Seq(None, None))
  }

  test("score bounds: 0 < s <= 1 for positive prices") {
    val got = Similarity
      .findSimilar(products, 536469L, products.select("product_id").as[Long].collect().toSeq)
      .as[(Long, Double)].collect()
    assert(got.length == 8)
    got.foreach { case (_, s) => assert(s > 0.0 && s <= 1.0) }
  }
}
