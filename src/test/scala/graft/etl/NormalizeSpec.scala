package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Cast/normalization semantics from the reference's dtype golden tests
  * (`tests/test_orders_etl.py:15-73`), checked at the value level.
  */
class NormalizeSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("orders casts: comma-decimal, dirty ids, ISO timestamps, longs") {
    val df = Seq(
      ("111", "2019-04-28T18:20:05", "5375", "Paid", "540", "12",
        "olena", "-", "igorivna", "345f56"),
      ("222234", "2019-04-20T16:04:04", "3356", "Waiting_Accepted", "1300,65",
        "23", "василь", "петренко", "олександрович", "596904"),
      ("49586", "2019-04-23T17:26:06", "786544", "Failed", "67", "34",
        "петро", "анрійко", "Маркіянович", "d59954")
    ).toDF("order_source_id", "order_created_datetime", "customer_id",
      "status", "sum", "quantity", "name", "surname", "patronymic", "product_id")

    val out = Normalize.castOrders(df)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Schemas.orders.map(f => (f.name, f.dataType)))

    val rows = out.orderBy("order_source_id").collect()
    assert(rows(0).getLong(0) == 111L)
    assert(rows(0).getTimestamp(1) == Timestamp.valueOf("2019-04-28 18:20:05"))
    assert(rows(0).getLong(9) == 34556L)      // "345f56" digit-stripped
    assert(rows(1).getLong(9) == 59954L)      // "d59954" digit-stripped
    assert(rows(2).getDouble(4) == 1300.65)   // "1300,65" comma-normalized
    assert(rows(0).getDouble(4) == 540.0)
    assert(rows(2).getLong(5) == 23L)
  }

  test("products casts: ints, dot-decimal doubles, category passthrough") {
    val df = Seq(
      ("34556", "45", "Творчість та канцтовари", "BIC"),
      ("596904", "56.55", "Творчість та канцтовари", "BIC"),
      ("5678", "10", "Ігрові фігурки", "Bingo"),
      ("56332", "13.50", "Іграшки для розвитку", "Hama")
    ).toDF("product_id", "price", "goods_group", "manufacturer")

    val out = Normalize.castProducts(df)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Schemas.products.map(f => (f.name, f.dataType)))
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(596904L).getDouble(1) == 56.55)
    assert(byId(56332L).getDouble(1) == 13.5)
    assert(byId(5678L).getString(2) == "Ігрові фігурки")
  }

  test("digitsToLong: dirty digits repair, all-junk throws under ANSI like pandas astype") {
    val ok = Seq("12x3", "00529629c").toDF("v")
      .select(Normalize.digitsToLong($"v").as("n")).as[Long].collect().toSeq
    assert(ok == Seq(123L, 529629L))
    // any script's decimal digits count, as in Python's \D and pandas'
    // int parse: Arabic-Indic, fullwidth, and supplementary-plane
    // mathematical digits (U+1D7D9, U+1D7DA)
    val unicode = Seq("12\u0663", "\u0663\u0664\u0665", "\uFF11\uFF12x",
        "\uD835\uDFD9\uD835\uDFDA7").toDF("v")
      .select(Normalize.digitsToLong($"v").as("n")).as[Long].collect().toSeq
    assert(unicode == Seq(123L, 345L, 12L, 127L))
    // value with no digits at all → empty string → ANSI cast throws, the
    // same fail-fast contract as pandas astype(int) (SURVEY §2.5)
    intercept[Exception] {
      Seq("abc").toDF("v").select(Normalize.digitsToLong($"v")).collect()
    }
  }
}
