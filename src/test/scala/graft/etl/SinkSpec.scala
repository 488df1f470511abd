package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The warehouse sink: truncate-and-load semantics
  * (`if_exists="replace"`, reference `etl/run.py:11`) and the
  * `dataset.tablename` naming contract (reference `etl/bq_client.py:24`).
  */
class SinkSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("overwrite replaces prior contents (truncate-and-load)") {
    val root = Files.createTempDirectory("graft-sink").toString
    Sink.overwriteTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      root, "orders.denormalized")
    val first = spark.read.parquet(s"$root/orders/denormalized")
    assert(first.count() == 2)

    Sink.overwriteTable(Seq((9L, "z")).toDF("id", "v"),
      root, "orders.denormalized")
    val second = spark.read.parquet(s"$root/orders/denormalized")
    assert(second.as[(Long, String)].collect().toSeq == Seq((9L, "z")))
  }

  test("a failed overwrite leaves the previous table whole") {
    val root = Files.createTempDirectory("graft-sink").toString
    val path = s"$root/orders/denormalized"
    Sink.overwriteTable(spark.range(1000).toDF("id"), root, "orders.denormalized")
    assert(spark.read.parquet(path).count() == 1000)

    // two partitions: the first writes its file before row 900 fails
    val failing = spark.range(0, 1000, 1, 2).select(
      when(col("id") === 900, raise_error(lit("bad order row 900")))
        .otherwise(col("id")).as("id"))
    val e = intercept[Exception] {
      Sink.overwriteTable(failing, root, "orders.denormalized")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("bad order row 900")), messages)

    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      (0L until 1000L))
    // no staging or trash directory left beside the table
    assert(new java.io.File(s"$root/orders").list().toSeq == Seq("denormalized"))
  }

  test("rejects table names outside the dataset.tablename contract") {
    val df = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Sink.overwriteTable(df, "/tmp/x", "no_dataset_part")
    }
    intercept[IllegalArgumentException] {
      Sink.overwriteTable(df, "/tmp/x", "a.b.c")
    }
  }
}
