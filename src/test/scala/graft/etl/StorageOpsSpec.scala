package graft.etl

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Storage contract: a parquet read spans a schema evolution. */
class StorageOpsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString + "/t"

  test("mergeSchema read spans a column-addition schema evolution") {
    val path = tmp("evolve")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$path/w1")
    Seq((2L, "b", 9.5)).toDF("k", "s", "score").write.parquet(s"$path/w2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$path/w1", s"$path/w2")
    assert(merged.columns.toSet == Set("k", "s", "score"))
    val rows = merged.as[(Long, String, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }
}
