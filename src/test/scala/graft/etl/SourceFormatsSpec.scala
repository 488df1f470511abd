package graft.etl

import graft.TestSpark
import org.apache.spark.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Coverage for the sources and sinks beyond the reference's CSVs that
  * a key uses: the ORC round-trip (`orc_roundtrip`), parquet scan
  * hygiene, and the schema-first, quarantining JSONL reader
  * (`jsonl_roundtrip`).
  */
class SourceFormatsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name")
    d.toFile.deleteOnExit()
    s"$d/out"
  }

  test("orc round-trip preserves types; filters and projection push down") {
    val path = tmp("orc")
    val df = Seq((1L, "a", 10.5), (2L, "b", 20.5), (3L, "c", 30.5))
      .toDF("k", "s", "v")
    Sink.overwriteOrc(df, path)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val back = Readers.orc(spark, path, schema)
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 10.5), (2L, "b", 20.5), (3L, "c", 30.5)))
    // scan hygiene: the filter reaches the ORC reader and the projection
    // prunes to the two referenced columns
    val q = back.filter(col("k") > 1L).select("k", "v")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,1)]"),
      plan)
    assert(plan.contains("ReadSchema: struct<k:bigint,v:double>"), plan)
  }

  test("parquet scan: predicate pushdown + column pruning visible in plan") {
    val li = Readers.table(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val plan = li.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,45.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan)
  }

  test("jsonl read is schema-first: no inference job, missing fields null") {
    val path = tmp("jsonl2")
    Seq("""{"id": 1, "extra": "ignored"}""", """{"id": 2}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("absent", StringType)))
    val jobsOf = new JobCounter(spark.sparkContext)
    try assert(jobsOf(Readers.jsonlQuarantine(spark, path, schema)) == 0)
    finally jobsOf.close()
    val out = Readers.jsonlQuarantine(spark, path, schema)
      .select("id", "absent").orderBy("id").collect().toSeq
    assert(out == Seq(Row(1L, null), Row(2L, null)))
  }

  test("jsonl quarantine: malformed lines route to _corrupt_record, good rows parse") {
    val path = tmp("jsonl_quarantine")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"id": 1, "name": "ok"}
        |{"id": 2 "name": "missing comma"}
        |not json at all
        |{"id": 4, "name": "fine"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val df = Readers.jsonlQuarantine(spark, path, schema)
    val good = df.filter($"_corrupt_record".isNull)
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(good == Set((1L, "ok"), (4L, "fine")))
    val quarantined = df.filter($"_corrupt_record".isNotNull)
      .select($"id", $"_corrupt_record").collect()
    assert(quarantined.length == 2)
    // the raw line survives for the retry/audit sink
    assert(quarantined.exists(_.getString(1).contains("not json at all")))
    assert(quarantined.exists(_.getString(1).contains("missing comma")))
  }
}
