package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LineageSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("computed columns attribute to every referenced source column") {
    val df = graft.etl.Readers.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("net_price"))
    val lin = Lineage.columnLineage(df).toMap
    assert(lin("l_orderkey") == Seq("lineitem.l_orderkey"))
    assert(lin("net_price") ==
      Seq("lineitem.l_discount", "lineitem.l_extendedprice"))
  }

  test("lineage flows through joins, aggregates, and windows") {
    val o = graft.etl.Readers.table(spark, sfDir, "orders")
    val c = graft.etl.Readers.table(spark, sfDir, "customer")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue").desc)
    val df = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum("o_totalprice").as("revenue"))
      .withColumn("rnk", rank().over(w))
    val lin = Lineage.columnLineage(df).toMap
    assert(lin("c_mktsegment") == Seq("customer.c_mktsegment"))
    assert(lin("revenue") == Seq("orders.o_totalprice"))
    assert(lin("rnk") == Seq("orders.o_totalprice")) // rank over revenue
  }

  test("generated and expanded columns keep their attribution") {
    // explode (Generate): the generated column derives from its input —
    // losing this made the PII audit a false NEGATIVE for exploding plans
    val df = graft.etl.Readers.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val lin = Lineage.columnLineage(df).toMap
    assert(lin("tok") == Seq("documents.text"))
    assert(lin("doc_id") == Seq("documents.doc_id"))
    // rollup lowers to Expand: measures keep their source attribution
    val ru = graft.etl.Readers.table(spark, sfDir, "orders")
      .rollup("o_orderstatus")
      .agg(sum("o_totalprice").as("rev"))
    val linRu = Lineage.columnLineage(ru).toMap
    assert(linRu("rev") == Seq("orders.o_totalprice"))
    assert(linRu("o_orderstatus") == Seq("orders.o_orderstatus"))
  }

  test("dependents: the PII audit finds what reads a tainted column") {
    // on the denormalizing flagship join, a source column reaches only
    // the outputs derived from it
    val lin = Lineage.columnLineage(
      graft.queries.Core.denormalizedFlagship(spark, sfDir))
    def readersOf(src: String): Seq[String] =
      lin.collect { case (out, srcs) if srcs.contains(src) => out }
    assert(readersOf("customer.c_name") == Seq("c_name"))
    assert(readersOf("events.value") == Seq("value", "value_scaled"))
  }
}
