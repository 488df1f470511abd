package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Dedup.keepFirst]]'s structural skew guard: the `rn = 1` filter
  * adjacent to the `row_number()` window lets `InferWindowGroupLimit`
  * plan a PARTIAL WindowGroupLimit BELOW the key exchange, so every map
  * task forwards at most one row per key — a hot key's shuffle
  * contribution is bounded by the task count (cluster metadata), never
  * its data mass. This is what makes keep-first safe on a power-law key
  * at 100 TB without any stats gate; if a refactor breaks the filter
  * adjacency the inference silently disappears, which is exactly what
  * this spec exists to catch.
  */
class DedupSkewPlanSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("keepFirst plans a Partial WindowGroupLimit below the exchange") {
    // parquet-backed (a LocalRelation is bounded and plans differently)
    val path = graft.SparkSessions.scratchDir() + "/dedup_skew"
    (0 until 500).map(i => (if (i % 10 < 7) 42L else i.toLong, i.toLong))
      .toDF("k", "ord").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val dd = Dedup.keepFirst(df, Seq("k"), Seq(col("ord")))
    val lines = dd.queryExecution.executedPlan.toString.split("\n")
    def idx(marker: String): Int =
      lines.indexWhere(_.contains(marker))
    val partial = idx("WindowGroupLimit") match {
      case -1 => -1
      case _ => lines.indexWhere(_.contains(", Partial"))
    }
    val exchange = idx("Exchange hashpartitioning(k")
    val fin = lines.indexWhere(_.contains(", Final"))
    assert(partial >= 0, "no Partial WindowGroupLimit in the plan:\n" +
      lines.mkString("\n"))
    assert(fin >= 0 && exchange >= 0)
    // tree printing walks top-down: the Partial (map-side) limit must
    // print BELOW the exchange, the Final above it
    assert(fin < exchange && exchange < partial,
      s"group-limit not split around the exchange (final=$fin, " +
        s"exchange=$exchange, partial=$partial):\n" + lines.mkString("\n"))
    // and the guard changes no results: 70% of rows share key 42, the
    // survivor per key is the min-ord row
    val got = dd.select("k", "ord").as[(Long, Long)].collect().toMap
    val want = (0 until 500).map(i => (if (i % 10 < 7) 42L else i.toLong, i.toLong))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).min }
    assert(got == want)
  }
}
