package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins the promise the LSH/jaccard docstrings make — "AQE's skew-join
  * handles a hot band at runtime" — with an actual plan assertion, the way
  * SourceFormatsSpec pins PushedFilters. A synthetic band table with one
  * pathologically hot band goes through the same aliased self-join +
  * shuffle_hash shape as TextDedup.lshCandidates; with the skew thresholds
  * scaled down to test-data sizes, AQE must recognize the hot partition
  * and split it (the executed plan advertises the skew-handled reader).
  */
class AqeSkewSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("AQE splits the hot band in the LSH-probe self-join shape") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production defaults are 256 MB / factor 5 — scale the byte floors
      // down so the ~100 KB test partition counts as skewed
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // one hot band (3000 members) among 200 cold bands (4 each) — the
      // hot-key histogram an adversarial shingle produces
      val bands = ((1 to 3000).map(i => ("hot", s"doc_$i" * 6)) ++
        (1 to 200).flatMap(b => (1 to 4).map(i => (s"band_$b", s"d${b}_$i"))))
        .toDF("band", "doc")
      val j = bands.as("x").join(bands.as("y").hint("shuffle_hash"), "band")
      // materialize THROUGH j's own QueryExecution — a .count() would
      // build a different plan and leave this one un-finalized
      val n = j.queryExecution.toRdd.count()
      assert(n == 3000L * 3000 + 200L * 16) // correctness first
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"expected a skew-handled shuffle read in the AQE plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
