package graft.functions

import graft.TestSpark
import graft.functions.BloomFilterFunctions.bloomAgg
import graft.ops.RuntimeFilter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomFilterSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("no false negatives ever; false positives at the designed rate") {
    val n = 5000
    val bits = 10L * n // ~10 bits/key, k=5 → ~1% theoretical FP
    val buf = BloomFilterOps.newBuffer(bits, 5)
    (0 until n).foreach(i => BloomFilterOps.put(buf, i.toLong * 2654435761L))
    // every inserted value found — the one-sidedness the pruning relies on
    assert((0 until n).forall(i =>
      BloomFilterOps.mightContain(buf, i.toLong * 2654435761L)))
    // disjoint probes: FP rate well under 5%
    val fp = (n until 2 * n).count(i =>
      BloomFilterOps.mightContain(buf, i.toLong * 2654435761L))
    assert(fp < n / 20, s"false-positive rate too high: $fp/$n")
  }

  test("aggregate is partitioning-invariant: OR-merge gives identical bytes") {
    val ids = spark.range(0, 2000).select(xxhash64($"id").as("h"))
    def build(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.agg(bloomAgg($"h", 1L << 14, 5)).collect()(0).getAs[Array[Byte]](0)
    val one = build(ids.coalesce(1))
    val many = build(ids.repartition(13))
    assert(java.util.Arrays.equals(one, many))
    assert(BloomFilterOps.readNumBits(one) == (1L << 14))
    assert(BloomFilterOps.readNumHashes(one) == 5)
  }

  test("bloomPrunedSemiJoin equals the plain semi join for any filter size") {
    val fact = spark.range(0, 3000)
      .select(($"id" % 100).as("k"), $"id".as("payload"))
    val dim = spark.range(0, 50).select(($"id" * 2).as("dk")) // evens < 100
    val expected = fact.join(dim, $"k" === $"dk", "left_semi")
      .orderBy("payload").collect()
    // a tiny filter (high FP rate) must STILL be exact — FPs die in the join
    for (bits <- Seq(64L, 1L << 16)) {
      val got = RuntimeFilter.bloomPrunedSemiJoin(
          fact, $"k", dim, $"dk", numBits = bits, numHashes = 3)
        .orderBy("payload").collect()
      assert(got.sameElements(expected), s"mismatch at numBits=$bits")
    }
  }

  test("SQL surface: graft_bloom_agg + graft_bloom_contains") {
    spark.range(0, 100).select(xxhash64($"id").as("h"))
      .createOrReplaceTempView("bloom_in")
    val bf = spark.sql(
      "SELECT graft_bloom_agg(h, 8192, 5) AS bf FROM bloom_in")
    bf.createOrReplaceTempView("bloom_bf")
    val hits = spark.sql(
      """SELECT count(*) AS n FROM range(0, 200) r, bloom_bf
        |WHERE graft_bloom_contains(bf, xxhash64(r.id))""".stripMargin)
      .collect()(0).getLong(0)
    assert(hits >= 100 && hits < 120) // all members + few FPs
  }

  test("stale-format buffers fail loudly, never return false negatives") {
    // the h1 derivation is part of the bit layout: a buffer tagged with a
    // different version (e.g. persisted before the avalanche-mix change,
    // whose byte 0 was numHashes' zero top byte) must be rejected at the
    // probe, not silently probed at wrong positions
    val buf = graft.functions.BloomFilterOps.newBuffer(1024, 5)
    graft.functions.BloomFilterOps.put(buf, 42L)
    val stale = buf.clone(); stale(0) = 0
    val e = intercept[IllegalArgumentException] {
      graft.functions.BloomFilterOps.mightContain(stale, 42L)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("the probe is codegen-native: no CodegenFallback in the filter") {
    val dim = spark.range(0, 500).select(($"id" * 3).as("dk"))
    val pruned = RuntimeFilter.bloomPrunedSemiJoin(
      spark.range(0, 5000).select(($"id" % 1500).as("k")),
      $"k", dim, $"dk")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
  }
}
