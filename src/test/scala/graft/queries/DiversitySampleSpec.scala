package graft.queries

import graft.TestSpark
import graft.ops.TextDedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two corpus-forensics curation keys added this round:
  *
  *  - `sample_cluster_balanced` — the sqrt-quota law (per cluster, kept =
  *    min(ceil(sqrt(|cluster|)), SampleCap)), determinism of the
  *    md5-ordered sample, and the STRUCTURAL hot-cluster guard: the
  *    literal SampleCap filter adjacent to the ranking window must plan a
  *    partial WindowGroupLimit BELOW the centroid exchange (same guard
  *    keep-first dedup pins in DedupSkewPlanSpec).
  *  - `source_overlap` — planted cross-source duplicates must surface in
  *    the right (least, greatest)-canonicalized cell, and a within-source
  *    duplicate on the diagonal.
  */
class DiversitySampleSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("sample_cluster_balanced obeys the sqrt quota per cluster") {
    val out = VectorQueries
      .sampleClusterBalanced(spark, "/root/testdata/sf0.001")
      .select("centroid_id", "vec_id", "c_cnt", "rn")
      .collect()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_.getLong(0))
    byCluster.foreach { case (cid, rows) =>
      val cnt = rows.head.getLong(2)
      val quota = math.min(math.ceil(math.sqrt(cnt.toDouble)).toLong,
        VectorQueries.SampleCap.toLong)
      assert(rows.length.toLong == math.min(quota, cnt),
        s"cluster $cid: kept ${rows.length}, quota $quota of $cnt members")
      // ranks are a contiguous 1..kept prefix of the md5 order
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length))
    }
    // balanced means no cluster dominates: with sqrt quotas the largest
    // kept set is within ~sqrt ratio of the smallest, never |cluster| ratio
    val kept = byCluster.values.map(_.length).toSeq
    assert(kept.max <= VectorQueries.SampleCap)
  }

  test("sample_cluster_balanced is deterministic across runs") {
    def run() = VectorQueries
      .sampleClusterBalanced(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    assert(run() == run())
  }

  test("the SampleCap literal plans a partial WindowGroupLimit below the exchange") {
    // same shape as the query body, on a parquet-backed skewed fixture:
    // one centroid holds 70% of the rows
    val path = graft.SparkSessions.scratchDir() + "/diversity_skew"
    (0 until 400)
      .map(i => (if (i % 10 < 7) 7L else (i % 10).toLong, i.toLong))
      .toDF("centroid_id", "vec_id").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val w = Window.partitionBy("centroid_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val ranked = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= VectorQueries.SampleCap)
    val lines = ranked.queryExecution.executedPlan.toString.split("\n")
    val fin = lines.indexWhere(_.contains(", Final"))
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning(centroid_id"))
    val partial = lines.indexWhere(_.contains(", Partial"))
    assert(fin >= 0 && exchange >= 0 && partial >= 0,
      "group limit not inferred:\n" + lines.mkString("\n"))
    assert(fin < exchange && exchange < partial,
      s"group-limit not split around the exchange (final=$fin, " +
        s"exchange=$exchange, partial=$partial):\n" + lines.mkString("\n"))
  }

  test("source_overlap surfaces planted cross-source and within-source duplicates") {
    val boiler = "the quick brown fox jumps over the lazy dog again and " +
      "again with identical trigram structure throughout the entire body"
    val docs = Seq(
      (1L, boiler, "en", "crawl_a", boiler.length.toLong),
      (2L, boiler, "en", "crawl_b", boiler.length.toLong), // cross-source dup
      (3L, boiler, "en", "crawl_b", boiler.length.toLong), // within-source dup (2,3)
      (4L, "completely different content about distributed query engines " +
        "and columnar storage formats for analytical workloads",
        "en", "crawl_a", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")

    val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", TextDedup.NumHashes)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", TextDedup.NumHashes)
    val src = docs.select(col("doc_id"), col("source"))
    val cells = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("pair_count"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    // identical docs collide in every band: pairs (1,2) (1,3) cross, (2,3) within
    assert(cells.getOrElse(("crawl_a", "crawl_b"), 0L) == 2L, cells.toString)
    assert(cells.getOrElse(("crawl_b", "crawl_b"), 0L) == 1L, cells.toString)
    // doc 4 shares no shingles — no crawl_a diagonal cell
    assert(!cells.contains(("crawl_a", "crawl_a")), cells.toString)
  }
}
