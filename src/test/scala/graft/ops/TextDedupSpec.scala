package graft.ops

import graft.TestSpark
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextDedupSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: word trigrams, short docs yield none") {
    val out = Seq("a b c d", "a b", "x y z").toDF("text")
      .select(TextDedup.shingles($"text").as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("x y z"))
  }

  test("minhash: identical docs share full signatures, LSH pairs them") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
      (3L, "the quick brown fox jumps over the lazy cat tonight"), // near dup
      (4L, "completely different words in this entirely unrelated text here")
    ).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text").cache()
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigMap(1L) == sigMap(2L))          // identical docs → identical sigs
    assert(sigMap(1L) != sigMap(4L))

    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L)))        // exact dup must collide
    assert(!pairSet.exists(p => p._2 == 4L || p._1 == 4L))  // unrelated must not
    val est12 = pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(est12 == 1.0)
    sigs.unpersist()
  }

  test("minhashSignatures is one map-only pass") {
    // two input partitions, so the fan-out adds no exchange of its own, and
    // an RDD source, so the optimizer cannot fold the fixture into a local
    // relation
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "too short"),
      (4L, null),
      (5L, " doubled  spaces, é and 😀 survive the fold ")), 2)
      .toDF("doc_id", "text")
    var sigs: DataFrame = null
    val jobsOf = new JobCounter(spark.sparkContext)
    try assert(jobsOf {
      sigs = TextDedup.minhashSignatures(docs, "doc_id", "text") } == 0)
    finally jobsOf.close()
    val plan = sigs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect {
      case a: BaseAggregateExec => a
      case e: Exchange => e
    }.isEmpty, s"signature plan aggregates or shuffles:\n$plan")

    val lanes = (0 until TextDedup.NumHashes).map(i => s"mh$i")
    assert(sigs.columns.toSeq == "doc_id" +: lanes)
    val ref = docs
      .withColumn("__sh", TextDedup.shinglesFromWords(
        split(coalesce(col("text"), lit("")), " "), 3))
      .select((col("doc_id") +: TextDedup.rowMinhashCols(col("__sh"))): _*)
      .filter(col("mh0").isNotNull)
    def rows(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> lanes.indices.map(i => r.getLong(i + 1))).toMap
    val got = rows(sigs)
    assert(got.keySet == Set(1L, 2L, 5L))   // short and null texts: no row
    assert(got == rows(ref))
  }

  test("lshCandidatePairs: one row per pair, however many bands collide") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "a b c d e g"), (4L, "u v w x y z")).toDF("doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(
        TextDedup.minhashSignatures(docs, "doc_id", "text"), "doc_id")
      .as[(Long, Long, Double)].collect()
    // 1 and 2 are identical, so they collide in all four bands
    assert(pairs.contains((1L, 2L, 1.0)))
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
  }

  test("jaccardOnPairs: exact trigram jaccard on known sets") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e}
    // intersection 1, union 3 → jaccard 1/3
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = TextDedup.jaccardOnPairs(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    assert(out(0)._3 == 0.333333)
  }

  test("jaccardOnPairs: disjoint docs score 0") {
    val docs = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = TextDedup.jaccardOnPairs(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out(0)._3 == 0.0)
  }

  test("duplicateClusters: transitive closure with min-id canonical labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),           // chain → {1,2,3}
      (5L, 6L),                     // pair  → {5,6}
      (7L, 8L), (8L, 9L), (7L, 9L)  // triangle → {7,8,9}
    ).toDF("doc_a", "doc_b")
    val out = TextDedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("duplicateClusters: long chains converge; too-low maxIters throws") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = TextDedup.duplicateClusters(chain)
    assert(out.as[(Long, Long)].collect().forall(_._2 == 1L))
    intercept[IllegalStateException] {
      TextDedup.duplicateClusters(chain, maxIters = 3)
    }
  }

  test("duplicateClusters: pointer jumping converges a 150-node path in O(log d)") {
    // a path graph is the worst case for plain min-label propagation
    // (iterations = diameter, so 150 nodes would need ~150 passes); with
    // pointer jumping the labeled reach doubles per pass, so maxIters=10
    // (2^10 >> 150) only succeeds if the jump step actually works
    val chain = (1L until 150L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = TextDedup.duplicateClusters(chain, maxIters = 10)
      .as[(Long, Long)].collect()
    assert(out.length == 150)
    assert(out.forall(_._2 == 1L))
  }

  test("repeatedSpanProfile: planted repeated spans are counted exactly, " +
    "unique and short docs hit the zero branch") {
    // n = 4: docs 1 and 2 share the verbatim 6-token span "the license
    // text of this corpus" → 3 repeated 4-token windows each; doc 2
    // additionally repeats one of those windows INSIDE itself (counts
    // toward rep_spans but the fingerprint is cross-doc anyway); doc 3
    // shares nothing; doc 4 is shorter than a window; doc 5 is null text
    val docs = Seq(
      (1L, "the license text of this corpus is standard"),
      (2L, "prefix words the license text of this corpus " +
        "the license text of"),
      (3L, "entirely different vocabulary with nothing shared at all"),
      (4L, "too short"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextDedup.repeatedSpanProfile(docs, "doc_id", "text", 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: 8 tokens → 5 windows; 3 of them ("the license text of",
    //   "license text of this", "text of this corpus") recur in doc 2
    // doc 2: 12 tokens → 9 windows; those 3 fps appear 4 times total
    //   ("the license text of" twice) + "of this corpus the",
    //   "this corpus the license", "corpus the license text" exist only
    //   within doc 2 → not cross-doc
    // doc 3: 8 tokens → 5 windows, none repeated
    // doc 4: 2 tokens → 0 windows; doc 5: null → '' → 1 token → 0
    assert(got == Seq(
      (1L, 5L, 3L, 3L),
      (2L, 9L, 4L, 3L),
      (3L, 5L, 0L, 0L),
      (4L, 0L, 0L, 0L),
      (5L, 0L, 0L, 0L)))
  }

  test("removeRepeatedSpans: covered tokens are cut, survivors rebuild " +
    "in order, untouched and empty docs pass through") {
    // same planted corpus as the profile test (n = 4):
    // doc 1 windows 0,1,2 are cross-doc → tokens 0..5 covered →
    //   cleaned "is standard";
    // doc 2 windows 2,3,4,8 cross-doc → tokens 2..7 ∪ 8..11 covered →
    //   cleaned "prefix words";
    // doc 3 untouched; doc 4 shorter than a window; doc 5 null → ''
    val docs = Seq(
      (1L, "the license text of this corpus is standard"),
      (2L, "prefix words the license text of this corpus " +
        "the license text of"),
      (3L, "entirely different vocabulary with nothing shared at all"),
      (4L, "too short"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    def h(s: String): String = org.apache.commons.codec.digest
      .DigestUtils.md5Hex(s)
    val got = TextDedup.removeRepeatedSpans(docs, "doc_id", "text", 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 6L, h("is standard")),
      (2L, 12L, 10L, h("prefix words")),
      (3L, 8L, 0L,
        h("entirely different vocabulary with nothing shared at all")),
      (4L, 2L, 0L, h("too short")),
      (5L, 1L, 0L, h(""))))
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "entirely different vocabulary with nothing shared whatsoever")
    ).toDF("doc_id", "text")
    val sig = TextDedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) <= 6)    // one word changed of nine
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }
}
