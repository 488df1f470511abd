package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("qualityFilter: rule order is too_short > low_diversity > no_stopwords") {
    val fluent = ("the quick brown fox jumps over a lazy dog and " +
      "then it runs far away to find more food for the winter season now")
    val docs = Seq(
      (1L, fluent),                                   // keeps
      (2L, "short text"),                             // too_short
      (3L, Seq.fill(30)("word").mkString(" ")),       // 30 tokens, ttr 1/30
      (4L, (1 to 30).map(i => s"w$i").mkString(" "))  // diverse, no stopwords
    ).toDF("doc_id", "text")
    val out = Curation.qualityFilter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("keep")).toSeq ==
      Seq(true, false, false, false))
    assert(out.map(_.getAs[String]("reject_reason")).toSeq ==
      Seq(null, "too_short", "low_diversity", "no_stopwords"))
    // doc 2 is BOTH too short and stopword-free: first rule wins
    assert(out(1).getAs[Long]("n_tokens") == 2L)
  }

  test("stratifiedSplit: deterministic, complete, ~80/10/10, append-stable") {
    val ids = (0L until 2000L).toDF("id")
    val split = ids.select($"id", Curation.stratifiedSplit($"id").as("s"))
    val counts = split.groupBy("s").count().as[(String, Long)]
      .collect().toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 120 && counts("val") < 280)
    assert(counts("test") > 120 && counts("test") < 280)
    // append stability: the first 500 ids keep their assignment when the
    // corpus grows — the property that keeps eval sets clean across runs
    val small = (0L until 500L).toDF("id")
      .select($"id", Curation.stratifiedSplit($"id").as("s"))
    val joined = split.filter($"id" < 500)
      .join(small.withColumnRenamed("s", "s2"), "id")
    assert(joined.filter($"s" =!= $"s2").isEmpty)
  }

  test("packShards: doc lands in the shard where it starts; strata independent") {
    val docs = Seq(
      ("en", 1L, 60L), ("en", 2L, 50L), ("en", 3L, 10L), ("en", 4L, 100L),
      ("de", 1L, 100L), ("de", 2L, 1L)
    ).toDF("lang", "doc_id", "n")
    val out = Curation.packShards(docs, $"lang", $"doc_id", $"n", budget = 100L)
      .select("lang", "doc_id", "cum_tokens", "shard")
      .orderBy("lang", "doc_id").collect()
    // de: starts at 0 -> shard 0; second starts at 100 -> shard 1
    assert(out.take(2).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((100L, 0L), (101L, 1L)))
    // en: starts 0,60,110,120 -> shards 0,0,1,1
    assert(out.drop(2).map(_.getLong(3)).toSeq == Seq(0L, 0L, 1L, 1L))
  }

  test("incrementalDedup: exact beats near as reason; unseen docs keep") {
    val mk = (id: Long, fp: String, sh: Long) => (id, fp, sh)
    val inc = Seq(mk(1L, "fpA", 10L), mk(2L, "fpX", 20L), mk(3L, "fpY", 99L))
      .toDF("doc_id", "fp", "simhash")
    // corpus: fpA present (doc1 exact); simhash 20 present (doc2 near);
    // doc3 matches nothing
    val corp = Seq(mk(100L, "fpA", 10L), mk(101L, "fpB", 20L))
      .toDF("doc_id", "fp", "simhash")
    val out = Curation.incrementalDedup(inc, corp, "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getAs[Boolean]("keep"), r.getAs[String]("drop_reason")))
      .toSeq == Seq((false, "exact_dup"), (false, "near_dup"), (true, null)))
  }

  test("contamination: overlap ratio exact; shingle-less docs omitted") {
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text") // shingles: abc, bcd
    val cands = Seq(
      (1L, "a b c x"),   // shingles abc, bcx -> 1/2 hit
      (2L, "p q r s"),   // 0/2
      (3L, "a b")        // no shingles -> omitted
    ).toDF("doc_id", "text")
    val out = Curation.contamination(cands, bench, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getAs[Double]("overlap") == 0.5)
    assert(out(0).getAs[Boolean]("contaminated"))
    assert(out(1).getAs[Double]("overlap") == 0.0)
    assert(!out(1).getAs[Boolean]("contaminated"))
  }

  test("chunkTokens: sliding windows, short docs are one chunk") {
    val docs = Seq(
      (2L, (1 to 4).map(i => s"u$i").mkString(" ")),  // n == size → 1 chunk
      (3L, (1 to 11).map(i => s"v$i").mkString(" "))) // starts 0,3,6,9
      .toDF("doc_id", "text")
    val out = Curation.chunkTokens(docs, "doc_id", "text",
        size = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(out(2L) == Seq((2L, 0L, 4L, "u1 u2 u3 u4")))
    assert(out(3L) == Seq(
      (3L, 0L, 4L, "v1 v2 v3 v4"),
      (3L, 1L, 4L, "v4 v5 v6 v7"),
      (3L, 2L, 4L, "v7 v8 v9 v10"),
      (3L, 3L, 2L, "v10 v11")))
    // every token of doc 3 is covered and the final chunk reaches the end
    assert(out(3L).last._4.endsWith("v11"))
  }
}
