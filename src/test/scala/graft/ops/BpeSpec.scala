package graft.ops

import graft.TestSpark
import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("learns merges in frequency order with lexicographic tie-break") {
    // "the"×4, "cat"×2, "sat"×1 → pair counts: (t,h)=4, (h,e)=4,
    // (a,t)=3, (c,a)=2, (s,a)=1. Round 1 is the 4-4 TIE: (h,e) wins
    // lexicographically. Round 2: (t,he)=4. Round 3: (a,t)=3.
    val docs = Seq("the the the cat", "the cat sat").toDF("text")
    val out = Bpe.trainMerges(docs, "text", rounds = 3, maxWords = 100)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out(0) == (1, "h", "e", "he", 4L))
    assert(out(1) == (2, "t", "he", "the", 4L))
    assert(out(2) == (3, "a", "t", "at", 3L))
  }

  test("merge application is leftmost-non-overlapping") {
    // "aaaa"×2: adjacent (a,a) counted WITH overlap (3 per word → 6),
    // but applied leftmost-non-overlapping: aaaa → [aa, aa], so round 2
    // sees (aa, aa) = 2
    val docs = Seq("aaaa aaaa").toDF("text")
    val out = Bpe.trainMerges(docs, "text", rounds = 2, maxWords = 10)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(out(0) == (1, "aa", 6L))
    assert(out(1) == (2, "aaaa", 2L))
  }

  test("tokenizeWords applies learned rules to words OUTSIDE the training cap") {
    // train on 'the'-dominated corpus with maxWords=2 ('the', 'cat');
    // 'thecat' is outside the cap but must still tokenize under the
    // learned rules (h+e, t+he after round 2)
    val docs = Seq("the the the cat thecat").toDF("text")
    val tok = Bpe.tokenizeWords(docs, "text", rounds = 2, maxWords = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(tok("the") == 1)    // [the]
    assert(tok("thecat") == 4) // [the, c, a, t]
    assert(tok("cat") == 3)    // untouched by (h,e)/(t,he)
  }

  test("exhausted merges emit the no-op sentinel, never annihilate the vocab") {
    // single-char words: round 1 has no pairs at all — an empty argmax
    // frame used to crossJoin the word table down to zero rows
    val docs = Seq("a b a c").toDF("text")
    val rules = Bpe.trainMerges(docs, "text", rounds = 2, maxWords = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4)))
    assert(rules.toSeq == Seq((1, "", "", 0L), (2, "", "", 0L)))
    val tok = Bpe.tokenizeWords(docs, "text", rounds = 2, maxWords = 10)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(tok == Map("a" -> 1, "b" -> 1, "c" -> 1))
    // and mid-way exhaustion: 'aa' merges once, then nothing is left
    val docs2 = Seq("aa aa").toDF("text")
    val rules2 = Bpe.trainMerges(docs2, "text", rounds = 3, maxWords = 10)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(rules2.toSeq == Seq((1, "aa", 2L), (2, "", 0L), (3, "", 0L)))
  }

  test("word table lowercases, filters the alphabet, and caps deterministically") {
    val docs = Seq("Foo foo BAR 123 b|d x").toDF("text")
    val words = Bpe.wordTable(docs, "text", maxWords = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // 'foo'×2 first, then the count-1 words in word order: 'bar'
    assert(words.toSeq == Seq(("foo", 2L), ("bar", 1L)))
  }

  test("job shape: building runs no job, training is one task-side fold") {
    // the rounds run in the one task that holds the capped vocabulary,
    // not as one distributed job per round (30 and 40 jobs before, 19 of
    // them at construction)
    val docs = Seq("the the the cat thecat", "the cat sat on a mat",
      "aaaa aaaa banana bandana").toDF("text")
    val jobsOf = new JobCounter(spark.sparkContext)
    try {
      var train, tok: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { train = Bpe.trainMerges(docs, "text", 10, 5) } == 0)
      assert(jobsOf { tok = Bpe.tokenizeWords(docs, "text", 10, 5) } == 0)
      assert(jobsOf(train.collect()) <= 2)
      assert(jobsOf(tok.collect()) <= 4)
    } finally jobsOf.close()
  }

  test("an empty corpus yields one no-op rule per round and no words") {
    val docs = Seq.empty[String].toDF("text")
    val rules = Bpe.trainMerges(docs, "text", rounds = 2, maxWords = 10)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(rules.toSeq == Seq((1, "", 0L), (2, "", 0L)))
    assert(Bpe.tokenizeWords(docs, "text", 2, 10).collect().isEmpty)
  }
}
