package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge-rule training — the
  * tokenizer-learning step of an LLM data pipeline — as one task-side
  * fold over the capped vocabulary: no driver loop, no driver collect,
  * and no Spark job at construction.
  *
  * Round structure (classic Sennrich/GPT BPE over a word-frequency
  * table):
  *   1. count adjacent symbol pairs, weighted by word frequency
  *      (adjacent-position counting, overlaps included — the standard);
  *   2. the argmax pair (ties broken lexicographically, so every engine
  *      agrees) becomes merge rule r; a round with no pair left emits the
  *      no-op rule ("", "", 0), since the empty string is never a symbol;
  *   3. apply the merge to every word, LEFTMOST-NON-OVERLAPPING.
  *
  * Scale: the corpus reduces once to a word-frequency table, the only
  * data-sized pass, and stays distributed. `orderBy(c desc, w).limit`
  * already hands the `maxWords`-capped vocabulary to a single task, so the
  * R rounds run there as plain Scala instead of as R distributed jobs.
  * Applying the learned rules to every distinct word is data-sized again
  * and runs as a distributed per-word map.
  */
object Bpe {

  /** Word-frequency base table: lowercase whitespace tokens restricted to
    * `^[a-z]+$` (BPE is defined over a closed symbol alphabet; the
    * separator char used by the oracle replay must not occur in a
    * symbol), capped at the `maxWords` most frequent words
    * (deterministic: count desc, word) so the oracle replay stays
    * affordable.
    */
  def wordTable(docs: DataFrame, textCol: String, maxWords: Int): DataFrame =
    capped(wordCounts(docs, textCol), maxWords)

  private def capped(counts: DataFrame, maxWords: Int): DataFrame =
    counts.orderBy(col("c").desc, col("w")).limit(maxWords)

  /** The one word-normalization contract (explode → lower → alphabet
    * filter → count) — every consumer and both DuckDB oracles must agree
    * on it, so it lives in exactly one place.
    */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("t"))
      .select(lower(col("t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** One rule: (a, b, pair_count). */
  private type Rule = (String, String, Long)

  /** The learned rules, in round order, as a ONE-row frame computed in
    * the single task that holds the capped vocabulary. A global aggregate
    * yields its one row even for an empty corpus, where
    * `coalesce(1).mapPartitions` would see no partition and emit no rule.
    */
  private def learned(vocab: DataFrame, rounds: Int): Dataset[Seq[Rule]] = {
    import vocab.sparkSession.implicits._
    vocab.select(collect_list(struct(col("w").as("_1"), col("c").as("_2"))))
      .as[Seq[(String, Long)]]
      .map(words => learn(words, rounds))
  }

  private def learn(words: Seq[(String, Long)], rounds: Int): Seq[Rule] = {
    var vocab = words.map { case (w, c) => (symbols(w), c) }
    (1 to rounds).map { _ =>
      val pairs = vocab.flatMap { case (syms, c) =>
        syms.sliding(2).collect { case Seq(a, b) => ((a, b), c) }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      // Scala's String order (UTF-16 units) equals Spark's byte order
      // here only because wordCounts keeps `^[a-z]+$`: symbols are ASCII
      val ((a, b), n) = pairs.minByOption { case ((a, b), n) => (-n, a, b) }
        .getOrElse((("", ""), 0L))
      vocab = vocab.map { case (syms, c) => (merge(syms, a, b), c) }
      (a, b, n)
    }
  }

  /** One symbol per character: words are `^[a-z]+$`, so no surrogates. */
  private def symbols(w: String): Vector[String] = w.map(_.toString).toVector

  /** Leftmost-non-overlapping merge: append each symbol, or replace the
    * last one when (last, next) is (a, b). The no-op rule ("", "") never
    * matches a symbol.
    */
  private def merge(syms: Vector[String], a: String, b: String): Vector[String] =
    if (syms.isEmpty) syms
    else syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
      if (acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
    }

  /** Apply `rounds` learned merge rules to EVERY distinct word (not just
    * the capped training vocabulary) and return (w, n_tokens) — the
    * tokenizer's inference path. The one-row rule frame is broadcast
    * onto the distinct-word table and folded per word; the word list is
    * distinct-word-sized, so a corpus tokenizes by a broadcast join
    * against this table instead of folding per occurrence.
    */
  def tokenizeWords(docs: DataFrame, textCol: String, rounds: Int,
                    maxWords: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // one word-count table feeds both the capped training vocabulary and
    // the full word list, so the plan reuses its exchange: one corpus scan.
    // Both sides keep `c`: pruning it from the word list would change that
    // side's aggregate and defeat the reuse
    val counts = wordCounts(docs, textCol)
    counts.crossJoin(broadcast(learned(capped(counts, maxWords), rounds)))
      .as[(String, Long, Seq[Rule])]
      .map { case (w, _, rules) =>
        val syms = rules.foldLeft(symbols(w)) {
          case (s, (a, b, _)) => merge(s, a, b)
        }
        (w, syms.size)
      }
      .toDF("w", "n_tokens")
  }

  /** Train `rounds` merge rules; returns one row per rule:
    * (round, a, b, merged, pair_count).
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
                  maxWords: Int): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    import docs.sparkSession.implicits._
    learned(wordTable(docs, textCol, maxWords), rounds)
      .flatMap(_.zipWithIndex.map { case ((a, b, n), i) =>
        (i + 1, a, b, a + b, n)
      })
      .toDF("round", "a", "b", "merged", "pair_count")
  }
}
