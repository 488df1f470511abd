package graft.queries

import graft.etl.Readers
import graft.ops.TextModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus statistical-model queries over `documents`: Gopher-style n-gram
  * repetition signals and bigram-LM (perplexity-filter) document scoring.
  * Oracles spell the same integer-count arithmetic; only the final
  * divisions/logs are floating point, rounded to 6 in both engines.
  */
object TextModelQueries {

  /** Per-doc repetition quality signals. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the in-row run-length scan is map-only, so WITHOUT a
    // re-split the whole corpus pass runs on however few tasks the file
    // count allows (one, for a single-file testdata table)
    TextModel.repetitionStats(
        Readers.fanOut(Readers.table(spark, dir, "documents")
          .select("doc_id", "text")), "doc_id", "text")
      .orderBy("doc_id")

  private def gramCte(n: Int, name: String): String = {
    val gram = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""$name AS (
       |  SELECT doc_id, g, count(*) AS c FROM (
       |    SELECT doc_id,
       |      unnest([$gram for i in range(1, greatest(len(w) - ${n - 2}, 1))]) AS g
       |    FROM t)
       |  GROUP BY doc_id, g
       |)""".stripMargin
  }

  val repetitionStatsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |${gramCte(2, "bgc")},
       |${gramCte(3, "tgc")},
       |bgs AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot, max(c) AS top,
       |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup
       |  FROM bgc GROUP BY doc_id),
       |tgs AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot,
       |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup
       |  FROM tgc GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |  round(bgs.top / bgs.tot::DOUBLE, 6) AS top_bigram_frac,
       |  round(bgs.dup / bgs.tot::DOUBLE, 6) AS dup_bigram_frac,
       |  round(tgs.dup / tgs.tot::DOUBLE, 6) AS dup_trigram_frac
       |FROM t LEFT JOIN bgs USING (doc_id) LEFT JOIN tgs USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Bigram-LM document scores (add-one smoothing, corpus-trained). */
  def ngramLmScore(spark: SparkSession, dir: String): DataFrame =
    TextModel.bigramLmScore(
        Readers.fanOut(Readers.table(spark, dir, "documents")
          .select("doc_id", "text")), "doc_id", "text")
      .orderBy("doc_id")

  val ngramLmScoreSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, string_split(g, chr(9))[1] AS w1,
      |    string_split(g, chr(9))[2] AS w2 FROM (
      |    SELECT doc_id,
      |      unnest([w[i] || chr(9) || w[i+1]
      |              for i in range(1, greatest(len(w), 1))]) AS g
      |    FROM t)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |c1  AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |v   AS (SELECT count(DISTINCT t2.t)::DOUBLE AS v
      |        FROM (SELECT unnest(w) AS t FROM t) t2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(avg(ln((c12 + 1.0) / (c1 + v))), 6) AS avg_logp,
      |  round(exp(-round(avg(ln((c12 + 1.0) / (c1 + v))), 6)), 4) AS ppl
      |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val HashDim = 64

  /** Feature hashing over documents ([[graft.functions.HashingTrick]]):
    * text → fixed-64-dim signed-count vector in a NARROW MAP — no
    * vocabulary pass, no explode, no shuffle; the whole featurization is
    * one codegen expression in the scan projection. The oracle rebuilds
    * every vector component from md5 arithmetic and certifies via
    * collision-sensitive summaries: nonzero count, L2 norm, and the
    * index-weighted checksum (integer-exact, so a single misplaced or
    * missigned token breaks it).
    */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    val vec = graft.functions.HashingTrickFunctions
      .hashingFeatures(col("text"), HashDim)
    Readers.table(spark, dir, "documents")
      .select(col("doc_id"), vec.as("v"))
      .select(col("doc_id"),
        size(filter(col("v"), x => x =!= 0.0)).as("nnz"),
        round(sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)), 6)
          .as("l2"),
        aggregate(zip_with(col("v"),
            sequence(lit(1L), lit(HashDim.toLong)), (x, i) => x * i),
          lit(0.0), (a, x) => a + x).cast("long").as("checksum"))
      // pin before the deterministic-output sort (r17 sweep): the range
      // sampler re-built the HashDim-wide feature vector and its three
      // folds for every document. Lazy + map-only: job-free construction.
      .localCheckpoint(false)
      .orderBy("doc_id")
  }

  val featureHashingSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % $HashDim AS INTEGER)
       |      AS idx,
       |    CASE WHEN ('0x' || substr(md5(t), 9, 1))::INTEGER % 2 = 0
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM tok
       |), v AS (
       |  SELECT doc_id, idx, CAST(sum(sgn) AS DOUBLE) AS val
       |  FROM h GROUP BY 1, 2
       |)
       |SELECT doc_id,
       |  CAST(COALESCE(sum(CASE WHEN val <> 0 THEN 1 END), 0) AS INTEGER)
       |    AS nnz,
       |  round(sqrt(COALESCE(sum(val * val), 0)), 6) AS l2,
       |  CAST(COALESCE(sum(val * (idx + 1)), 0) AS BIGINT) AS checksum
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val BpeRounds   = 10
  val BpeMaxWords = 2000

  /** Distributed BPE merge-rule training ([[graft.ops.Bpe]]): the corpus
    * reduces to a word-frequency table, then 10 rounds run as one
    * task-side fold over the `BpeMaxWords`-capped vocabulary — no driver
    * collect, no job per round. The oracle replays every round (pair
    * count → argmax → leftmost-non-overlapping merge via a string fold),
    * so a divergence in ANY round's counting, tie-break, or merge
    * application breaks every subsequent row.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.trainMerges(
      Readers.table(spark, dir, "documents"), "text",
      rounds = BpeRounds, maxWords = BpeMaxWords)

  /** Shared oracle-CTE generators for the two BPE keys: both replays
    * MUST use identical pair counting, sentinel, tie-break, and fold —
    * a fix applied to one copy and not the other would leave the keys
    * certified against diverging semantics.
    */
  private def bpePairAndRuleCte(r: Int): String =
    s"""p$r AS (
       |  SELECT pr[1] AS a, pr[2] AS b,
       |    CAST(sum(c) AS BIGINT) AS pair_count FROM (
       |    SELECT c, unnest(list_zip(list_slice(sy, 1, len(sy)-1),
       |                              list_slice(sy, 2, len(sy)))) AS pr
       |    FROM (SELECT c, list_slice(string_split(s, '|'), 1, -2) AS sy
       |          FROM v${r - 1})
       |    WHERE len(sy) >= 2)
       |  GROUP BY 1, 2
       |),
       |m$r AS (SELECT a, b, pair_count FROM (
       |          SELECT a, b, pair_count FROM p$r
       |          UNION ALL SELECT '', '', 0::BIGINT)
       |        ORDER BY pair_count DESC, a, b LIMIT 1)""".stripMargin

  private def bpeFoldCte(name: String, src: String, rule: String): String =
    s"""$name AS (
       |  SELECT w, c,
       |    list_reduce(list_prepend('', list_slice(string_split(s,'|'),1,-2)),
       |      (acc, x) -> CASE WHEN x = $rule.b
       |                        AND ends_with('|' || acc, '|' || $rule.a || '|')
       |                       THEN left(acc, len(acc) - len($rule.a) - 1)
       |                            || $rule.a || $rule.b || '|'
       |                       ELSE acc || x || '|' END) AS s
       |  FROM $src, $rule
       |)""".stripMargin

  val bpeTrainSql: String = {
    val finals = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, a, b, a||b AS merged, pair_count FROM m$r")
      .mkString("\nUNION ALL\n")
    // each part stripMargin'd SEPARATELY, then plain-concatenated: the
    // generated SQL is full of legitimate '|' (concat operator, symbol
    // separator), and a second stripMargin pass over embedded parts
    // would eat one pipe of every line-leading '||'
    val header =
      s"""WITH words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT lower(unnest(string_split(text,' '))) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |  GROUP BY w ORDER BY c DESC, w LIMIT $BpeMaxWords
         |),
         |v0 AS (SELECT w, c, regexp_replace(w, '(.)', '\\1|', 'g') AS s
         |       FROM words)""".stripMargin
    val rounds = (1 to BpeRounds).map(r =>
      bpePairAndRuleCte(r) + ",\n" + bpeFoldCte(s"v$r", s"v${r - 1}", s"m$r"))
      .mkString(",\n")
    header + ",\n" + rounds +
      "\nSELECT * FROM (\n" + finals + "\n) ORDER BY round"
  }

  /** The tokenizer's INFERENCE path: apply the 10 learned merges to
    * every distinct word (the one-row rule frame broadcast onto the
    * distinct-word table and folded per word in a typed map — per-word
    * work, never per-occurrence), then tokenize the
    * corpus by joining doc words against that table. Per-doc output:
    * word/token/char counts and chars-per-token — the compression the
    * learned vocab actually buys. Oracle replays training AND applies
    * each rule to the full word list.
    */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    val tok = graft.ops.Bpe.tokenizeWords(docs, "text",
      BpeRounds, BpeMaxWords)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), lower(col("t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .join(tok, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum(length(col("w"))).as("n_chars"))
      .withColumn("compression",
        round(col("n_chars") / col("n_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }

  val bpeTokenizeSql: String = {
    val header =
      s"""WITH words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT lower(unnest(string_split(text,' '))) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |  GROUP BY w ORDER BY c DESC, w LIMIT $BpeMaxWords
         |),
         |v0 AS (SELECT w, c, regexp_replace(w, '(.)', '\\1|', 'g') AS s
         |       FROM words),
         |aw0 AS (
         |  SELECT DISTINCT w, 1::BIGINT AS c,
         |    regexp_replace(w, '(.)', '\\1|', 'g') AS s FROM (
         |    SELECT lower(unnest(string_split(text,' '))) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      bpePairAndRuleCte(r) + ",\n" +
        bpeFoldCte(s"v$r", s"v${r - 1}", s"m$r") + ",\n" +
        bpeFoldCte(s"aw$r", s"aw${r - 1}", s"m$r")
    }.mkString(",\n")
    val tail =
      s"""doc_words AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, lower(unnest(string_split(text,' '))) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |),
         |tok AS (SELECT w, CAST(len(string_split(s,'|')) - 1 AS INTEGER)
         |          AS n_tokens FROM aw$BpeRounds)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
         |  round(sum(len(w)) / sum(n_tokens)::DOUBLE, 4) AS compression
         |FROM doc_words JOIN tok USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    header + ",\n" + rounds + ",\n" + tail
  }

  val SeqLen = 32
  // 16 of the fixture corpus's 31 distinct words: the Zipf tail falls
  // out-of-vocabulary, so the OOV path is exercised for real (a 256-word
  // vocab would swallow the whole corpus and id 0 would never appear);
  // production sets this to the tokenizer's actual vocab size
  val EncodeVocab = 16
  val OovId = 0L
  val PadId = -1L

  /** Token-id training sequences — the TRAINER-facing tensor the whole
    * curation story feeds: each document's first [[SeqLen]] whitespace
    * tokens mapped through a frequency-ranked top-[[EncodeVocab]]
    * vocabulary (ids 1..V by count desc / word asc — the `vocab_build`
    * ordering), out-of-vocabulary tokens to [[OovId]], right-padded with
    * [[PadId]] to a fixed length. Output is `(doc_id, n_seq, ids)` with
    * `ids` a constant-length array — exactly the shape a batch of
    * sequences ships to a training job in.
    *
    * Shape: the vocabulary is a TakeOrdered top-V (per-partition heaps,
    * never a global sort) ranked by a window over the PROVABLY bounded
    * V-row frame, then broadcast into the token join; the per-doc
    * sequence assembly is one hash aggregate collecting (pos, id) structs
    * sorted in-row. Work is linear in corpus tokens (capped at SeqLen per
    * doc by slicing BEFORE the explode), state per group is ≤ SeqLen
    * structs.
    */
  def encodeSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Readers.table(spark, dir, "documents")
    val counts = Readers.fanOut(docs.select("text"))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val topv = counts.orderBy(col("n").desc, col("word")).limit(EncodeVocab)
    val vocab = topv.withColumn("word_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("word"))).cast("long"))
      .select("word", "word_id")
    val toks = docs
      .select(col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, SeqLen))
          .as(Seq("pos", "word")))
    val ids = toks.join(broadcast(vocab), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("word_id"), lit(OovId)).as("id"))
    ids.groupBy("doc_id")
      .agg(count(lit(1)).as("n_seq"),
        sort_array(collect_list(struct(col("pos"), col("id")))).as("__s"))
      .select(col("doc_id"), col("n_seq"),
        // the padded id tensor; joined to CSV only because the driver's
        // hash compare needs a scalar cell (the agg_collect convention) —
        // the array itself is the `concat` operand
        array_join(
          transform(
            concat(transform(col("__s"), s => s("id")),
              array_repeat(lit(PadId),
                (lit(SeqLen) - col("n_seq")).cast("int"))),
            x => x.cast("string")),
          ",").as("ids"))
      .orderBy("doc_id")
  }

  val encodeSequencesSql: String =
    s"""WITH counts AS (
       |  SELECT word, count(*) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word
       |),
       |v AS (
       |  SELECT word,
       |    CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT)
       |      AS word_id
       |  FROM (SELECT * FROM counts ORDER BY n DESC, word LIMIT $EncodeVocab)
       |),
       |t AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')[1:$SeqLen]) AS word,
       |    unnest(range(1, len(string_split(text, ' ')[1:$SeqLen]) + 1))
       |      AS pos
       |  FROM documents
       |),
       |i AS (
       |  SELECT doc_id, pos, coalesce(word_id, $OovId) AS id
       |  FROM t LEFT JOIN v USING (word)
       |),
       |s AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seq,
       |    list(id ORDER BY pos) AS ids0
       |  FROM i GROUP BY doc_id
       |)
       |SELECT doc_id, n_seq,
       |  array_to_string(
       |    list_transform(
       |      list_concat(ids0,
       |        [CAST($PadId AS BIGINT) for x in range($SeqLen - n_seq)]),
       |      x -> x::VARCHAR),
       |    ',') AS ids
       |FROM s ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "repetition_stats" -> repetitionStats,
    "ngram_lm_score" -> ngramLmScore,
    "feature_hashing" -> featureHashing,
    "bpe_train" -> bpeTrain,
    "bpe_tokenize" -> bpeTokenize,
    "encode_sequences" -> encodeSequences)

  val oracle: Map[String, String] = Map(
    "repetition_stats" -> repetitionStatsSql,
    "ngram_lm_score" -> ngramLmScoreSql,
    "feature_hashing" -> featureHashingSql,
    "bpe_train" -> bpeTrainSql,
    "bpe_tokenize" -> bpeTokenizeSql,
    "encode_sequences" -> encodeSequencesSql)
}
