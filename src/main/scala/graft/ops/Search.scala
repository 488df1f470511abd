package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text retrieval primitives over a document corpus: inverted-index
  * construction and BM25 ranking. Both are built from explode + keyed
  * aggregates, so at corpus scale they are the classic distributed
  * index-build shape:
  *
  *   - tokenize is a narrow map fused into the scan;
  *   - the explode produces (doc, token) rows that shuffle ONCE on token —
  *     postings, document frequency, and term frequency all come out of
  *     that single exchange;
  *   - BM25 scoring joins the (tiny, broadcastable) per-term df table and
  *     the corpus-level (N, avgdl) scalar back onto per-doc term counts,
  *     then top-k is a TakeOrderedAndProject — no global sort
  *     materializes.
  *
  * Postings lists are per-token arrays: at 100 TB the hot tokens are the
  * skew case, which is why [[invertedIndex]] keeps the aggregate
  * HashAggregate-able (collect_set) and the caller can cap posting length
  * with a df ceiling (stopword tokens are dropped by `maxDfFraction`
  * before the array ever builds).
  */
object Search {

  /** Tokenize into an exploded (id, token) frame. */
  def tokens(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), explode(split(col(text), " ")).as("token"))

  /** Inverted index: token → document frequency, total term frequency,
    * sorted posting list. One shuffle on token.
    */
  def invertedIndex(docs: DataFrame, id: String, text: String): DataFrame =
    tokens(docs, id, text)
      .groupBy("token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_set(col(id))).as("plist"))
      .select(col("token"), size(col("plist")).cast("long").as("df"),
        col("tf"),
        // serialized for engine-portable comparison (the array form is
        // `plist`; string form is what ships to the oracle check)
        array_join(col("plist"), ",").as("postings"))

  /** BM25 parameters (the Robertson/Walker defaults). */
  val K1 = 1.2
  val B  = 0.75

  /** BM25 top-k: rank documents against a bag of query terms.
    *
    * idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)          [Lucene's variant,
    * always positive]; score(d) = Σ_t idf·tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)).
    *
    * Plan shape: term filter happens ON the exploded stream (only query-term
    * rows survive the map side), df/N/avgdl are one-row or |terms|-row
    * aggregates joined back by broadcast, and the final ranking is
    * orderBy+limit → TakeOrderedAndProject (per-partition top-k, k rows to
    * the driver stage — no full sort at any scale).
    */
  def bm25TopK(docs: DataFrame, id: String, text: String,
               terms: Seq[String], k: Int): DataFrame = {
    val d = docs.select(col(id), split(col(text), " ").as("w"))
    // corpus stats need every doc (also the ones matching no term): one
    // small aggregate pass; dl otherwise rides the exploded stream so the
    // per-doc length never needs a join back onto the fact
    val stats = d.agg(count(lit(1)).cast("double").as("n"),
      avg(size(col("w"))).as("avgdl"))
    val tf = d.select(col(id), size(col("w")).cast("double").as("dl"),
        explode(col("w")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(id), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"), min(col("dl")).as("dl"))
    val df = tf.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val scored = tf
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .groupBy(col(id))
      .agg(round(sum(idf * col("tf") * lit(K1 + 1.0) /
        (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))), 6)
        .as("score"))
    val top = scored.orderBy(col("score").desc, col(id)).limit(k)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col(id))).cast("long"))
      .select(col("rank"), col(id), col("score"))
  }
}
