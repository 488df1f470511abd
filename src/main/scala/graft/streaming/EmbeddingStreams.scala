package graft.streaming

import graft.ops.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding dedup — the vector twin of
  * [[DocStreams.dedupByFingerprint]], completing batch/stream parity for
  * the dedup family: text content has a fingerprint stream-dedup and a
  * batch index; embeddings had only the batch path
  * (`embedding_neardup_lsh`) until this.
  *
  * Near-duplicate detection over a stream cannot join all-pairs, so it
  * uses the SAME bucketing the batch LSH pipeline uses:
  * [[Vectors.lshSignature]] (deterministic random-hyperplane SimHash —
  * near-identical embeddings collapse onto one signature), and keeps the
  * FIRST vector per signature bucket. State is one row per distinct
  * signature seen within the watermark horizon and is EVICTED at the
  * horizon, so memory is bounded by (ingest rate × watermark), not
  * stream lifetime — the same contract as the fingerprint dedup, with
  * the same explicit trade: a near-dup arriving after the horizon passes
  * through, and the periodic batch `embedding_neardup_lsh` reconciliation
  * catches it (stream-filters-fast / batch-reconciles-fully).
  *
  * Recall/precision follow the plane count exactly as in the batch op:
  * more planes → smaller buckets → fewer false merges, more misses. The
  * default (8 planes over 64 dims) matches the batch
  * `embedding_neardup_lsh` key, so what the stream drops is what the
  * batch pipeline would have paired — certified by the parity spec.
  */
object EmbeddingStreams {

  /** First vector per LSH bucket wins; same-bucket arrivals within the
    * watermark horizon are dropped. Input: any streaming frame with
    * (`vecCol`: array&lt;float&gt;, `ts`: timestamp). Output keeps the
    * input columns plus the `sig` bucket key (downstream audits group on
    * it). Map-only except the dedup state store — the signature is a
    * plane-count-bounded column expression, no shuffle before the
    * stateful operator.
    */
  def dedupBySignature(vectors: DataFrame,
                       numPlanes: Int = 8, dim: Int = 64,
                       vecCol: String = "embedding",
                       watermark: String = "2 hours"): DataFrame =
    vectors
      .withColumn("sig", Vectors.lshSignature(col(vecCol), numPlanes, dim))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sig")

  /** One micro-batch of streaming ANN enrichment against the persisted
    * centroid-partitioned IVF index — the online-retrieval pattern: a
    * stream of query vectors answered from the index WITHOUT scanning
    * it whole. Designed for `foreachBatch` (the production shape for
    * stream-against-index serving):
    *
    *  1. assign each query its nearest centroid — a broadcast argmax
    *     against the k-row centroid table, map-only;
    *  2. collect the batch's DISTINCT probed centroid ids to the driver
    *     — bounded by the CELL COUNT (cluster metadata, k rows max),
    *     never by the batch or the index;
    *  3. filter the index on those LITERAL ids — static partition
    *     pruning at planning time, the per-batch twin of the batch
    *     key's dynamic pruning (each micro-batch reads only the probed
    *     cells' files; runtime DPP subqueries are not planned inside
    *     micro-batches, which is why the literal IN does the job);
    *  4. hash-join queries to the pruned cells and keep top-k by exact
    *     cosine within the probe — identical ranking contract to the
    *     batch `ann_ivf_pruned` key (AnnEnrichStreamSpec pins parity).
    */
  def annEnrichBatch(queries: DataFrame, index: DataFrame,
                     centroids: DataFrame, topK: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     probeReport: Seq[Any] => Unit = _ => ()): DataFrame = {
    val probes = Vectors
      .assignToCentroids(queries.select(col(idCol), col(vecCol)),
        idCol, centroids)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_emb"),
        Vectors.norm(col(vecCol)).as("_qn"), col("centroid_id"))
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.get(0)) // ≤ |cells| rows by construction
    probeReport(probedIds.toSeq) // zero-cost tap for the bench's
                                 // probed-cells / rows-read readout
    val cellFilter =
      if (probedIds.isEmpty) lit(false) // empty batch: right schema, no scan
      else col("centroid_id").isin(probedIds.toIndexedSeq: _*)
    val cells = index.filter(cellFilter)
      .select(col("vec_id"), col("embedding"), col("_n"),
        col("centroid_id"))
    Vectors.rankCandidates(cells.join(probes, Seq("centroid_id")), topK)
      .select(col("query_id"),
        col("centroid_id").cast("long").as("centroid_id"),
        col("rank"), col("vec_id"), col("cos"))
  }
}
