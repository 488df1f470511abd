package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted IVF index: centroid assignments written as a parquet table
  * PHYSICALLY PARTITIONED by `centroid_id`, so a probe that joins on the
  * centroid key reads ONLY the probed cells' directories — the scan-side
  * realization of the ANN scale story (the centroid id doubles as the
  * partition key at 100 TB; `ARCHITECTURE.md` §ANN).
  *
  * Layout per cell (`centroid_id=<id>/...`): the member vectors with any
  * precomputed probe-side columns (norms), i.e. everything a probe needs
  * so it never touches the raw corpus. Cell skew mirrors cluster skew —
  * the k knob (see `VectorQueries.NumCentroids`) keeps cells at the
  * target size; a real deployment re-clusters when a cell outgrows it.
  *
  * Pruning happens two ways, both certified:
  *   - static: a literal `centroid_id IN (...)` filter lands in the
  *     scan's `PartitionFilters` (StorageLayoutSpec);
  *   - dynamic: a JOIN on `centroid_id` against a selectively-filtered
  *     query side plans a `dynamicpruning` subquery on the index scan —
  *     the probed cells are only known at runtime, and ONLY they are
  *     read (IvfIndexSpec + the `ann_ivf_pruned` key's plan pin).
  *
  * The build is memoized per (session, path): the index is a SHARED
  * persisted artifact — built once, probed many times — the same
  * accounting contract as `TextQueries.sharedClusters` (the probe keys
  * report marginal probe cost; `warm_cache_keys` in BENCH_DETAIL.json
  * flags them).
  */
object IvfIndex {

  private val built = new graft.SessionMemo[String, String]

  /** Write `assigned` (any frame carrying `centroid_id`) partitioned by
    * centroid under `path`, once per (session, path); returns `path`.
    * `mode=overwrite` keeps the write idempotent — the content is a
    * deterministic function of the input, so a re-build after session
    * loss lands on identical bytes.
    */
  def ensure(spark: SparkSession, path: String,
             assigned: => DataFrame): String =
    built(spark, path) {
      assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(path)
      path
    }

  /** Drop the memo for `spark` (all paths) — the index files stay on
    * disk; the next [[ensure]] rewrites them.
    */
  def invalidate(spark: SparkSession): Unit = built.invalidate(spark)

  /** Where [[graft.streaming.IvfAppendSink]] lands streamed appends for
    * the base at `path` (`batch_id=<b>/centroid_id=<c>/…`).
    */
  def deltaPath(path: String): String = s"${path}_delta"

  /** LSM compaction: absorb the streamed delta into the base — one scan
    * of base ∪ delta rewritten as a fresh `centroid_id`-partitioned base,
    * then the delta is dropped. Run it when a cell outgrows its target
    * size or delta batch-directory count makes probes list-bound; per
    * cell it is the same "rewrite the partition" cost a z-order
    * re-layout pays, embarrassingly parallel across cells.
    *
    * The swap is directory renames (atomic per rename on one
    * filesystem): base → `_old`, fresh → base, then delete `_old` and
    * the delta. Hadoop's `FileSystem.rename` signals failure by
    * RETURNING FALSE (not throwing), so each rename's result is checked
    * and a failed swap throws BEFORE any delete runs — the delta is
    * only dropped after the new base verifiably exists, so a failed or
    * crashed swap always leaves the delta intact for retry. A crash
    * between the two renames leaves `<path>_old` + `<path>_compact` and
    * no base — recovery is "rename `_old` back". A transactional table
    * format replaces this dance with an atomic pointer swing; the
    * SCAN/REWRITE cost — the part that matters at 100 TB — is
    * identical.
    *
    * No-op (returns false) when nothing has been appended.
    */
  def compact(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val delta = new Path(deltaPath(path))
    if (!fs.exists(delta)) return false
    val base = spark.read.parquet(path)
    val merged = base.union(
      spark.read.parquet(delta.toString)
        .select(base.columns.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*))
    val tmp = new Path(s"${path}_compact")
    fs.delete(tmp, true)
    merged.write.partitionBy("centroid_id").mode("overwrite")
      .parquet(tmp.toString)
    val old = new Path(s"${path}_old")
    val basePath = new Path(path)
    fs.delete(old, true)
    if (!fs.rename(basePath, old))
      throw new java.io.IOException(
        s"IvfIndex.compact: rename $path -> $old failed; " +
          "base and delta left untouched")
    if (!fs.rename(tmp, basePath)) {
      fs.rename(old, basePath) // best-effort restore; delta still intact
      throw new java.io.IOException(
        s"IvfIndex.compact: rename $tmp -> $path failed; " +
          "original base restored, delta left intact for retry")
    }
    if (!fs.exists(basePath))
      throw new java.io.IOException(
        s"IvfIndex.compact: $path missing after swap; delta preserved")
    fs.delete(old, true)
    fs.delete(delta, true)
    true
  }
}
