package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming distribution-drift monitor — the live twin of the batch
  * `drift_kl` key, re-shaped for unbounded input. The batch key measures
  * VOCABULARY drift (per-word distributions), which a stream cannot
  * carry (per-source vocabulary state grows without bound); the
  * streaming monitor tracks a NUMERIC feature (doc length, quality
  * score, token count) against a fixed REFERENCE distribution over
  * fixed bucket edges, which is how production drift gates are actually
  * deployed: the reference is last month's accepted corpus, the monitor
  * flags a crawl source whose live distribution walks away from it.
  *
  * State per group is the live bucket-count histogram — bounded by the
  * BUCKET COUNT forever, the same "cluster metadata, not data" class as
  * the token-quota gate. It lives in typed [[MapState]]: a micro-batch
  * touches only the buckets its rows land in, so state I/O per batch is
  * O(touched buckets) point-writes, where one whole-histogram blob would
  * be rewritten every batch.
  *
  * Per batch, each touched group emits `KL(live ‖ reference)` plus the
  * live count. KL is well-defined without smoothing because reference
  * probabilities are required positive on every bucket (a reference
  * with an empty bucket should collapse that bucket before gating);
  * zero live buckets contribute zero (lim p→0 of p·ln(p/q)).
  * DriftStreamSpec pins the emitted KL against a direct batch
  * computation of the same fold at two chunkings, bucket-edge
  * boundary behavior included.
  */
object DriftStream {

  /** One drift readout: `n` live values seen so far, `kl` nats. */
  case class GroupDrift(group: String, n: Long, kl: Double)

  /** Bucket index for `v` over `edges` (upper bounds; last bucket
    * catches everything above): the first i with v < edges(i), else
    * edges.length — shared by the processor and the spec's batch rule.
    */
  private[streaming] def bucketOf(v: Double, edges: Array[Double]): Int = {
    var i = 0
    while (i < edges.length && v >= edges(i)) i += 1
    i
  }

  private[streaming] def klOf(counts: Map[Int, Long],
                              refProbs: Array[Double]): (Long, Double) = {
    val n = counts.values.sum
    if (n == 0L) (0L, 0.0)
    else {
      var kl = 0.0
      counts.foreach { case (b, c) =>
        if (c > 0L) {
          val p = c.toDouble / n
          kl += p * math.log(p / refProbs(b))
        }
      }
      (n, kl)
    }
  }

  private class DriftProcessor(edges: Array[Double],
                               refProbs: Array[Double])
      extends StatefulProcessor[String, (String, Double), GroupDrift] {
    @transient private var counts: MapState[Int, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Int, Long]("hist",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(group: String,
                                 rows: Iterator[(String, Double)],
                                 tv: TimerValues): Iterator[GroupDrift] = {
      // fold the batch locally, then point-write only touched buckets
      val delta = scala.collection.mutable.HashMap.empty[Int, Long]
      rows.foreach { case (_, v) =>
        val b = bucketOf(v, edges)
        delta.update(b, delta.getOrElse(b, 0L) + 1L)
      }
      delta.foreach { case (b, d) =>
        val prior = if (counts.containsKey(b)) counts.getValue(b) else 0L
        counts.updateValue(b, prior + d)
      }
      val live = counts.iterator().map(p => p._1 -> p._2).toMap
      val (n, kl) = klOf(live, refProbs)
      Iterator.single(GroupDrift(group, n, kl))
    }
  }

  /** The monitor. `edges` are ascending upper bucket bounds (k edges =
    * k+1 buckets); `refProbs` the reference probability per bucket,
    * all positive, summing to ~1.
    */
  def histDriftStream(values: Dataset[(String, Double)],
                      edges: Seq[Double], refProbs: Seq[Double])
  : Dataset[GroupDrift] = {
    require(edges.nonEmpty && edges == edges.sorted,
      "bucket edges must be ascending")
    require(refProbs.length == edges.length + 1,
      s"need ${edges.length + 1} reference probabilities for " +
        s"${edges.length} edges, got ${refProbs.length}")
    require(refProbs.forall(_ > 0.0),
      "reference probabilities must be positive on every bucket " +
        "(collapse empty reference buckets before gating)")
    implicit val enc = Encoders.product[GroupDrift]
    values.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(
        new DriftProcessor(edges.toArray, refProbs.toArray),
        TimeMode.None(), OutputMode.Update())
  }
}
