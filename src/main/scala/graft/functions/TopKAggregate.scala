package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-heap per-group top-k aggregate: keeps the k (score, id) pairs
  * with the highest score (ties → lowest id) and emits them as a sorted
  * `array<struct<id bigint, score double>>`, best first.
  *
  * Why a custom `TypedImperativeAggregate` instead of composing built-ins:
  *
  *   - `slice(sort_array(collect_list(struct(...))), 1, k)` has an
  *     UNBOUNDED buffer — every row of the group is collected before the
  *     sort, which is exactly what cannot happen on a 100 TB group.
  *   - this buffer is a k-element min-heap: update is O(log k), the
  *     PARTIAL aggregation runs map-side, and the shuffle carries at most
  *     k entries per (group × partition) — the same merge shape as a
  *     distributed top-k in any external engine.
  *
  * (For top-k as ROWS, `row_number() OVER … <= k` is already
  * shuffle-bounded by Spark's WindowGroupLimit; this operator is the
  * "top-k as a value" aggregation form — usable inside any groupBy,
  * including with other aggregates in the same pass.)
  *
  * Null scores/ids are ignored (SQL aggregate convention).
  */
case class TopKStructs(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, s"top_k requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)

  // fail at ANALYSIS, not with a mid-job ClassCastException after the scan
  // has already run: update() reads the buffer-typed primitives directly
  override def checkInputDataTypes(): TypeCheckResult =
    if (scoreExpr.dataType == DoubleType && idExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_top_k requires (score DOUBLE, id BIGINT), got " +
        s"(${scoreExpr.dataType.catalogString}, ${idExpr.dataType.catalogString})")

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      buffer.offer(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(a: TopKHeap, b: TopKHeap): TopKHeap = { a.absorb(b); a }

  override def eval(buffer: TopKHeap): Any = {
    val sorted = buffer.sortedBestFirst
    new GenericArrayData(sorted.map { case (score, id) =>
      InternalRow(id, score)
    })
  }

  override def serialize(buffer: TopKHeap): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): TopKHeap =
    TopKHeap.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStructs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStructs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStructs =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))

  override def prettyName: String = "graft_top_k"
}

/** k-bounded heap of (score, id): the head is the WORST kept element
  * (lowest score; ties → highest id), evicted first when full.
  */
final class TopKHeap(val k: Int) {
  // "a is worse than b" ordering for the eviction heap
  private val worseFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }
  private val heap = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
    worseFirst.reverse)   // PriorityQueue keeps the MAX of its ordering at head

  def offer(score: Double, id: Long): Unit = {
    if (heap.size < k) heap.enqueue((score, id))
    else if (worseFirst.compare((score, id), heap.head) > 0) {
      heap.dequeue(); heap.enqueue((score, id))
    }
  }

  def absorb(other: TopKHeap): Unit =
    other.heap.foreach { case (s, i) => offer(s, i) }

  /** Best (highest score, then lowest id) first. */
  def sortedBestFirst: Array[(Double, Long)] =
    heap.toArray.sorted(worseFirst.reverse)

  def toBytes: Array[Byte] = {
    val entries = heap.toArray
    val bb = ByteBuffer.allocate(4 + entries.length * 16)
    bb.putInt(entries.length)
    entries.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }
}

object TopKHeap {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) { h.offer(bb.getDouble, bb.getLong); i += 1 }
    h
  }
}

object TopKFunctions {
  /** Column-API wrapper: `topK(score, id, k)` usable inside `.agg(...)`. */
  def topK(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKStructs(GraftColumnBridge.expression(score),
        GraftColumnBridge.expression(id), k).toAggregateExpression())
}
