package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k as a partial-aggregable function — the scale-correct
  * replacement for the `row_number() OVER (PARTITION BY query_id)`
  * funnel in the similarity operators.
  *
  * The window form shuffles EVERY scored (query, neighbor) row to the
  * query's partition before ranking: at N corpus vectors x P probes
  * that is an N*P-row exchange landing on P partitions — the one skew
  * hazard the round-1 audit flagged. This aggregate keeps a k-element
  * heap per query *inside each map task* (ObjectHashAggregate partial
  * mode), so only P*k*numPartitions candidate rows cross the wire —
  * per-partition top-k then merge, the same partial/final shape as
  * built-in `max` (and the approx_count_distinct precedent SURVEY §4
  * cites for custom TypedImperativeAggregates).
  *
  * Ordering contract matches the window it replaces: score descending,
  * id ascending on ties — so results are hash-identical to the
  * row_number form (proven in ExtensionsSpec).
  */
case class TopKNeighbors(
    score: Expression, id: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]]
  with TernaryLike[Expression] {

  // worst-first heap: the queue's "max" is the entry to evict — lowest
  // score; among equal scores the largest id (ids ascend in rank order)
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def first: Expression = score
  override def second: Expression = id
  override def third: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType) TypeCheckResult.TypeCheckFailure("score must be double")
    else if (id.dataType != LongType) TypeCheckResult.TypeCheckFailure("id must be bigint")
    else if (!kExpr.foldable ||
             !Seq[DataType](IntegerType, LongType, ShortType, ByteType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure("k must be an integral literal")
    else {
      // graft_topk is a session-wide SQL builtin: reject bad k at
      // analysis, not as a per-task exception. Compare as LONG — an
      // intValue truncation would wrap k=2^32+1 to 1 silently.
      val kv = kExpr.eval()
      if (kv == null || kv.asInstanceOf[Number].longValue < 1L ||
          kv.asInstanceOf[Number].longValue > Int.MaxValue.toLong)
        TypeCheckResult.TypeCheckFailure(s"k must be in [1, ${Int.MaxValue}]")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = TopKNeighbors.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def add(buf: mutable.PriorityQueue[(Double, Long)], e: (Double, Long)): Unit = {
    // head is the current worst (the queue's max under worstFirst);
    // compare < 0 means e orders before it, i.e. ranks better
    if (buf.size < k) buf.enqueue(e)
    else if (worstFirst.compare(e, buf.head) < 0) {
      buf.dequeue(); buf.enqueue(e)
    }
  }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      add(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(add(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    // best-first output with 1-based rank: ascending under worstFirst
    // IS (score desc, id asc) — the worst element is that ordering's max
    val sorted = buf.toArray.sorted(worstFirst)
    new GenericArrayData(sorted.zipWithIndex.map { case ((s, i), r) =>
      InternalRow(i, s, (r + 1).toLong)
    }: Array[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKNeighbors =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKNeighbors =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(score = newFirst, id = newSecond, kExpr = newThird)
}

object TopKNeighbors {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false),
    StructField("rank", LongType, nullable = false))), containsNull = false)
}

object TopKAggregate {
  /** `graft_topk(score, id, k)` as an aggregate Column. */
  def topk(score: Column, id: Column, k: Int): Column =
    GraftFunctions("graft_topk", score, id,
      org.apache.spark.sql.functions.lit(k))
}
