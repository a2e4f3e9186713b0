package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items sketch as a partial-aggregable function —
  * the candidate-generation half of the two-pass heavy-hitters pattern
  * (sketch the stream in one pass with k counters, exactly recount only
  * the ≤k candidates).
  *
  * Guarantee (the published Misra–Gries bound): any item with true
  * count > N/k is ALWAYS among the surviving counters — no false
  * negatives above the threshold — and each reported count is a lower
  * bound off by at most N/k. Merging follows the mergeable-summaries
  * construction (Agarwal et al., PODS 2012): sum counters pairwise,
  * then if more than k survive, subtract the (k+1)-th largest count
  * from all and drop the non-positive — the error bounds add, the
  * no-false-negative property is preserved, and the aggregate stays a
  * correct partial/final pair under Spark's ObjectHashAggregate.
  *
  * At 100 TB this is the point: per-task state is k counters whatever
  * the stream length, only maps-worth-of-k cross the wire, and the
  * expensive exact pass runs over a broadcast candidate set instead of
  * every distinct key. */
case class FrequentItems(
    item: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with BinaryLike[Expression] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def left: Expression = item
  override def right: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("item must be string")
    else if (!kExpr.foldable ||
             !Seq[DataType](IntegerType, LongType, ShortType, ByteType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure("k must be an integral literal")
    else {
      val kv = kExpr.eval()
      if (kv == null || kv.asInstanceOf[Number].longValue < 1L ||
          kv.asInstanceOf[Number].longValue > 100000L)
        TypeCheckResult.TypeCheckFailure("k must be in [1, 100000]")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = FrequentItems.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq_items"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = item.eval(input)
    if (v != null) {
      // own the bytes: UTF8String may alias a reused row buffer
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s, 1L)
        case None =>
          // classic MG decrement-all step; drops at least one counter
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (key, c) => if (c <= 0) dead += key }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (key, c) =>
      buf.update(key, buf.getOrElse(key, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count, keep the strictly positive
      val cut = buf.values.toArray.sorted(Ordering[Long].reverse)(k)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - cut)
      buf.foreach { case (key, c) => if (c <= 0) dead += key }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic presentation: lower-bound desc, item asc
    val sorted = buf.toArray.sortBy { case (s, c) => (-c, s) }
    new GenericArrayData(sorted.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c)
    }: Array[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray.map { case (s, c) =>
      (s.getBytes(StandardCharsets.UTF_8), c)
    }
    val bb = ByteBuffer.allocate(4 + entries.map(e => 4 + e._1.length + 8).sum)
    bb.putInt(entries.length)
    entries.foreach { case (bytes, c) =>
      bb.putInt(bytes.length); bb.put(bytes); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val b = new Array[Byte](len); bb.get(b)
      buf.update(new String(b, StandardCharsets.UTF_8), bb.getLong)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentItems =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FrequentItems =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(item = newLeft, kExpr = newRight)
}

object FrequentItems {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lb", LongType, nullable = false))), containsNull = false)
}

object FrequentItemsAggregate {
  def freqItems(item: Column, k: Int): Column =
    GraftFunctions("graft_freq_items", item,
      org.apache.spark.sql.functions.lit(k))
}
