package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter as a partial-aggregable function —
  * `graft_bloom(xxhash64(col), mBits, k)` builds an m-bit filter with k
  * probes per value and evaluates to the raw bitset (binary).
  *
  * The input is the 64-bit hash, not the value: upstream `xxhash64`
  * stays inside whole-stage codegen and the aggregate's update is two
  * multiplies and k bit-sets; k probe positions derive from the one
  * hash by double hashing (Kirsch–Mitzenmacher: g_i = h1 + i*h2 — two
  * halves of a 64-bit hash give k indexes with the false-positive rate
  * of k independent hashes). Merge is a word-wise OR, so partial
  * aggregation (map-side combine) is exact — the same
  * TypedImperativeAggregate shape as [[TopKNeighbors]].
  *
  * Built for [[graft.operators.CommitLog]]'s per-file filters: grouped
  * by `input_file_name` it yields one filter per data file, stored in
  * the commit so point-predicate scans drop files zone maps cannot
  * (high-cardinality unclustered keys, where every file's [min, max]
  * spans the domain). Probe-side math lives in [[BloomAggregate]] so
  * executor build and driver probe share one definition.
  */
case class BloomBits(
    hash: Expression, mExpr: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with TernaryLike[Expression] {

  private lazy val m: Int = mExpr.eval().asInstanceOf[Number].intValue
  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def first: Expression = hash
  override def second: Expression = mExpr
  override def third: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("hash must be bigint (use xxhash64(col))")
    else if (!mExpr.foldable || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("mBits and k must be literals")
    else {
      val mv = Option(mExpr.eval()).map(_.asInstanceOf[Number].longValue)
      val kv = Option(kExpr.eval()).map(_.asInstanceOf[Number].longValue)
      if (mv.forall(v => v < 64L || v > (1L << 27) || v % 64 != 0))
        TypeCheckResult.TypeCheckFailure(
          s"mBits must be a multiple of 64 in [64, ${1 << 27}], got $mv")
      else if (kv.forall(v => v < 1L || v > 16L))
        TypeCheckResult.TypeCheckFailure(s"k must be in [1, 16], got $kv")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val h = hash.eval(input)
    if (h != null) BloomAggregate.setBits(buf, h.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBits =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBits =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(hash = newFirst, mExpr = newSecond, kExpr = newThird)
}

object BloomAggregate {

  /** Probe positions by double hashing from the two 32-bit halves;
    * h2 forced odd so the stride cycles the whole table. Shared by the
    * executor-side build (update) and the driver-side probe
    * ([[mightContain]]) — one definition or they'd silently diverge. */
  private def positions(h: Long, k: Int, mBits: Int): Iterator[Int] = {
    val h1 = (h & 0xffffffffL).toInt
    val h2 = ((h >>> 32).toInt << 1) | 1
    Iterator.tabulate(k) { i =>
      val g = (h1 + i.toLong * h2).toInt
      math.floorMod(g, mBits)
    }
  }

  private[graft] def setBits(words: Array[Long], h: Long, k: Int): Unit =
    positions(h, k, words.length * 64).foreach { p =>
      words(p >> 6) |= 1L << (p & 63)
    }

  /** Definitive-no when false; maybe when true. */
  def mightContain(words: Array[Long], h: Long, k: Int): Boolean =
    positions(h, k, words.length * 64).forall { p =>
      (words(p >> 6) & (1L << (p & 63))) != 0
    }

  def wordsOf(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Inverse of [[wordsOf]] — the big-endian word serialization the
    * aggregate's own `serialize` writes, for builders that construct
    * filter words OUTSIDE the SQL aggregate (the streaming sink's
    * per-writer bloom build). */
  private[graft] def bytesOf(words: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * words.length)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** Driver-side twins of `xxhash64(col)` (seed 42) for the probe
    * value — must produce the bit pattern the scan's expression fed
    * the aggregate. Supported probe types: integral and string. */
  def hashOf(value: Any): Long = value match {
    case l: Long => XXH64.hashLong(l, 42L)
    case i: Int => XXH64.hashInt(i, 42L)
    case s: String =>
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported bloom probe type: ${other.getClass.getSimpleName}")
  }

  /** `graft_bloom(hash, mBits, k)` as an aggregate Column. */
  def bloom(hash: Column, mBits: Int, k: Int): Column =
    GraftFunctions("graft_bloom", hash,
      org.apache.spark.sql.functions.lit(mBits),
      org.apache.spark.sql.functions.lit(k))
}
