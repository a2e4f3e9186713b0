package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** `graft_bitset(idx)` — aggregate a group's row indices into a dense
  * bitset (binary, little-endian 64-bit words), the executor-side
  * builder for [[graft.operators.CommitLog]]'s deletion vectors:
  * grouped by `_metadata.file_name`, the matched rows of a DELETE
  * become one per-file bitmap without any row ever reaching the
  * driver — only the finished (rows/8-byte) vectors do. Merge is a
  * word-wise OR over the longer buffer, so map-side partial
  * aggregation is exact, the same TypedImperativeAggregate shape as
  * [[BloomBits]]. The buffer grows geometrically to the highest index
  * seen; indices are capped (2^31 bits = 256 MiB) so a corrupt input
  * cannot balloon an executor. */
case class BitsetAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitsetAggregate.Buf]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bitset expects a bigint row index, got ${child.dataType.catalogString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bitset"

  override def createAggregationBuffer(): BitsetAggregate.Buf =
    new BitsetAggregate.Buf(new Array[Long](1), -1L)

  override def update(buf: BitsetAggregate.Buf, input: InternalRow): BitsetAggregate.Buf = {
    val v = child.eval(input)
    if (v == null) buf else buf.set(v.asInstanceOf[Long])
  }

  override def merge(buf: BitsetAggregate.Buf, other: BitsetAggregate.Buf): BitsetAggregate.Buf =
    buf.or(other)

  override def eval(buf: BitsetAggregate.Buf): Any = buf.toBytes

  override def serialize(buf: BitsetAggregate.Buf): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): BitsetAggregate.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val words = Array.fill(bytes.length / 8)(bb.getLong)
    new BitsetAggregate.Buf(if (words.isEmpty) new Array[Long](1) else words,
      bytes.length * 8L - 1)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitsetAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitsetAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitsetAggregate =
    copy(child = newChild)
}

object BitsetAggregate {

  /** Growable bitset; tracks the highest set index so the emitted
    * bytes are exactly (maxIdx/64 + 1) words — deterministic output
    * independent of growth history (required: commit payloads are
    * compared/unioned byte-wise). */
  final class Buf(private var words: Array[Long], private var maxIdx: Long) {
    def set(idx: Long): Buf = {
      require(idx >= 0 && idx < (1L << 31), s"bitset index $idx out of range")
      val w = (idx >> 6).toInt
      if (w >= words.length) {
        val grown = new Array[Long](math.max(w + 1, words.length * 2))
        System.arraycopy(words, 0, grown, 0, words.length)
        words = grown
      }
      words(w) |= 1L << (idx & 63)
      if (idx > maxIdx) maxIdx = idx
      this
    }
    def or(other: Buf): Buf = {
      var i = 0
      while (i < other.words.length) {
        if (other.words(i) != 0) {
          if (i >= words.length) {
            val grown = new Array[Long](math.max(i + 1, words.length * 2))
            System.arraycopy(words, 0, grown, 0, words.length)
            words = grown
          }
          words(i) |= other.words(i)
        }
        i += 1
      }
      if (other.maxIdx > maxIdx) maxIdx = other.maxIdx
      this
    }
    def toBytes: Array[Byte] = {
      val n = if (maxIdx < 0) 0 else (maxIdx >> 6).toInt + 1
      val bb = ByteBuffer.allocate(8 * n)
      var i = 0
      while (i < n) { bb.putLong(words(i)); i += 1 }
      bb.array()
    }
  }

  /** Bit `idx` of a serialized bitset; false past the end (a vector
    * only extends to its highest deleted row). Shared by the scan-side
    * expression and driver-side union so they cannot diverge. */
  def testBit(bytes: Array[Byte], idx: Long): Boolean = {
    if (idx < 0) return false
    val w = idx >> 6
    if (w >= bytes.length / 8) return false
    val word = ByteBuffer.wrap(bytes, (w * 8).toInt, 8).getLong
    (word & (1L << (idx & 63))) != 0
  }

  /** Word-wise OR of two serialized bitsets (deletes accumulate). */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (short, long) = if (a.length <= b.length) (a, b) else (b, a)
    val out = long.clone()
    var i = 0
    while (i < short.length) { out(i) = (out(i) | short(i)).toByte; i += 1 }
    out
  }

  /** Set bits in a serialized bitset (deleted-row count). */
  def cardinality(bytes: Array[Byte]): Long = {
    var n = 0L; var i = 0
    while (i < bytes.length) { n += java.lang.Integer.bitCount(bytes(i) & 0xFF); i += 1 }
    n
  }

  /** `a AND NOT b` — the rows newly deleted in `a` relative to `b`
    * (the change-feed diff). */
  def minus(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = a.clone()
    var i = 0
    while (i < out.length && i < b.length) { out(i) = (out(i) & ~b(i)).toByte; i += 1 }
    out
  }
}

/** `graft_dv_test(dv, idx)` → boolean: is bit `idx` set in the
  * deletion vector `dv`? The scan-side mask of the DV design — one
  * branch-free bit probe per row inside whole-stage codegen, so a
  * DV-masked read costs a byte-array index, not a join. */
case class DvTest(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_dv_test expects (binary, bigint), got $other")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dv_test"

  override def nullSafeEval(dv: Any, idx: Any): Any =
    BitsetAggregate.testBit(dv.asInstanceOf[Array[Byte]], idx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (dv, idx) => s"""
      ${ev.value} = graft.plans.BitsetAggregate.testBit($dv, $idx);
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvTest = copy(left = newLeft, right = newRight)
}

/** The driver session's Hadoop configuration, made Java-serializable
  * so an expression ([[DvLoad]]) or a broadcast (the SQLite scans) can
  * carry it to the executors (Configuration is Writable but not
  * Serializable; the same trick Spark uses internally). Without it an
  * executor-side `new Configuration()` would silently drop runtime
  * `spark.hadoop.*` settings — object store credentials, endpoints —
  * and reads would fail on a real cluster while passing on local
  * disk. */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  /** The session's Hadoop conf, broadcast once for a scan's or a
    * write's tasks as Spark's own file scans do: carried inside a
    * reader or writer factory instead, the whole Configuration would be
    * deserialized again by every task. */
  def broadcast(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
}

/** `graft_dv_load(path)` → binary: a sidecar deletion-vector file's
  * bytes, loaded ON THE EXECUTOR probing the row — large vectors never
  * transit the driver, the commit JSON, or a broadcast; each task
  * reads the (immutable, uuid-named) sidecar for the data file it is
  * scanning, through a JVM-wide bounded cache so a partition pays one
  * filesystem read, not one per row. The Delta sidecar-DV transport
  * shape. Null path (no sidecar for this row's file) → null, which
  * the mask treats as "nothing deleted". Carries the driver's Hadoop
  * conf (see [[SerializableHadoopConf]]) so executor-side filesystem
  * resolution sees the session's store settings. */
case class DvLoad(child: Expression, conf: SerializableHadoopConf)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dv_load expects a string path, got ${child.dataType.catalogString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dv_load"

  override def nullSafeEval(path: Any): Any =
    DvLoad.bytesFor(path.toString, conf.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val confRef = ctx.addReferenceObj("dvConf", conf,
      classOf[SerializableHadoopConf].getName)
    nullSafeCodeGen(ctx, ev, path => s"""
      ${ev.value} = graft.plans.DvLoad.bytesFor($path.toString(), $confRef.value());
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): DvLoad =
    copy(child = newChild)
}

object DvLoad {
  // sidecars are immutable (fresh uuid name per write), so a pure
  // path-keyed LRU is safe; 64 entries bounds executor memory at
  // 64 x the largest vector while covering every file a task set
  // typically touches between evictions
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Byte]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[Byte]]): Boolean = size() > 64
    })

  def bytesFor(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val hit = cache.get(path)
    if (hit != null) hit
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      cache.put(path, bytes)
      bytes
    }
  }
}

object DeletionVector {

  /** Column forms, built from [[GraftFunctions]]. `dvLoad` snapshots the
    * active session's Hadoop conf when the Column is built. */
  def bitset(idx: Column): Column =
    GraftFunctions("graft_bitset", idx)

  def dvTest(dv: Column, idx: Column): Column =
    GraftFunctions("graft_dv_test", dv, idx)

  def dvLoad(path: Column): Column =
    GraftFunctions("graft_dv_load", path)
}
