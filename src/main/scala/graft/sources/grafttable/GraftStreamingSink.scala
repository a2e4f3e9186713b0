package graft.sources.grafttable

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.Type.Repetition
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CommitLog
import graft.plans.{BloomAggregate, SerializableHadoopConf}

/** Native exactly-once streaming sink for commit-log tables:
  *
  * {{{
  *   df.writeStream.format("graft")
  *     .option("checkpointLocation", ckpt)
  *     .option("statsCols", "ts").option("bloomCols", "doc_id")
  *     .start(tablePath)            // outputMode Complete = overwrite
  * }}}
  *
  * This is the stage-then-commit protocol the log was designed around,
  * expressed as a DSv2 STREAMING_WRITE: each task writes its partition
  * straight to `data/` under a fresh uuid name (invisible until
  * committed — a crashed task leaves an orphan vacuum sweeps, exactly
  * like batch staging), computing zone extents and Bloom words AS IT
  * WRITES — no post-hoc stats pass re-reading staged files, which at
  * scale halves the write's I/O vs the batch path. The driver's
  * `commit(epochId, messages)` publishes every staged file + its
  * metadata in ONE commit stamped with `batchId = epochId`: a replayed
  * micro-batch (restart between publish and the engine's offset
  * commit) finds its epoch in the [[CommitLog.committedBatchIds]]
  * ledger, deletes its re-staged files and publishes nothing — the
  * same exactly-once contract as [[CommitLog.appendStream]], now under
  * `writeStream.format("graft")` instead of foreachBatch plumbing.
  *
  * Append mode appends; Complete mode (truncate) replaces the table's
  * file set in the same single commit, pinned with expectedVersion so
  * a concurrent writer conflicts instead of being silently dropped.
  * The declared-schema gate runs at factory creation (fail fast,
  * before any file is staged); CHECK constraints are validated over
  * the staged files before publish, refusing the whole epoch. */
class GraftStreamingWrite(tablePath: String, schema: StructType,
    statsCols: Seq[String], bloomCols: Seq[String], mBits: Int, k: Int,
    truncateEachEpoch: Boolean, queryId: String) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // declared-schema gate BEFORE any task writes: the SAME shared
    // subset-with-identical-types contract stageWithMeta enforces
    val declared = CommitLog.tableSchema(spark, tablePath)
    declared.foreach(d => CommitLog.enforceSchemaSubset(tablePath, d, schema))
    // COLUMN MAPPING boundary: task writers emit PHYSICAL column
    // names (rows are positional — only the file/stats names change)
    import graft.operators.ColumnMapping
    val (schemaP, statsP, bloomP) = declared match {
      case Some(d) if ColumnMapping.hasMapping(d) =>
        (ColumnMapping.physicalWriteSchema(schema, d),
          statsCols.map(ColumnMapping.physicalName(d, _)),
          bloomCols.map(ColumnMapping.physicalName(d, _)))
      case _ => (schema, statsCols, bloomCols)
    }
    GraftStreamWriterFactory(tablePath, schemaP, statsP, bloomP, mBits, k,
      SerializableHadoopConf.broadcast(spark))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = messages.collect {
      case m: GraftFileMessage if m.relName != null => m // null = empty partition
    }
    def deleteStaged(): Unit = {
      val fs = new Path(tablePath).getFileSystem(
        spark.sessionState.newHadoopConf())
      staged.foreach(m =>
        scala.util.Try(fs.delete(new Path(tablePath, m.relName), false)))
    }
    // exactly-once: a replayed epoch re-staged fresh files — the
    // earlier publish already carries this batch, so drop the copies.
    // The ledger match is APP-QUALIFIED on the streaming queryId
    // (stable across restarts from the same checkpoint): a DIFFERENT
    // query writing to this table restarts its epochs at 0 and must
    // NOT have its batches discarded as the first query's replays.
    // A bare (identity-free) ledger entry matches only as pre-upgrade
    // legacy — entries OLDER than the table's first app-qualified
    // commit. A live identity-free writer sharing the table (its
    // entries land after qualified writing began) has unrelated epoch
    // numbering and must not suppress this query's epochs
    // (CommitLog.replayedBatch, ADVICE r13 #3).
    if (CommitLog.replayedBatch(spark, tablePath, queryId, epochId)) {
      deleteStaged(); return
    }
    val adds = staged.map(_.relName).toSeq
    // All-empty APPEND batch: nothing staged, no commit. In Complete
    // mode an empty epoch is still a RESULT — "the aggregate is now
    // empty" — so it must truncate the previous epoch's file set (and
    // record the epochId) rather than leave stale rows visible.
    if (adds.isEmpty && !truncateEachEpoch) return
    // CHECK-constraint gate over the staged files, batch-path parity:
    // a violation refuses the WHOLE epoch before anything is visible
    CommitLog.gateStagedFiles(spark, tablePath, schema, adds,
      s"streaming write to $tablePath (epoch $epochId)")(deleteStaged())
    val stats = staged.filter(_.stats.nonEmpty)
      .map(m => m.relName -> m.stats).toMap
    val blooms = staged.filter(_.blooms.nonEmpty)
      .map(m => m.relName -> m.blooms).toMap
    if (truncateEachEpoch) {
      // Complete mode: replace the file set in the SAME commit, pinned
      // against concurrent writers (a racing append must conflict, not
      // be silently dropped by our removes)
      val v0 = CommitLog.latestVersion(spark, tablePath)
      val removes =
        if (v0 < 0) Seq.empty[String]
        else CommitLog.snapshot(spark, tablePath, Some(v0))
      CommitLog.commit(spark, tablePath, adds, removes,
        batchId = Some(epochId), stats = stats, blooms = blooms,
        expectedVersion = Some(v0), batchApp = Some(queryId))
    } else {
      CommitLog.commit(spark, tablePath, adds, Seq.empty,
        batchId = Some(epochId), stats = stats, blooms = blooms,
        batchApp = Some(queryId))
    }
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(tablePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    messages.foreach {
      case m: GraftFileMessage if m.relName != null =>
        scala.util.Try(fs.delete(new Path(tablePath, m.relName), false))
      case _ => () // failed tasks report null — their writer aborted locally
    }
  }
}

/** One staged file's publish payload: relative name plus the skipping
  * metadata its writer computed inline. */
case class GraftFileMessage(relName: String, rows: Long,
    stats: Map[String, (Double, Double)], blooms: Map[String, String])
    extends WriterCommitMessage

case class GraftStreamWriterFactory(tablePath: String, schema: StructType,
    statsCols: Seq[String], bloomCols: Seq[String], mBits: Int, k: Int,
    conf: Broadcast[SerializableHadoopConf])
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(tablePath, schema, statsCols, bloomCols,
      mBits, k, partitionId, conf.value.value)
}

/** Executor-side writer: InternalRow → parquet Group straight to the
  * table's data dir (fresh uuid name, invisible until the driver's
  * commit), zone extents and Bloom words updated per row. The parquet
  * layout matches what Spark's own writer produces for the supported
  * type surface (INT64 MICROS adjusted-to-UTC timestamps, annotated
  * strings/dates, 3-level LIST arrays), so Spark's parquet reader
  * reads streamed and batch-staged files identically. `conf` is the
  * session's Hadoop conf, which its factory broadcasts. */
class GraftStreamDataWriter(tablePath: String, schema: StructType,
    statsCols: Seq[String], bloomCols: Seq[String], mBits: Int, k: Int,
    partitionId: Int, conf: Configuration) extends DataWriter[InternalRow] {

  import GraftStreamDataWriter._

  private val relName =
    s"${CommitLog.DataDir}/${UUID.randomUUID().toString.take(8)}-s$partitionId.parquet"
  private val fullPath = new Path(tablePath, relName)
  private val msgType = messageTypeOf(schema)
  private val factory = new SimpleGroupFactory(msgType)

  { // refuse unsupported stats/bloom shapes before writing anything
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    statsCols.foreach { c =>
      require(byName.contains(c), s"statsCols: no column '$c' in the stream")
    }
    bloomCols.foreach { c =>
      byName.get(c) match {
        case Some(IntegerType | LongType | StringType) => ()
        case Some(dt) => throw new IllegalArgumentException(
          s"bloomCols: '$c' is ${dt.catalogString} — blooms hash integral " +
          "and string columns only (the xxhash64 probe surface)")
        case None => throw new IllegalArgumentException(
          s"bloomCols: no column '$c' in the stream")
      }
    }
  }

  // lazily created so an empty partition stages NO file at all
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var rows = 0L

  private val statIdx: Array[Int] = statsCols.map(schema.fieldIndex).toArray
  private val statType: Array[DataType] = statsCols.map(c =>
    schema.fields(schema.fieldIndex(c)).dataType).toArray
  private val statMin = Array.fill(statsCols.length)(Double.PositiveInfinity)
  private val statMax = Array.fill(statsCols.length)(Double.NegativeInfinity)
  private val statNaN = Array.fill(statsCols.length)(false)
  private val statNonNull = Array.fill(statsCols.length)(0L)

  private val bloomIdx: Array[Int] = bloomCols.map(schema.fieldIndex).toArray
  private val bloomType: Array[DataType] = bloomCols.map(c =>
    schema.fields(schema.fieldIndex(c)).dataType).toArray
  private val bloomWords: Array[Array[Long]] =
    Array.fill(bloomCols.length)(new Array[Long](mBits / 64))

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      writer = ExampleParquetWriter.builder(fullPath).withConf(conf)
        .withType(msgType)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    }
    writer.write(groupOf(factory, schema, row))
    var i = 0
    while (i < statIdx.length) {
      if (!row.isNullAt(statIdx(i))) {
        statNonNull(i) += 1L
        // the batch path's `min(col).cast("double")` domain: numerics
        // widen, timestamps become fractional epoch seconds, anything
        // else logs nothing (cast-null parity). A NaN POISONS the
        // column's zone for this file (no stats entry published):
        // Spark orders NaN above every double, so a [min,max] that
        // silently skipped NaN rows would let a `c > hi` range filter
        // prune a file whose NaN rows SATISFY it (NaN > hi is true) —
        // the batch path agrees (SQL max() returns NaN, which zoneKeep
        // treats as unprunable).
        val d = doubleOf(row, statIdx(i), statType(i))
        if (d.isNaN) statNaN(i) = true
        else {
          if (d < statMin(i)) statMin(i) = d
          if (d > statMax(i)) statMax(i) = d
        }
      }
      i += 1
    }
    i = 0
    while (i < bloomIdx.length) {
      if (!row.isNullAt(bloomIdx(i))) {
        val h = bloomType(i) match {
          case LongType => BloomAggregate.hashOf(row.getLong(bloomIdx(i)))
          case IntegerType => BloomAggregate.hashOf(row.getInt(bloomIdx(i)))
          case _ => hashUtf8(row.getUTF8String(bloomIdx(i)))
        }
        BloomAggregate.setBits(bloomWords(i), h, k)
      }
      i += 1
    }
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) return GraftFileMessage(null, 0L, Map.empty, Map.empty)
    writer.close()
    writer = null
    val zoneStats = statsCols.indices.flatMap { i =>
      if (statNaN(i) || statMin(i).isInfinite || statMax(i).isInfinite) None
      else Some(statsCols(i) -> (statMin(i), statMax(i)))
    }.toMap
    // the reserved row-count and per-column non-null stats ride along
    // exactly as in the batch staging path (stageWithMeta): COUNT(*)
    // pushdown, SPJ hot-group splitting, the grouped-aggregate
    // null-free proof, and sort elimination all rest on them — a COW
    // rewrite through this writer must not strip them. Same collision
    // posture as batch: a data column named like a reserved key skips
    // that key's publication.
    val rowStat =
      if (schema.fieldNames.contains(CommitLog.RowCountStat)) Map.empty
      else Map(CommitLog.RowCountStat -> (rows.toDouble, rows.toDouble))
    val nnStats = statsCols.indices.flatMap { i =>
      val key = CommitLog.nonNullStat(statsCols(i))
      if (schema.fieldNames.contains(key)) None
      else Some(key -> (statNonNull(i).toDouble, statNonNull(i).toDouble))
    }.toMap
    val stats = zoneStats ++ nnStats ++ rowStat
    val blooms = bloomCols.indices.map { i =>
      bloomCols(i) -> (k.toString + ":" + java.util.Base64.getEncoder
        .encodeToString(BloomAggregate.bytesOf(bloomWords(i))))
    }.toMap
    GraftFileMessage(relName, rows, stats, blooms)
  }

  override def abort(): Unit = {
    if (writer != null) { scala.util.Try(writer.close()); writer = null }
    scala.util.Try(fullPath.getFileSystem(conf).delete(fullPath, false))
    ()
  }

  override def close(): Unit =
    if (writer != null) { scala.util.Try(writer.close()); writer = null }
}

object GraftStreamDataWriter {

  /** The batch path's `cast("double")` domain for zone stats. */
  private[grafttable] def doubleOf(row: InternalRow, i: Int,
      dt: DataType): Double = dt match {
    case IntegerType => row.getInt(i).toDouble
    case LongType => row.getLong(i).toDouble
    case ShortType => row.getShort(i).toDouble
    case ByteType => row.getByte(i).toDouble
    case FloatType => row.getFloat(i).toDouble
    case DoubleType => row.getDouble(i)
    case TimestampType => row.getLong(i) / 1e6 // epoch seconds, cast parity
    case _ => Double.NaN // cast-null parity: logs nothing for this column
  }

  private[grafttable] def hashUtf8(u: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)

  /** StructType → parquet MessageType matching Spark's writer layout
    * (3-level LIST, key_value MAP, plain-group STRUCT — recursively),
    * so the sink's files are indistinguishable from batch-staged ones. */
  private[grafttable] def messageTypeOf(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(fieldTypeOf(f.name, f.dataType)))
    b.named("spark_schema")
  }

  private def fieldTypeOf(name: String, dt: DataType,
      rep: Repetition = Repetition.OPTIONAL): Type = dt match {
    case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
    case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(name)
    case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(name)
    case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
    case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
    case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep).named(name)
    case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
      .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(name)
    case DateType => Types.primitive(PrimitiveTypeName.INT32, rep)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case ArrayType(et, _) =>
      Types.list(rep).setElementType(fieldTypeOf("element", et)).named(name)
    case MapType(kt, vt, _) =>
      Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
        .addField(Types.repeatedGroup()
          .addField(fieldTypeOf("key", kt, Repetition.REQUIRED))
          .addField(fieldTypeOf("value", vt))
          .named("key_value"))
        .named(name)
    case st: StructType =>
      val gb = Types.buildGroup(rep)
      st.fields.foreach(f => gb.addField(fieldTypeOf(f.name, f.dataType)))
      gb.named(name)
    case other => throw new UnsupportedOperationException(
      s"graft streaming sink: unsupported column type ${other.catalogString} " +
      "(supported: boolean, int, bigint, float, double, string, binary, " +
      "timestamp, date, and array / map / struct of those)")
  }

  /** One value into slot `fi` of `g`, recursively — InternalRow,
    * ArrayData, and MapData key/value arrays all expose the same
    * SpecializedGetters surface, so one definition writes every
    * nesting level. */
  private def addValue(g: org.apache.parquet.example.data.Group, fi: Int,
      dt: DataType,
      src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ordinal: Int): Unit = dt match {
    case BooleanType => g.add(fi, src.getBoolean(ordinal))
    case IntegerType | DateType => g.add(fi, src.getInt(ordinal))
    case LongType | TimestampType => g.add(fi, src.getLong(ordinal))
    case FloatType => g.add(fi, src.getFloat(ordinal))
    case DoubleType => g.add(fi, src.getDouble(ordinal))
    case StringType => g.add(fi,
      Binary.fromConstantByteArray(src.getUTF8String(ordinal).getBytes))
    case BinaryType => g.add(fi,
      Binary.fromConstantByteArray(src.getBinary(ordinal)))
    case ArrayType(et, _) =>
      val arr = src.getArray(ordinal)
      val listG = g.addGroup(fi)
      var j = 0
      while (j < arr.numElements()) {
        val entry = listG.addGroup(0)
        if (!arr.isNullAt(j)) addValue(entry, 0, et, arr, j)
        j += 1
      }
    case MapType(kt, vt, _) =>
      val m = src.getMap(ordinal)
      val mapG = g.addGroup(fi)
      var j = 0
      while (j < m.numElements()) {
        val kv = mapG.addGroup(0)
        addValue(kv, 0, kt, m.keyArray(), j)
        if (!m.valueArray().isNullAt(j)) addValue(kv, 1, vt, m.valueArray(), j)
        j += 1
      }
    case st: StructType =>
      val sr = src.getStruct(ordinal, st.length)
      val sg = g.addGroup(fi)
      var j = 0
      while (j < st.length) {
        if (!sr.isNullAt(j)) addValue(sg, j, st(j).dataType, sr, j)
        j += 1
      }
    case other => throw new UnsupportedOperationException(
      s"graft streaming sink: unsupported type $other")
  }

  private[grafttable] def groupOf(factory: SimpleGroupFactory,
      schema: StructType,
      row: InternalRow): org.apache.parquet.example.data.Group = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) addValue(g, i, schema.fields(i).dataType, row, i)
      i += 1
    }
    g
  }
}
