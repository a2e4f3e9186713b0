package graft.sources.changes

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CommitLog

/** Structured-Streaming CHANGE FEED over a commit-log table — Delta's
  * `readStream` CDF surface re-expressed for [[CommitLog]]:
  *
  * {{{
  *   spark.readStream.format("graft-changes")
  *     .option("startingVersion", "0")        // default: latest (new changes only)
  *     .option("maxVersionsPerTrigger", "10") // admission control
  *     .load(tablePath)
  * }}}
  *
  * The streaming OFFSET is the commit version, so the engine's offset
  * log checkpoints exactly the cursor [[CommitLog.readChanges]] takes
  * as `sinceVersion`; each micro-batch is the slices of versions
  * (start, end] — planned by [[CommitLog.changeSlices]], the same one
  * definition the batch feed uses, so the two cannot drift. Work per
  * trigger is proportional to the CHANGED files (commit lines + their
  * data), never a rescan of the base table; dataChange=false commits
  * (compaction) and vacuum checkpoint entries are invisible; a
  * consumer whose start falls below the vacuum horizon fails loudly
  * (the [[CommitLog.assertChangesAvailable]] gate) instead of
  * silently skipping history. Exactly-once to a commit-log sink
  * composes with [[CommitLog.appendStream]]'s batchId ledger: a
  * replayed micro-batch re-plans the same versions and the sink lands
  * nothing.
  *
  * Schema: the table's declared schema (or the newest live file's
  * footer when none is declared) plus `_change_type` and
  * `_commit_version` — the batch feed's exact column contract. */
class ChangesTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-changes"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-changes source requires a path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = pathOf(options)
    val s = CommitLog.resolve(spark, table)
    val base = s.declared.getOrElse {
      require(s.live.nonEmpty,
        s"graft-changes: $table has no live files and no declared schema")
      // one footer read per version — metadata, not a table scan; the
      // NEWEST live file, the same fallback as the batch source's schemaAt
      s.footerSchema.get
    }
    base
      .add(StructField("_change_type", StringType, nullable = false))
      .add(StructField("_commit_version", LongType, nullable = false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ChangesTable(pathOf(opts), schema,
      Option(opts.get("startingVersion")).map(_.toLong),
      Option(opts.get("maxVersionsPerTrigger")).map(_.toLong))
  }
}

class ChangesTable(tablePath: String, tableSchema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Long])
    extends Table with SupportsRead {
  override def name(): String = s"graft-changes:$tablePath"
  @annotation.nowarn("cat=deprecation")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ChangesScan(tablePath, tableSchema, startingVersion, maxVersionsPerTrigger)
}

class ChangesScan(tablePath: String, schema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Long])
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftChangesScan table=$tablePath starting=${startingVersion.getOrElse(-1L)}"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangesMicroBatchStream(tablePath, schema, startingVersion,
      maxVersionsPerTrigger)
}

/** The offset IS the commit version (the highest version already
  * delivered). */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

class ChangesMicroBatchStream(tablePath: String, schema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(CommitLog.latestVersion(spark, tablePath))

  /** Default start: the table head at stream start — NEW changes only
    * (existing content is a batch `read`'s job). `startingVersion = N`
    * replays from N inclusive, subject to the vacuum gate. */
  override def initialOffset(): Offset =
    VersionOffset(startingVersion.map(_ - 1)
      .getOrElse(CommitLog.latestVersion(spark, tablePath)))

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def latestOffset(): Offset =
    VersionOffset(CommitLog.latestVersion(spark, tablePath))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  /** Admission control in VERSIONS per trigger: a long backlog (or a
    * full-history replay) drains in bounded micro-batches instead of
    * one giant catch-up batch. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val head = availableNowTarget
      .getOrElse(CommitLog.latestVersion(spark, tablePath))
    val capped = maxVersionsPerTrigger.fold(head)(n => math.min(head, s + n))
    VersionOffset(math.max(s, capped))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    // the slices of (s, e] — the SAME planner as batch readChanges;
    // per-file partitions, never a base-table listing or scan
    CommitLog.changeSlices(spark, tablePath, s, e).map { sl =>
      ChangesPartition(s"$tablePath/${sl.file}", sl.kind, sl.version,
        sl.dvDiff): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ChangesPartition(filePath: String, kind: String, version: Long,
    dvDiff: Option[Array[Byte]]) extends InputPartition

class ChangesReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangesPartitionReader(partition.asInstanceOf[ChangesPartition], schema)
}

/** Reads one parquet file with parquet-java's Group API and converts
  * records to InternalRows of the declared schema — name-matched, so a
  * pre-evolution file null-fills missing columns exactly like the
  * batch feed's declared-schema read. For DV-delete partitions only
  * the rows whose bit is set in the vector diff are emitted (the row
  * index is the read position — parquet-java iterates in file order,
  * the same order `_metadata.row_index` numbers).
  *
  * Supported physical types: BOOLEAN, INT32 (int/date), INT64
  * (long/timestamp MICROS|MILLIS|NANOS), INT96 (legacy timestamp),
  * FLOAT, DOUBLE, BINARY (string/bytes) — the flat-primitive surface
  * commit-log tables carry. Nested/repeated columns are refused with
  * a named error rather than decoded wrongly. */
class ChangesPartitionReader(p: ChangesPartition, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val conf = new Configuration()
  private val inputFile = HadoopInputFile.fromPath(new Path(p.filePath), conf)

  private val fileSchema: MessageType = {
    val fr = ParquetFileReader.open(inputFile)
    try fr.getFooter.getFileMetaData.getSchema finally fr.close()
  }

  private val reader = {
    val rs = new GroupReadSupport()
    org.apache.parquet.hadoop.ParquetReader.builder(rs, new Path(p.filePath))
      .withConf(conf).build()
  }

  // output slot -> file field index (-1 = absent: null-fill).
  // COLUMN MAPPING: file columns are addressed by the field's PHYSICAL
  // name (carried in the declared schema's metadata, which survives
  // the stream's schema JSON round trip); logical names stay on the
  // output slots — a renamed column keeps serving, never null-fills
  private val dataFields = schema.fields.dropRight(2) // _change_type, _commit_version appended here
  private val fieldIdx: Array[Int] = dataFields.map { f =>
    val phys = graft.operators.ColumnMapping.physical(f)
    if (fileSchema.containsField(phys)) fileSchema.getFieldIndex(phys) else -1
  }
  fieldIdx.zipWithIndex.foreach { case (i, out) =>
    // nested columns (list / map / struct, recursively) decode through
    // ParquetGroups; only a top-level shape contradiction refuses
    if (i >= 0 && !graft.sources.ParquetGroups.shapeCompatible(
        fileSchema.getType(i), dataFields(out).dataType))
      throw new UnsupportedOperationException(
        s"graft-changes: column '${dataFields(out).name}' in ${p.filePath} " +
        s"is ${fileSchema.getType(i)} in the file but declared " +
        s"${dataFields(out).dataType.catalogString} — top-level shape mismatch")
  }

  private val changeTypeValue = UTF8String.fromString(p.kind)
  private var rowIndex = -1L
  private var current: InternalRow = _

  override def next(): Boolean = {
    var g: Group = reader.read()
    rowIndex += 1
    // DV-delete slices emit ONLY rows whose diff bit is set — probed
    // with the SAME testBit the scan-side dv mask uses (word layout is
    // its contract, never re-derived here)
    while (g != null &&
        p.dvDiff.exists(dv => !graft.plans.BitsetAggregate.testBit(dv, rowIndex))) {
      g = reader.read()
      rowIndex += 1
    }
    if (g == null) return false
    val vals = new Array[Any](schema.length)
    var out = 0
    while (out < dataFields.length) {
      val fi = fieldIdx(out)
      vals(out) =
        if (fi < 0 || g.getFieldRepetitionCount(fi) == 0) null
        else graft.sources.ParquetGroups.convert(g, fi,
          dataFields(out).dataType, s"graft-changes ${p.filePath}")
      out += 1
    }
    vals(schema.length - 2) = changeTypeValue
    vals(schema.length - 1) = p.version
    current = InternalRow.fromSeq(vals.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
