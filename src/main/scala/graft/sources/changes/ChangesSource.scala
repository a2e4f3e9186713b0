package graft.sources.changes

import java.util

import scala.jdk.CollectionConverters._

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
import graft.sources.ParquetRead

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
  * (compaction) are invisible; a consumer whose start falls below the
  * vacuum horizon fails loudly
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

  // _change_type and _commit_version are each slice's constants
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(ParquetRead(spark, schema,
      StructType(schema.fields.takeRight(2)), Map.empty, Nil))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ChangesPartition(filePath: String, kind: String, version: Long,
    dvDiff: Option[Array[Byte]]) extends InputPartition

/** DV-delete slices emit ONLY the rows whose bit is set in the vector
  * diff; every other slice emits the file's rows. Files decode through
  * [[ParquetRead]], name-matched on physical names, so a
  * pre-evolution file null-fills missing columns exactly like the
  * batch feed's declared-schema read. */
class ChangesReaderFactory(read: ParquetRead) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangesPartition]
    ParquetRead.reader(read.rows(p.filePath,
      InternalRow(UTF8String.fromString(p.kind), p.version), p.dvDiff.orNull,
      keepSet = true))
  }
}
