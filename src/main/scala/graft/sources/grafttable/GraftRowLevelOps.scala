package graft.sources.grafttable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.CommitLog

/** SQL UPDATE / MERGE INTO / arbitrary-condition DELETE for commit-log
  * tables — Spark's group-based row-level operation API mapped onto
  * copy-on-write at FILE granularity (the "group" IS the data file):
  *
  *  - Spark's rewrite plans read the table through [[GraftCowScan]],
  *    apply the assignments/actions, and hand the full replacement
  *    rows to [[GraftCowWrite]];
  *  - the scan records which files it ENDED UP reading; the write
  *    replaces exactly those files in ONE commit, pinned to the
  *    scanned snapshot version (a racing commit conflicts instead of
  *    being lost);
  *  - runtime group filtering keeps the blast radius small: the scan
  *    exposes `_file` ([[SupportsRuntimeV2Filtering]]), Spark runs the
  *    command's condition as a subquery collecting matched `_file`
  *    values, and only those files are rewritten — untouched files
  *    survive BY NAME, exactly like the programmatic
  *    [[CommitLog.merge]]. Static pushdown prunes candidates earlier
  *    still via the log's zone maps ([[CommitLog.SkipPreds]]).
  *
  * Correctness invariants this file owes the reader:
  *  - the COW scan NEVER row-filters: a matched file's unmatched rows
  *    must flow through the rewrite or they'd be silently dropped —
  *    pushed filters prune whole files only, and the readers get no
  *    filters to skip row groups with;
  *  - deletion vectors are applied by the scan, so a DV-deleted row
  *    cannot resurrect through the rewrite, and replacing the file
  *    retires its vector;
  *  - rewritten files carry fresh zone stats for every column that was
  *    statted on the scanned snapshot's live files, so SQL DML doesn't
  *    silently erode data skipping (Bloom filters are NOT carried —
  *    reads stay correct, point-skipping on rewritten files degrades
  *    to conservative until the next `optimize`/bloom append). */
class GraftRowLevelOperation(tablePath: String, cmd: Command)
    extends RowLevelOperation {

  // the operation instance correlates its two halves: the scan that
  // chose the files and the write that must replace exactly them
  @volatile private[grafttable] var cowScan: GraftCowScan = _

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(this, tablePath)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val op = this
    new WriteBuilder {
      override def build(): Write = new GraftCowWrite(op, tablePath, info.schema())
    }
  }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftFileMetaColumn.name()))

  override def description(): String = s"graft COW $cmd $tablePath"
}

/** Scan builder for the rewrite's read side. Pushed filters (the
  * command's condition) are used ONLY to prune whole files via the
  * log's zone/bloom metadata — every filter is returned as residual
  * and the readers receive no filters, because the rewrite
  * needs every live row of every surviving file. */
class GraftCowScanBuilder(op: GraftRowLevelOperation, tablePath: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val spark = SparkSession.active
  // pin the snapshot the whole operation runs against
  private val version = CommitLog.latestVersion(spark, tablePath)
  private var required: StructType = _
  private var pushed: Array[Filter] = Array.empty

  // reuse the batch source's translatable-subset test
  private val delegate = new GraftScanBuilder(tablePath, version,
    GraftTableProvider.schemaAt(spark, tablePath, version))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(delegate.skippable)
    filters // ALL residual: group pruning only, never row semantics
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val schema =
      if (required != null) required
      else GraftTableProvider.schemaAt(spark, tablePath, version)
    val scan = new GraftCowScan(tablePath, version, schema, pushed)
    op.cowScan = scan
    scan
  }
}

/** The rewrite's table scan: the pinned snapshot's files, statically
  * pruned by the pushed condition (file granularity), then narrowed at
  * runtime to the matched `_file` values Spark's group-filter subquery
  * collects. Rows flow DV-masked and un-row-filtered. */
class GraftCowScan(val tablePath: String, val version: Long,
    schema: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  @volatile private[grafttable] var files: Seq[String] = {
    val spark = SparkSession.active
    val preds = GraftScan.skipPredsOf(spark, tablePath, version, pushed)
    if (preds.isEmpty) CommitLog.snapshot(spark, tablePath, Some(version))
    else CommitLog.prunedFilesFor(spark, tablePath, Some(version), preds)
  }

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftFileMetaColumn.name()))

  /** Runtime group filter: Spark hands `IN(_file, matched values)` (or
    * `=`) collected from the condition subquery. Values are the full
    * paths the readers emit. Unrecognized predicates narrow nothing —
    * conservative is correct, just a wider rewrite. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val matched: Option[Set[String]] = predicates.collectFirst {
      case p if p.name() == "IN" && isFileRef(p.children().headOption) =>
        p.children().drop(1).flatMap(litString).toSet
      case p if p.name() == "=" && isFileRef(p.children().headOption) =>
        p.children().drop(1).flatMap(litString).toSet
    }
    matched.foreach { names =>
      files = files.filter(f => names.contains(s"$tablePath/$f"))
    }
  }

  private def isFileRef(e: Option[org.apache.spark.sql.connector.expressions.Expression]): Boolean =
    e match {
      case Some(r: NamedReference) =>
        r.fieldNames().length == 1 &&
          r.fieldNames()(0) == GraftFileMetaColumn.name()
      case _ => false
    }

  private def litString(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Option(l.value()).map(_.toString)
      case _ => None
    }

  override def planInputPartitions(): Array[InputPartition] =
    GraftScan.partitionsFor(SparkSession.active, tablePath, version, files)

  // no filters, so no row-group skipping: every live row flows
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new GraftReaderFactory(GraftScan.parquetRead(spark, schema,
      GraftScan.mappingOf(spark, tablePath, version), Nil))
  }

  override def description(): String =
    s"graft COW scan $tablePath v$version (${files.size} candidate files)"
}

/** The rewrite's write side: stage replacement rows executor-side with
  * the streaming sink's inline-stats parquet writer, then ONE commit
  * swaps exactly the scanned files — CHECK constraints validated over
  * the staged files first, whole operation refused on violation. */
class GraftCowWrite(op: GraftRowLevelOperation, tablePath: String,
    writeSchema: StructType) extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    // carry zone-stat coverage through the rewrite: every column
    // statted on any live file of the scanned snapshot stays statted
    val scan = op.cowScan
    // COLUMN MAPPING boundary: the COW rewrite emits PHYSICAL column
    // names, and stat coverage intersects in the physical domain
    // (logged stats are keyed physically)
    import graft.operators.ColumnMapping
    val writeSchemaP = CommitLog.tableSchema(spark, tablePath)
      .fold(writeSchema)(ColumnMapping.physicalWriteSchema(writeSchema, _))
    val statted: Seq[String] =
      if (scan == null) Seq.empty
      else CommitLog.fileStats(spark, tablePath, Some(scan.version))
        .values.flatMap(_.keys).toSet
        .intersect(writeSchemaP.fields.map(_.name).toSet).toSeq.sorted
    GraftCowWriterFactory(tablePath, writeSchemaP, statted,
      graft.plans.SerializableHadoopConf.broadcast(spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val scan = op.cowScan
    require(scan != null,
      s"graft COW write to $tablePath committed without its scan — " +
      "the rewrite plan never read the table")
    val staged = messages.collect {
      case m: GraftFileMessage if m.relName != null => m
    }
    val adds = staged.map(_.relName).toSeq
    def deleteStaged(): Unit = {
      val fs = new Path(tablePath).getFileSystem(
        spark.sessionState.newHadoopConf())
      staged.foreach(m =>
        scala.util.Try(fs.delete(new Path(tablePath, m.relName), false)))
    }
    CommitLog.gateStagedFiles(spark, tablePath, writeSchema, adds,
      op.description())(deleteStaged())
    val removes = scan.files
    if (adds.isEmpty && removes.isEmpty) return // matched nothing: no-op
    val stats = staged.filter(_.stats.nonEmpty)
      .map(m => m.relName -> m.stats).toMap
    CommitLog.commit(spark, tablePath, adds, removes, stats = stats,
      expectedVersion = Some(scan.version))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(tablePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    messages.foreach {
      case m: GraftFileMessage if m.relName != null =>
        scala.util.Try(fs.delete(new Path(tablePath, m.relName), false))
      case _ => ()
    }
  }

  override def description(): String = op.description()
}

case class GraftCowWriterFactory(tablePath: String, schema: StructType,
    statsCols: Seq[String],
    conf: org.apache.spark.broadcast.Broadcast[graft.plans.SerializableHadoopConf])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(tablePath, schema, statsCols,
      bloomCols = Seq.empty, mBits = 64, k = 1, partitionId = partitionId,
      conf = conf.value.value)
}

/** The `_file` metadata column: full path of the data file a row came
  * from. Serves SELECT-side provenance queries and is the join key of
  * the row-level runtime group filter. */
object GraftFileMetaColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def isNullable: Boolean = false
  override def comment(): String = "data file path this row was read from"
}
