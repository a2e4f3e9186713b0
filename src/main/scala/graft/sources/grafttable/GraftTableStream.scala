package graft.sources.grafttable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.operators.CommitLog

/** Offset for the TABLE stream: the version delivered through, plus
  * whether the initial snapshot batch has run. The snapshot phase is
  * IN the offset (not driver memory) so a restart between the
  * snapshot batch and its offset commit deterministically re-plans
  * the same pinned snapshot. Deserialization accepts the bare-long
  * form too, future-proofing checkpoint compatibility. */
case class TableStreamOffset(v: Long, snapshotDone: Boolean) extends Offset {
  override def json(): String = s"""{"v":$v,"done":$snapshotDone}"""
}

object TableStreamOffset {
  def parse(json: String): TableStreamOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val v = """"v":(-?\d+)""".r.findFirstMatchIn(t).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
      val done = """"done":(true|false)""".r.findFirstMatchIn(t)
        .forall(_.group(1).toBoolean)
      TableStreamOffset(v, done)
    } else TableStreamOffset(t.toLong, snapshotDone = true)
  }
}

/** Structured-Streaming source over a commit-log TABLE (Delta's
  * `readStream` on a table, as opposed to its change feed):
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("maxVersionsPerTrigger", "10")  // admission control
  *     .load(tablePath)
  * }}}
  *
  * Semantics are snapshot-then-increments: the first micro-batch
  * delivers the table's content AT the version pinned when the stream
  * started (deletion vectors applied — exactly what a batch read
  * returns), and every later batch delivers the files APPENDED by
  * versions after it, planned by the same [[CommitLog.changeSlices]]
  * the change feed uses — per-trigger work is proportional to the
  * changed files, never a base-table rescan, and dataChange=false
  * compactions are invisible. `startingVersion = N` skips the
  * snapshot and streams appends from version N on (the change feed's
  * cursor contract, including its vacuum-horizon completeness gate).
  *
  * An append-only source must refuse silent wrongness: a delete or
  * DV-diff inside a streamed version ABORTS the stream with a named
  * error — `ignoreDeletes = true` opts into dropping them (safe when
  * deletes are retention cleanup whose rows the consumer already
  * processed). For row-accurate delete propagation, use
  * `format("graft-changes")`.
  *
  * Readers are the SAME [[GraftReaderFactory]] the batch scan uses
  * (projection pushdown included); appended files stream as-of their
  * commit (no later DVs applied — the rows as appended, Delta's
  * table-stream contract). */
class GraftMicroBatchStream(tablePath: String, schema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Long],
    ignoreDeletes: Boolean)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(CommitLog.latestVersion(spark, tablePath))

  override def initialOffset(): Offset = startingVersion match {
    // explicit cursor: appends only, from N on — no snapshot batch
    case Some(n) => TableStreamOffset(n - 1, snapshotDone = true)
    case None =>
      TableStreamOffset(CommitLog.latestVersion(spark, tablePath),
        snapshotDone = false)
  }

  override def deserializeOffset(json: String): Offset =
    TableStreamOffset.parse(json)

  override def latestOffset(): Offset =
    TableStreamOffset(CommitLog.latestVersion(spark, tablePath),
      snapshotDone = true)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TableStreamOffset]
    // the snapshot is its OWN bounded batch: deliver it before any
    // increments so a huge backlog can't fuse with the initial load
    if (!s.snapshotDone) return TableStreamOffset(s.v, snapshotDone = true)
    val head = availableNowTarget
      .getOrElse(CommitLog.latestVersion(spark, tablePath))
    val capped = maxVersionsPerTrigger.fold(head)(n => math.min(head, s.v + n))
    TableStreamOffset(math.max(s.v, capped), snapshotDone = true)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TableStreamOffset]
    val e = end.asInstanceOf[TableStreamOffset]
    if (!s.snapshotDone) {
      // the pinned snapshot, DVs applied — identical to a batch read
      if (s.v < 0) return Array.empty
      return GraftScan.partitionsFor(spark, tablePath, s.v,
        CommitLog.snapshot(spark, tablePath, Some(s.v)))
    }
    val slices = CommitLog.changeSlices(spark, tablePath, s.v, e.v)
    val deletes = slices.filter(_.kind != "insert")
    if (deletes.nonEmpty && !ignoreDeletes)
      throw new IllegalStateException(
        s"graft table stream: version(s) ${deletes.map(_.version).distinct.sorted.mkString(",")} " +
        s"of $tablePath contain deletes/rewrites — an append-only table " +
        "stream cannot represent them. Set ignoreDeletes=true to drop " +
        "them, or stream format(\"graft-changes\") for row-accurate CDC.")
    slices.filter(_.kind == "insert").map(sl =>
      GraftPartition(s"$tablePath/${sl.file}", null, null, null): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // ship the logical→physical map explicitly (column mapping):
    // physical names never change, so the latest declaration serves
    // every streamed version's files
    new GraftReaderFactory(GraftScan.parquetRead(spark, schema,
      GraftScan.mappingOf(spark, tablePath, CommitLog.latestVersion(spark, tablePath)), Nil))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
