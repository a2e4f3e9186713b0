package graft.sources.sqlite

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Streaming offset: the high-watermark rowid per station file. wview
  * appends samples with `dateTime INTEGER PRIMARY KEY` = the rowid, so
  * "everything after the last run" is exactly a rowid range — the same
  * resume-from-watermark contract the reference implements with its
  * YYYYMMDD state file (aristoteles.py:65-79), here checkpointed by
  * Spark's offset log instead. */
case class SqliteOffset(maxRowids: Map[String, Long]) extends Offset {
  override def json(): String =
    maxRowids.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" + v
    }.mkString("{", ",", "}")
}

object SqliteOffset {
  /** Parses only the flat {"path":long} shape json() emits. */
  def parse(json: String): SqliteOffset = {
    val entry = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(-?\\d+)".r
    SqliteOffset(entry.findAllMatchIn(json).map { m =>
      m.group(1).replace("\\\"", "\"").replace("\\\\", "\\") -> m.group(2).toLong
    }.toMap)
  }
}

/** Micro-batch stream over a station directory of `.sdb` files (or a
  * single file): each trigger reads only rowids in (lastMax, newMax]
  * per file — an O(tree-depth) max-rowid probe per file to discover
  * the new offset, then pruned b-tree range scans for the delta, never
  * a rescan of old data. New station files appearing mid-stream are
  * picked up with an implicit start offset of "beginning of file".
  *
  * At 100 TB this is the shape that matters: offset discovery is
  * metadata-sized (pages-per-probe ~ tree depth), and each
  * micro-batch's work is proportional to NEW data only. */
class SqliteMicroBatchStream(rootPath: String, table: String,
    fullSchema: StructType, required: StructType,
    lo: Long, hi: Long, stationCol: Option[String],
    maxRowsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // the SESSION's hadoop conf (s3a/kerberos ride spark.hadoop.*)
  private def conf = SqliteTableProvider.hadoopConf()

  // Trigger.AvailableNow: Spark would otherwise wrap this source and
  // DISCARD its read limit (the generic wrapper can't cap a custom
  // offset type) — implementing the trigger natively pins the target
  // head here, and rate-limited micro-batches walk up to it.
  @volatile private var availableNowTarget: Option[SqliteOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset().asInstanceOf[SqliteOffset])

  override def initialOffset(): Offset = SqliteOffset(Map.empty)

  override def deserializeOffset(json: String): Offset = SqliteOffset.parse(json)

  override def latestOffset(): Offset = {
    val files = SqlitePaths.resolve(rootPath, conf)
    SqliteOffset(files.flatMap { case (_, p) =>
      val f = SqliteFile.open(p, conf)
      // empty table -> no entry (absent = nothing to read)
      try f.maxRowid(f.tableRoot(table), Long.MinValue, Long.MaxValue).map(p -> _)
      finally f.close()
    }.toMap)
  }

  // ---- admission control (maxRowsPerTrigger) ------------------------

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  /** True head of every file — what AvailableNow catches up to across
    * rate-limited triggers. */
  override def reportLatestOffset(): Offset = latestOffset()

  /** Files whose regression we already warned about (once per stream
    * instance, not once per trigger). */
  private val warnedRegressions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The end offset for the next batch. Watermarks NEVER regress: a
    * file whose live max rowid fell below the checkpointed watermark
    * was rebuilt in place — its rows can't be told apart from already-
    * ingested ones, so the watermark holds (re-reading would
    * double-ingest into append sinks) and the hold is warned LOUDLY,
    * here where the decision is made against the live head. Files that
    * vanished keep their watermark too (a reappearing rebuild must not
    * restart from scratch).
    *
    * Under a rows-per-trigger budget, files advance in path order; the
    * file that exhausts the budget gets its cutoff from kthRowid — the
    * b-tree's rank-select, one walk that stops at the budget-th row —
    * so per-trigger discovery work is O(rows admitted), not
    * O(backlog). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SqliteOffset].maxRowids
    val live = availableNowTarget
      .getOrElse(latestOffset().asInstanceOf[SqliteOffset])
    val held = live.maxRowids.map { case (p, end) =>
      s.get(p).filter(_ > end) match {
        case Some(prev) =>
          if (warnedRegressions.add(p))
            System.err.println(
              s"[graft] sqlite stream: $p max rowid $end regressed below " +
              s"watermark $prev (file rebuilt?); holding the watermark, rows " +
              "below it are not ingested — reset the checkpoint to re-read this station")
          p -> prev
        case None => p -> end
      }
    } ++ (s -- live.maxRowids.keySet) // vanished files keep their watermark
    val full = SqliteOffset(held)
    limit match {
      case _: ReadAllAvailable => full
      case r: ReadMaxRows =>
        var budget = r.maxRows()
        val capped = full.maxRowids.toSeq.sortBy(_._1).map { case (p, endRowid) =>
          val prev = s.get(p)
          val plo = prev match {
            case Some(v) if v == Long.MaxValue => Long.MaxValue
            case Some(v) => math.max(lo, v + 1)
            case None => lo
          }
          val phi = math.min(hi, endRowid)
          if (budget <= 0 || plo > phi) {
            // no budget (or nothing new): hold this file's watermark
            p -> prev.getOrElse(Long.MinValue)
          } else {
            val f = SqliteFile.open(p, conf)
            try {
              val root = f.tableRoot(table)
              // ONE b-tree walk decides both questions (countOrKth):
              // fewer than `budget` rows → their exact count; at least
              // `budget` → the budget-th rowid as this file's cutoff
              // (an exact fit cuts at the last available rowid — the
              // next trigger resumes from there, nothing lost)
              f.countOrKth(root, plo, phi, budget) match {
                case Left(n) => // the whole backlog fits under budget
                  budget -= n
                  p -> endRowid
                case Right(cutoff) =>
                  budget = 0
                  p -> cutoff
              }
            } finally f.close()
          }
        }.filterNot(_._2 == Long.MinValue).toMap
        SqliteOffset(capped)
      case other => throw new UnsupportedOperationException(s"read limit $other")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SqliteOffset].maxRowids
    val e = end.asInstanceOf[SqliteOffset].maxRowids
    val hconf = conf
    val stationByPath = SqlitePaths.resolve(rootPath, hconf)
      .map { case (st, p) => p -> st }.toMap
    e.toSeq.sortBy(_._1).flatMap { case (p, endRowid) =>
      // (watermark-regression handling lives in latestOffset, where
      // the hold decision is made against the live head)
      val ploOpt = s.get(p) match {
        // a file already at Long.MaxValue can gain nothing more (and
        // prev + 1 would wrap)
        case Some(prev) if prev == Long.MaxValue => None
        case Some(prev) => Some(math.max(lo, prev + 1))
        case None => Some(lo)
      }
      ploOpt.toSeq.flatMap { plo =>
        val phi = math.min(hi, endRowid)
        if (plo > phi) Nil
        else {
          val station = stationByPath.getOrElse(p,
            SqlitePaths.stationOf(new org.apache.hadoop.fs.Path(p).getName))
          SqliteScan.pageGroups(p, table, plo, phi, hconf).map(pages =>
            SqlitePartition(p, table, pages, plo, phi, station, stationCol): InputPartition)
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteReaderFactory(fullSchema, required,
      graft.plans.SerializableHadoopConf.broadcast(org.apache.spark.sql.SparkSession.active))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
