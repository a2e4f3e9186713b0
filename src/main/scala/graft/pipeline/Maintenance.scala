package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.operators.{CommitLog, Compaction, Dedup, Similarity, ZoneMaps}

/** Ops CLI for the table-maintenance jobs a long-lived deployment
  * schedules (the counterpart of [[Main]]'s ingest loop — the
  * reference has no maintenance surface because its archive never
  * fragments; a streaming/incremental ingest does):
  *
  * {{{
  *   maintenance compact  <tablePath> [targetMB=128]   # raw parquet bin-pack
  *   maintenance zonemap  <tablePath> <col[,col...]>   # write _zonemaps.json
  *   maintenance log-compact <logTable> [targetFiles=1]# atomic (commit log)
  *   maintenance vacuum   <logTable> <keepFromVersion> # drop old versions
  *   maintenance restore  <logTable> <version>         # revert as new commit
  *   maintenance history  <logTable>                   # one line per commit
  *   maintenance version-at <logTable> <instant>       # TIMESTAMP AS OF resolve
  * }}}
  *
  * `instant` is epoch millis or an ISO-8601 instant
  * (2026-08-14T12:00:00Z).
  *
  * Exit codes: 0 ok, 1 usage/validation error — same contract as Main. */
object Maintenance {

  def run(spark: SparkSession, argv: Array[String]): Either[String, String] =
    argv.toList match {
      case "compact" :: table :: rest =>
        val mb = rest.headOption.map(s =>
          s.toLongOption.getOrElse(-1L)).getOrElse(128L)
        if (mb <= 0) Left(s"targetMB must be a positive number, got ${rest.headOption.getOrElse(mb)}")
        else {
          val reports = Compaction.compact(spark, table, mb << 20)
          Right(if (reports.isEmpty) "already compact"
          else reports.map(r =>
            s"${r.partition}: ${r.filesBefore} -> ${r.filesAfter} files").mkString("; "))
        }
      case ("compact-ivf-index" | "compact-dedup-index") :: index :: rest =>
        // index maintenance: bin-pack appended micro-batch files under
        // cell=/band_id= dirs, newest batch excluded for replay safety
        val mb = rest.headOption.map(s =>
          s.toLongOption.getOrElse(-1L)).getOrElse(128L)
        if (mb <= 0) Left(s"targetMB must be a positive number, got ${rest.headOption.getOrElse(mb)}")
        else {
          val reports =
            if (argv.head == "compact-ivf-index")
              Similarity.compactIvfIndex(spark, index, mb << 20)
            else Dedup.compactDedupIndex(spark, index, mb << 20)
          Right(if (reports.isEmpty) "already compact"
          else reports.map(r =>
            s"${r.partition}: ${r.filesBefore} -> ${r.filesAfter} files").mkString("; "))
        }
      case "tighten-range-bounds" :: index :: Nil =>
        // the pairing pass to append-time widening: recompute the
        // range-search pruning sidecar exactly from the index's
        // current rows (bounds only ever move TOWARD the data, so
        // serving stays value-identical); run on the compaction
        // cadence after bounds drift loose
        val bounds = Similarity.tightenCellBounds(spark, index)
        Right(s"cell bounds tightened: ${bounds.map(b => f"$b%.4f").mkString(", ")}")

      case "zonemap" :: table :: cols :: Nil =>
        val cs = cols.split(',').toSeq.filter(_.nonEmpty)
        if (cs.isEmpty) Left("zonemap needs at least one column")
        else { ZoneMaps.write(spark, table, cs); Right(s"zone map over ${cs.mkString(",")}") }
      case "log-compact" :: table :: rest =>
        val files = rest.headOption.map(s =>
          s.toIntOption.getOrElse(-1)).getOrElse(1)
        if (files <= 0) Left(s"targetFiles must be a positive number, got ${rest.headOption.getOrElse(files)}")
        else Right(s"committed v${CommitLog.compact(spark, table, files)}")
      case "log-compact-bloom" :: table :: files :: bloomCols :: rest =>
        // compaction that RE-PUBLISHES skipping metadata: Blooms on
        // bloomCols (comma-separated), zones on the optional 4th arg
        val n = scala.util.Try(files.toInt).getOrElse(0)
        val bc = bloomCols.split(',').toSeq.filter(_.nonEmpty)
        val sc = rest.headOption.toSeq.flatMap(_.split(',').toSeq.filter(_.nonEmpty))
        if (n <= 0) Left(s"targetFiles must be positive, got $files")
        else if (bc.isEmpty && sc.isEmpty) Left("log-compact-bloom needs bloom or stats columns")
        else Right(s"committed v${CommitLog.compactWithBloom(spark, table, n, bc, sc)}")
      case "zorder" :: table :: files :: cols :: Nil =>
        // N-ary OPTIMIZE ZORDER BY: cluster on the space-filling curve
        // of the comma-separated columns, zones on all of them
        val n = scala.util.Try(files.toInt).getOrElse(0)
        val cs = cols.split(',').toSeq.filter(_.nonEmpty)
        if (n <= 0) Left(s"targetFiles must be positive, got $files")
        else if (cs.size < 2) Left("zorder needs at least two columns")
        else Right(s"committed v${CommitLog.optimizeZOrderBy(spark, table, cs, n)}")
      case "cluster-by" :: table :: cols :: Nil =>
        // one file group per distinct key tuple: the point-zone layout
        // metadata-served GROUP BY and storage-partitioned joins need
        val cs = cols.split(',').toSeq.filter(_.nonEmpty)
        if (cs.isEmpty) Left("cluster-by needs at least one column")
        else scala.util.Try(CommitLog.optimizeClusterBy(spark, table, cs)) match {
          case scala.util.Success(v) => Right(s"committed v$v")
          case scala.util.Failure(e) => Left(e.getMessage)
        }
      case "cluster-by-bucket" :: table :: col :: n :: Nil =>
        // the high-cardinality tier: recluster on a materialized
        // pmod(xxhash64(col), n) bucket column (NULLs in bucket n)
        scala.util.Try(n.toInt).toOption.filter(_ > 0) match {
          case None => Left(s"unparsable bucket count: $n")
          case Some(nb) =>
            scala.util.Try(CommitLog.clusterByBucket(spark, table, col, nb)) match {
              case scala.util.Success(v) => Right(s"committed v$v")
              case scala.util.Failure(e) => Left(e.getMessage)
            }
        }
      case "vacuum" :: table :: keep :: Nil =>
        scala.util.Try(keep.toLong).toOption match {
          case None => Left(s"unparsable version: $keep")
          case Some(v) => CommitLog.vacuum(spark, table, v); Right(s"vacuumed below v$v")
        }
      case "restore" :: table :: ver :: Nil =>
        scala.util.Try(ver.toLong).toOption match {
          case None => Left(s"unparsable version: $ver")
          case Some(v) =>
            scala.util.Try(CommitLog.restore(spark, table, v)) match {
              case scala.util.Success(nv) => Right(s"restored to v$v as commit v$nv")
              case scala.util.Failure(e) => Left(e.getMessage)
            }
        }
      case "version-at" :: table :: instant :: Nil =>
        CommitLog.parseInstantMillis(instant) match {
          case None => Left(s"unparsable instant: $instant (epoch millis or ISO-8601)")
          case Some(m) =>
            scala.util.Try(CommitLog.versionAtTimestamp(spark, table, m)) match {
              case scala.util.Success(v) => Right(
                s"v$v (read with asOf=Some(${v}L) / readTimestampAsOf)")
              case scala.util.Failure(e) => Left(e.getMessage)
            }
        }
      case "constraints" :: table :: Nil =>
        val cs = CommitLog.constraints(spark, table)
        if (cs.isEmpty) Right("no constraints")
        else Right(cs.toSeq.sortBy(_._1)
          .map { case (n, sql) => s"$n: CHECK ($sql)" }.mkString("\n"))
      case "add-constraint" :: table :: name :: rest if rest.nonEmpty =>
        // the expression may contain spaces: everything after the name
        scala.util.Try(CommitLog.addConstraint(spark, table, name,
            rest.mkString(" "))) match {
          case scala.util.Success(v) => Right(s"constraint $name committed as v$v")
          case scala.util.Failure(e) => Left(e.getMessage)
        }
      case "history" :: table :: Nil =>
        val rows = CommitLog.history(spark, table).orderBy("version").collect()
        if (rows.isEmpty) Left(s"no commits at $table")
        else Right(rows.map { r =>
          val when =
            if (r.isNullAt(1)) ""
            else " @" + java.time.Instant
              .ofEpochMilli(r.getTimestamp(1).getTime).toString
          val batch = if (r.isNullAt(4)) "" else s" batchId=${r.getLong(4)}"
          val flags = (if (!r.getBoolean(5)) " dataChange=false" else "") +
            (if (r.getBoolean(6)) " checkpointed" else "") +
            (if (r.getInt(7) > 0) s" dvs=${r.getInt(7)}" else "")
          s"v${r.getLong(0)}$when: +${r.getInt(2)}/-${r.getInt(3)}$batch$flags"
        }.mkString("\n"))
      case other =>
        Left("usage: compact <table> [targetMB] | " +
          s"compact-ivf-index <index> [targetMB] | " +
          s"tighten-range-bounds <index> | " +
          s"compact-dedup-index <index> [targetMB] | zonemap <table> <cols> | " +
          s"log-compact <table> [targetFiles] | " +
          s"log-compact-bloom <table> <targetFiles> <bloomCols> [statsCols] | " +
          s"zorder <table> <targetFiles> <cols> | cluster-by <table> <cols> | " +
          s"cluster-by-bucket <table> <col> <nBuckets> | " +
          s"vacuum <table> <version> | " +
          s"restore <table> <version> | history <table> | " +
          s"version-at <table> <instant> | constraints <table> | " +
          s"add-constraint <table> <name> <sql-expr>" +
          (if (other.isEmpty) "" else s" (got: ${other.mkString(" ")})"))
    }

  def main(argv: Array[String]): Unit = {
    val spark = GraftSession.local()
    val out = try run(spark, argv) finally spark.stop()
    out match {
      case Left(err) => System.err.println(s"maintenance: $err"); sys.exit(1)
      case Right(msg) => println(msg)
    }
  }
}
