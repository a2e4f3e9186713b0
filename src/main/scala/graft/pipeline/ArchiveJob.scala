package graft.pipeline

import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.UnitConversions

/** The aristoteles pipeline re-expressed Spark-first: incremental,
  * idempotent, batch ETL from per-station archive tables to a
  * day-partitioned columnar (parquet) archive, with a completeness gate,
  * conditional unit conversion, high-watermark state, and Prometheus
  * metrics. (SURVEY §2 S12, S14-S18; lifecycle §3 E1-E3.)
  *
  * Spark-native deltas from the reference, by design (SURVEY §1.4):
  *  - multi-station fan-in is a long-format union with a `station`
  *    column, not N copies of the pipeline;
  *  - the sink is parquet partitioned by (month, day) — already
  *    columnar, so the reference's per-column HDF5 shredding (S13) is
  *    free; dynamic partition overwrite reproduces the idempotent
  *    day-level rewrite, and Spark's commit protocol replaces the lock
  *    file;
  *  - two commit granularities: `perDayCommit = true` mirrors the
  *    reference's day-at-a-time write→advance ordering (:474-476 crash
  *    safety); `false` is the 100 TB backfill path — one job writes every
  *    pending day (each day one partition), then the watermark advances
  *    once.
  *
  * A run reads only the pending days, never the history: like the
  * reference's `WHERE dateTime BETWEEN ? AND ?` (aristoteles.py:303-306,
  * :340-345), the [first pending day, yesterday] range is filtered before
  * the station union is cached, so it pushes down into each station's
  * scan (SQLite b-tree pruning, parquet row-group filters). One count of
  * samples per (UTC day, station) over that slice then answers the gate,
  * the empty-day skip (S16) and which days the backfill writes.
  */
object ArchiveJob {

  case class StationSource(name: String, path: String,
      longitude: Option[Double] = None, latitude: Option[Double] = None,
      description: Option[String] = None)

  case class JobConfig(
      statePath: String,
      archivePath: String,
      instrument: String,
      stations: Seq[StationSource],
      metricsPath: Option[String] = None,
      /** Columnar sink format: "parquet" (default) or "orc" — the
        * north-star conversion target is "SQLite to Parquet/ORC"; both
        * carry the same day-partitioned layout and schema metadata.
        * "commitlog" publishes each day range as ONE transaction on the
        * graft commit-log table format instead: S14's idempotent
        * rewrite and S15's crash-safety become the log's snapshot +
        * batchId-ledger guarantees rather than directory-rename
        * choreography, and the archive gains time travel / change feed
        * / zone-map day pruning for free. */
      sinkFormat: String = "parquet")

  /** Run outcome, mirroring the reference's exit metrics (S18). */
  case class RunResult(
      status: Int,            // 0 nothing-to-do, 1 wrote, 2 gate-blocked, 3 error
      daysWritten: Int,
      firstDay: Option[LocalDate],
      yesterday: LocalDate,
      samplesYesterday: Map[String, Long])

  private val DayFmt = DateTimeFormatter.BASIC_ISO_DATE
  private val MonthFmt = DateTimeFormatter.ofPattern("yyyyMM")

  /** Epoch-second bounds of the UTC days `from`..`to`: 00:00:00 of
    * `from` through 23:59:59 of `to`, for an inclusive BETWEEN. */
  private def dayBounds(from: LocalDate, to: LocalDate): (Long, Long) =
    (from.atStartOfDay(ZoneOffset.UTC).toEpochSecond,
     to.atStartOfDay(ZoneOffset.UTC).toEpochSecond + 86399)

  /** The UTC epoch day a `dateTime` (epoch seconds) falls on: the one
    * day key of the gate, the empty-day skip and the partition labels. */
  private def epochDay(dateTime: Column): Column = floor(dateTime / 86400)

  /** One station's archive table in WviewSchema (S1). A wview SQLite
    * database (the reference's actual input, aristoteles.py:229-230 —
    * conventionally *.sdb / *.sqlite / *.db) is read through the native
    * distributed SQLite source (graft.sources.sqlite): dateTime range
    * predicates push down to b-tree subtree pruning and the file is
    * scanned in parallel. Any other path is parquet with the same
    * schema (the already-columnar fast path). */
  def loadStation(spark: SparkSession, st: StationSource): DataFrame =
    if (SqliteExts.exists(e => st.path.endsWith(e))) {
      val raw = spark.read.format("sqlite").option("table", "archive").load(st.path)
      // project + coerce to WviewSchema: dateTime long, usUnits int,
      // sensors double; drops wview's extra columns (interval, ...)
      raw.select(
        col("dateTime").cast("long").as("dateTime") +:
        col("usUnits").cast("int").as("usUnits") +:
        WviewSchema.sensorNames.map(s => col(s).cast("double").as(s)): _*)
    } else spark.read.schema(WviewSchema.schema).parquet(st.path)

  private val SqliteExts = Seq(".sdb", ".sqlite", ".db")

  /** S12 — long-format fan-in: union of stations with a station tag. */
  def unionStations(spark: SparkSession, cfg: JobConfig): DataFrame =
    cfg.stations.map { st =>
      loadStation(spark, st).withColumn("station", lit(st.name))
    }.reduce(_ unionByName _)

  /** S10 — the conditional unit conversion projection over all 16
    * sensors, one codegen'd when/otherwise per column. */
  def convertUnits(df: DataFrame): DataFrame = {
    // Python truthiness (`if usUnits and value`, aristoteles.py:418):
    // ANY nonzero flag converts — weewx metric-variant codes (16/17)
    // included; `=== 1` would silently pass those rows through
    // unconverted. NULL compares to NULL -> otherwise branch -> value
    // passes through, matching `if None and v` being falsy.
    val us = col("usUnits") =!= 0
    val converted = WviewSchema.sensors.map { case (name, phys) =>
      UnitConversions.convert(phys, us, col(name)).as(name)
    }
    df.select(
      (col("dateTime") +: col("usUnits") +: col("station") +: converted): _*)
  }

  /** Sample counts per (UTC epoch day, station): columns `epochDay`,
    * `station`, `n`, only for pairs present in the data. */
  private def stationDayCounts(df: DataFrame): DataFrame =
    df.groupBy(epochDay(col("dateTime")).as("epochDay"), col("station"))
      .agg(count(lit(1)).as("n"))

  /** Per-station sample counts for one UTC day, inclusive bounds (S2/S5).
    * Returns counts only for stations present in the data. */
  def dayCounts(df: DataFrame, day: LocalDate): DataFrame = {
    val (start, stop) = dayBounds(day, day)
    stationDayCounts(df.filter(col("dateTime").between(start, stop)))
      .select(col("station"), col("n"))
  }

  /** S9/S17 — completeness gate: every configured station must have
    * exactly 288 samples for `day`. */
  def gatePasses(counts: Map[String, Long], stations: Seq[String]): Boolean =
    stations.forall(s => counts.getOrElse(s, 0L) == WviewSchema.SamplesPerDay.toLong)

  /** S6 — earliest day with data across all stations. */
  def firstAvailableDay(df: DataFrame): Option[LocalDate] =
    df.agg(min(col("dateTime"))).collect()(0) match {
      case row if row.isNullAt(0) => None
      case row => Some(java.time.Instant.ofEpochSecond(row.getLong(0))
        .atZone(ZoneOffset.UTC).toLocalDate)
    }

  /** E2 — state initialization (aristoteles.py:246-265): min first day
    * over stations, clamped; only acts when state is absent or `force`. */
  def resetState(spark: SparkSession, cfg: JobConfig,
      requested: Option[LocalDate], force: Boolean): Option[LocalDate] = {
    if (Watermark.read(cfg.statePath).isDefined && !force) return Watermark.read(cfg.statePath)
    val first = firstAvailableDay(unionStations(spark, cfg))
    first.map { f =>
      val init = Watermark.clamp(requested.getOrElse(f), f)
      Watermark.writeNext(cfg.statePath, init)
      init
    }
  }

  /** The day-partitioned conversion output for a set of days, ready for
    * the partitioned sink: adds month=YYYYMM / day=YYYYMMDD columns.
    * The days are selected on `dateTime`, so a cached `df` skips the
    * batches of other days. */
  def outputFor(df: DataFrame, from: LocalDate, to: LocalDate): DataFrame = {
    val (start, stop) = dayBounds(from, to)
    withDayLabels(convertUnits(df.filter(col("dateTime").between(start, stop))))
  }

  /** Adds the sink's partition labels day=YYYYMMDD and month=YYYYMM from
    * each sample's UTC day. A label from the session time zone would
    * disagree with the UTC day ranges, and a dynamic overwrite of one
    * day would then replace part of its neighbour's partition. */
  private[graft] def withDayLabels(df: DataFrame): DataFrame =
    df.withColumn("day", date_format(
        date_from_unix_date(epochDay(col("dateTime")).cast("int")), "yyyyMMdd"))
      .withColumn("month", substring(col("day"), 1, 6))

  /** Write one or more days to the archive, one parquet partition (and
    * one file) per day — the columnar analog of one .h5 per day (S14).
    * Dynamic partition overwrite makes re-runs idempotent. */
  private def writeDays(out: DataFrame, cfg: JobConfig): Unit =
    out.repartition(col("month"), col("day"))
      .sortWithinPartitions(col("station"), col("dateTime")) // S3: order is load-bearing
      .write.mode("overwrite")
      // pinned per write: under the session default (static) this
      // overwrite would truncate the WHOLE archive, not just the
      // re-run's day partitions — the job may run on a caller session
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month", "day")
      .format(cfg.sinkFormat)
      .save(cfg.archivePath)

  /** The commit-log sink: the [from, to] day range lands as ONE
    * [[graft.operators.CommitLog.replaceRange]] transaction on
    * dateTime — old day files out, new day files (with their dateTime
    * zone maps) in, atomically; a reader sees the old day or the new
    * day, never a partial write. The batchId encodes the exact range,
    * so a re-run after a crash BETWEEN this commit and the watermark
    * advance finds itself in the ledger and lands nothing — the
    * reference's write→advance crash contract (aristoteles.py:474-476)
    * as a table-format guarantee. Returns true when the transaction
    * landed, false on a recognized replay (still a success: the data
    * is there). */
  private def writeDaysLog(spark: SparkSession, out: DataFrame,
      cfg: JobConfig, from: LocalDate, to: LocalDate): Boolean = {
    val (start, stop) = dayBounds(from, to)
    val batchId = from.format(DayFmt).toLong * 100000000L + to.format(DayFmt).toLong
    graft.operators.CommitLog.replaceRange(spark, cfg.archivePath,
      out.repartition(col("month"), col("day"))
        .sortWithinPartitions(col("station"), col("dateTime")),
      "dateTime", start.toDouble, stop.toDouble,
      batchId = Some(batchId)).isDefined
  }

  /** E1 — the incremental run. */
  def run(spark: SparkSession, cfg: JobConfig,
      today: LocalDate,
      force: Boolean = false,
      stopDay: Option[LocalDate] = None,
      perDayCommit: Boolean = true): RunResult = {

    val yesterday = stopDay.getOrElse(today.minusDays(1))
    val firstDay = Watermark.read(cfg.statePath) match {
      case Some(d) => d
      case None =>
        // The reference emits metrics on EVERY terminal path, including the
        // bad-state abort (aristoteles/aristoteles.py:269-271 -> prom_and_exit
        // :484-485): an operator watching aristoteles_status must see the 3.
        publish(cfg, 3, 0, None, yesterday, Map.empty)
        return RunResult(3, 0, None, yesterday, Map.empty)
    }

    // only the pending days are read (see the object doc); with nothing
    // pending the range is yesterday alone, for the gauges
    val (lo, hi) = dayBounds(if (firstDay.isAfter(yesterday)) yesterday else firstDay, yesterday)
    val df = unionStations(spark, cfg).filter(col("dateTime").between(lo, hi)).cache()
    // The cached slice holds exactly [firstDay, yesterday], so a write of
    // that whole range (every 1-day tick, every backfill) takes it
    // unfiltered. Spark inlines long literals into generated Java, so a
    // day's dateTime bounds would make each tick compile new classes;
    // without them every tick's plan generates the same source and is
    // served from the codegen cache. A catch-up of several days still
    // filters each day on dateTime, which the cache prunes by batch.
    def output(from: LocalDate, to: LocalDate): DataFrame =
      if (from == firstDay && to == yesterday) withDayLabels(convertUnits(df))
      else outputFor(df, from, to)
    try {
      // the one control-plane read: samples per (UTC day, station)
      val counts: Map[LocalDate, Map[String, Long]] = stationDayCounts(df).collect()
        .groupBy(r => LocalDate.ofEpochDay(r.getLong(0)))
        .map { case (d, rs) => d -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
      val yCounts = counts.getOrElse(yesterday, Map.empty[String, Long])

      if (firstDay.isAfter(yesterday)) {
        publish(cfg, 0, 0, Some(firstDay), yesterday, yCounts)
        return RunResult(0, 0, Some(firstDay), yesterday, yCounts)
      }

      if (!gatePasses(yCounts, cfg.stations.map(_.name)) && !force) {
        publish(cfg, 2, 0, Some(firstDay), yesterday, yCounts)
        return RunResult(2, 0, Some(firstDay), yesterday, yCounts)
      }

      // S16: days without samples are skipped (no write, no state advance)
      val daysPresent = Iterator.iterate(firstDay)(_.plusDays(1))
        .takeWhile(!_.isAfter(yesterday)).filter(counts.contains).toSeq

      if (perDayCommit) {
        // Reference ordering (:474-476): write day N, then advance state.
        daysPresent.foreach { day =>
          val out = output(day, day)
          if (cfg.sinkFormat == "commitlog") writeDaysLog(spark, out, cfg, day, day)
          else writeDays(out, cfg)
          Watermark.advance(cfg.statePath, day)
        }
      } else if (daysPresent.nonEmpty) {
        // Backfill path: one job for the whole range, then one advance.
        val out = output(firstDay, yesterday)
        if (cfg.sinkFormat == "commitlog")
          writeDaysLog(spark, out, cfg, firstDay, yesterday)
        else writeDays(out, cfg)
        Watermark.advance(cfg.statePath, yesterday)
      }
      // Acquisition attrs per monthly partition (aristoteles.py:393-402,
      // :443-458) — after data lands, before the run is declared done.
      AcqMetadata.write(cfg, daysPresent.map(_.format(MonthFmt)).toSet,
        spark.sessionState.newHadoopConf())

      val written = daysPresent.length
      val status = if (written > 0) 1 else 0
      publish(cfg, status, written, Some(firstDay), yesterday, yCounts)
      RunResult(status, written, Some(firstDay), yesterday, yCounts)
    } catch {
      case e: Throwable =>
        // EVERY terminal path emits metrics (aristoteles.py's
        // prom_and_exit discipline): a mid-run read/write failure must
        // surface as status 3, not leave the previous run's 0/1 on
        // disk for the operator to trust indefinitely
        scala.util.Try(publish(cfg, 3, 0, Some(firstDay), yesterday, Map.empty))
        throw e
    } finally df.unpersist()
  }

  private def publish(cfg: JobConfig, status: Int, daysWritten: Int,
      firstDay: Option[LocalDate], yesterday: LocalDate,
      samples: Map[String, Long]): Unit =
    cfg.metricsPath.foreach { p =>
      PromMetrics.write(p, PromMetrics.Snapshot(
        status = status,
        reportTime = System.currentTimeMillis() / 1000,
        daysWritten = daysWritten,
        yesterday = yesterday.format(DayFmt).toLong,
        firstDay = firstDay.map(_.format(DayFmt).toLong).getOrElse(0L),
        samplesYesterday = samples))
    }
}
