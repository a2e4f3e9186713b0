package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end incremental pipeline test (SURVEY §5.4): synthetic
  * multi-station wview-shaped archive → gate → convert → partitioned
  * sink → watermark advance → idempotent re-run. Covers the FIXTURES.md
  * A1 edge cases: exactly-288 vs 287-sample days, zero-skip conversion,
  * NULL sensor, inclusive day bounds, per-row usUnits. */
class ArchiveJobSpec extends SparkSpec {

  private val d1 = LocalDate.of(2024, 3, 1)
  private val d2 = LocalDate.of(2024, 3, 2)

  /** Build one station's day of samples: 288 rows at 5-min cadence
    * starting 00:00:00 (first at day start, last at 23:55 — inside the
    * inclusive [00:00:00, 23:59:59] bounds). */
  private def dayRows(day: LocalDate, n: Int, usUnits: Int): Seq[Row] = {
    val start = day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    (0 until n).map { i =>
      val ts = start + i * 300L
      // sensors: barometer 1.0 (pressure), outTemp 32.0 except row 0 ->
      // 0.0 (zero-skip probe), windSpeed null on row 1, rest 10.0
      Row.fromSeq(
        ts.asInstanceOf[Any] :: usUnits ::
        WviewSchema.sensorNames.map {
          case "barometer" => 1.0
          case "outTemp" => if (i == 0) 0.0 else 32.0
          case "windSpeed" => if (i == 1) null else 10.0
          case _ => 10.0
        }.toList)
    }
  }

  private def writeStation(dir: String, rows: Seq[Row]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), WviewSchema.schema)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  private def fixture(): ArchiveJob.JobConfig = {
    val root = Files.createTempDirectory("graft-e2e").toString
    writeStation(s"$root/stA", dayRows(d1, 288, 1) ++ dayRows(d2, 288, 1))
    writeStation(s"$root/stB", dayRows(d1, 288, 0) ++ dayRows(d2, 287, 0))
    ArchiveJob.JobConfig(
      statePath = s"$root/state",
      archivePath = s"$root/archive",
      instrument = "testinst",
      stations = Seq(
        ArchiveJob.StationSource("stA", s"$root/stA"),
        ArchiveJob.StationSource("stB", s"$root/stB")),
      metricsPath = Some(s"$root/metrics.prom"))
  }

  test("reset-state initializes the watermark to the first available day") {
    val cfg = fixture()
    val init = ArchiveJob.resetState(spark, cfg, None, force = false)
    assert(init === Some(d1))
    assert(Watermark.read(cfg.statePath) === Some(d1))
    // clamped request before data start
    val again = ArchiveJob.resetState(spark, cfg, Some(LocalDate.of(2020, 1, 1)), force = true)
    assert(again === Some(d1))
  }

  test("gate blocks an incomplete yesterday; --force overrides; resume works") {
    val cfg = fixture()
    ArchiveJob.resetState(spark, cfg, None, force = false)

    // yesterday = d2: stB has 287 samples -> status 2, nothing written
    val blocked = ArchiveJob.run(spark, cfg, today = d2.plusDays(1))
    assert(blocked.status === 2 && blocked.daysWritten === 0)
    assert(blocked.samplesYesterday === Map("stA" -> 288L, "stB" -> 287L))
    assert(Watermark.read(cfg.statePath) === Some(d1))
    val prom = Files.readString(java.nio.file.Paths.get(cfg.metricsPath.get))
    assert(prom.contains("aristoteles_status 2"))
    assert(prom.contains("""aristoteles_samples_yesterday{station="stB"} 287"""))

    // --force writes d1 and d2, watermark advances past d2
    val forced = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true)
    assert(forced.status === 1 && forced.daysWritten === 2)
    assert(Watermark.read(cfg.statePath) === Some(d2.plusDays(1)))

    // layout: month=YYYYMM/day=YYYYMMDD partitions
    assert(Files.exists(java.nio.file.Paths.get(
      s"${cfg.archivePath}/month=202403/day=20240301")))
    assert(Files.exists(java.nio.file.Paths.get(
      s"${cfg.archivePath}/month=202403/day=20240302")))

    // re-run: nothing pending -> status 0, no change
    val noop = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true)
    assert(noop.status === 0 && noop.daysWritten === 0)

    // acquisition sidecar landed in the monthly partition with the
    // reference's root/station attrs (aristoteles.py:373-375, :393-402)
    val meta = Files.readString(java.nio.file.Paths.get(
      s"${cfg.archivePath}/month=202403/_acquisition.json"))
    assert(meta.contains("\"acquisition_name\": \"20240301T000000Z_testinst_weather\""))
    assert(meta.contains("\"instrument_name\": \"testinst\""))
    assert(meta.contains("\"archive_version\": \"4.0.0\""))
    assert(meta.contains("\"acquisition_type\": \"weather\""))
    assert(meta.contains("\"stA\"") && meta.contains("\"wview_database\""))
    assert(meta.contains("\"units\": \"hPa\""))
  }

  test("conversion semantics land in the sink (zero-skip, NULL, per-row flag)") {
    val cfg = fixture()
    ArchiveJob.resetState(spark, cfg, None, force = false)
    ArchiveJob.run(spark, cfg, today = d2, force = true) // writes d1 only
    val out = spark.read.parquet(cfg.archivePath)
      .filter(col("day") === "20240301")

    val aRows = out.filter(col("station") === "stA").orderBy(col("dateTime")).collect()
    val bRows = out.filter(col("station") === "stB").orderBy(col("dateTime")).collect()
    assert(aRows.length === 288 && bRows.length === 288)

    val iTemp = out.columns.indexOf("outTemp")
    val iBaro = out.columns.indexOf("barometer")
    val iWind = out.columns.indexOf("windSpeed")
    // stA usUnits=1: outTemp 32F -> 0C, but row 0's exact 0.0 is zero-skipped
    assert(aRows(0).getDouble(iTemp) === 0.0) // skipped, stays 0 (not -17.8)
    assert(math.abs(aRows(2).getDouble(iTemp)) < 1e-12) // (32-32)*5/9 = 0
    assert(math.abs(aRows(2).getDouble(iBaro) - 33.863886) < 1e-12)
    assert(aRows(1).isNullAt(iWind)) // NULL flows through conversion
    // stB usUnits=0: identity
    assert(bRows(2).getDouble(iTemp) === 32.0)
    assert(bRows(2).getDouble(iBaro) === 1.0)
  }

  test("metrics are published on the bad-state error path (status 3)") {
    // Reference contract: prom_and_exit on EVERY terminal path
    // (aristoteles.py:269-271 -> :484-485), including the missing/corrupt
    // state abort — an operator watching aristoteles_status must see 3.
    val cfg = fixture() // no resetState -> state file absent
    val res = ArchiveJob.run(spark, cfg, today = d2.plusDays(1))
    assert(res.status === 3 && res.daysWritten === 0)
    val prom = Files.readString(java.nio.file.Paths.get(cfg.metricsPath.get))
    assert(prom.contains("aristoteles_status 3"))
    assert(prom.contains("aristoteles_days_written 0"))
  }

  test("per-day commit and batch backfill produce identical archives") {
    val cfgA = fixture(); val cfgB = fixture()
    ArchiveJob.resetState(spark, cfgA, None, force = false)
    ArchiveJob.resetState(spark, cfgB, None, force = false)
    ArchiveJob.run(spark, cfgA, today = d2.plusDays(1), force = true, perDayCommit = true)
    ArchiveJob.run(spark, cfgB, today = d2.plusDays(1), force = true, perDayCommit = false)
    assert(Watermark.read(cfgA.statePath) === Watermark.read(cfgB.statePath))
    val a = spark.read.parquet(cfgA.archivePath)
      .orderBy(col("day"), col("station"), col("dateTime")).collect()
    val b = spark.read.parquet(cfgB.archivePath)
      .orderBy(col("day"), col("station"), col("dateTime")).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("commit-log sink: atomic days, crash replay lands nothing, content identical") {
    import graft.operators.CommitLog
    val base = fixture()
    val cfg = base.copy(archivePath = base.archivePath + "_cl", sinkFormat = "commitlog")
    ArchiveJob.resetState(spark, cfg, None, force = false)
    val r = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true,
      perDayCommit = true)
    assert(r.status === 1 && r.daysWritten === 2)
    val cl = CommitLog.read(spark, cfg.archivePath)
    assert(cl.count() === 4 * 288 - 1) // stB's short d2

    // day-level atomicity: each day is ONE commit — at version 0 the
    // archive holds exactly d1, never a partial d2 (a crash mid-write
    // leaves only invisible staging orphans, so no intermediate state
    // between these versions ever existed for a reader)
    assert(CommitLog.latestVersion(spark, cfg.archivePath) === 1L)
    assert(CommitLog.read(spark, cfg.archivePath, asOf = Some(0L))
      .select("day").distinct().collect().map(_.getString(0)).toSeq === Seq("20240301"))

    // crash BETWEEN write and watermark-advance: roll the watermark
    // back one day and re-run — the reference's write→advance ordering
    // makes this exactly the replay case. The day's batchId is already
    // in the ledger, so the re-run lands NO new commit and no
    // duplicate rows; the watermark still re-advances.
    val vBefore = CommitLog.latestVersion(spark, cfg.archivePath)
    Watermark.writeNext(cfg.statePath, d2)
    val r2 = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true,
      perDayCommit = true)
    assert(r2.status === 1)
    assert(CommitLog.latestVersion(spark, cfg.archivePath) === vBefore,
      "replayed day landed a duplicate commit")
    assert(CommitLog.read(spark, cfg.archivePath).count() === 4 * 288 - 1,
      "replayed day duplicated rows")
    assert(Watermark.read(cfg.statePath) === Some(d2.plusDays(1)))

    // content identical to the raw parquet sink, column for column
    val cfgP = fixture()
    ArchiveJob.resetState(spark, cfgP, None, force = false)
    ArchiveJob.run(spark, cfgP, today = d2.plusDays(1), force = true)
    val cols = cl.columns.sorted.map(col(_))
    val a = spark.read.parquet(cfgP.archivePath).select(cols: _*)
      .orderBy(col("day"), col("station"), col("dateTime")).collect()
    val b = CommitLog.read(spark, cfg.archivePath).select(cols: _*)
      .orderBy(col("day"), col("station"), col("dateTime")).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)

    // the log's dateTime zone maps prune a day-bounded scan to the
    // day's own files — the partition-pruning twin the raw sink gets
    // from hive layout, served here from commit metadata
    val lo = d1.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val d1Scan = CommitLog.scanRange(spark, cfg.archivePath, "dateTime",
      lo.toDouble, (lo + 86399).toDouble)
    assert(d1Scan.count() === 2 * 288)
    assert(d1Scan.inputFiles.length < CommitLog.read(spark, cfg.archivePath)
      .inputFiles.length, "zone maps no longer prune the day scan")
  }

  test("ORC sink carries the identical archive (north-star Parquet/ORC)") {
    val base = fixture()
    val cfg = base.copy(archivePath = base.archivePath + "_orc", sinkFormat = "orc")
    ArchiveJob.resetState(spark, cfg, None, force = false)
    val r = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true)
    assert(r.status === 1 && r.daysWritten === 2)
    val orc = spark.read.orc(cfg.archivePath)
    assert(orc.count() === 4 * 288 - 1) // stB's short d2
    // same partition layout and converted values as the parquet sink
    assert(Files.exists(java.nio.file.Paths.get(
      s"${cfg.archivePath}/month=202403/day=20240301")))
    val spot = orc.filter(col("station") === "stA" && col("day") === "20240301")
      .orderBy(col("dateTime")).collect()(2)
    val iBaro = orc.columns.indexOf("barometer")
    assert(math.abs(spot.getDouble(iBaro) - 33.863886) < 1e-12)
  }

  test("day labels are UTC days under a non-UTC session time zone") {
    val cfg = fixture()
    ArchiveJob.resetState(spark, cfg, None, force = false)
    val key = "spark.sql.session.timeZone"
    val tz = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      // two ticks, one day each: a session-zone label would put the first
      // 8 hours of each UTC day in the previous day's partition, and the
      // second tick's dynamic overwrite would then replace most of d1
      assert(ArchiveJob.run(spark, cfg, today = d2).daysWritten === 1)
      assert(ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true)
        .daysWritten === 1)
    } finally spark.conf.set(key, tz)
    val out = spark.read.parquet(cfg.archivePath)
    assert(out.select(col("day").cast("string")).collect().map(_.getString(0)).toSet ===
      Set("20240301", "20240302"))
    for ((d, rows) <- Seq(d1 -> 2 * 288L, d2 -> (288L + 287L))) {
      val lo = d.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      val inDay = out.filter(col("day").cast("string") === d.format(
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE))
      assert(inDay.count() === rows, s"partition of $d")
      assert(inDay.filter(!col("dateTime").between(lo, lo + 86399)).count() === 0,
        s"partition of $d holds samples of another UTC day")
    }
  }

  test("S16: an empty day is skipped, with no partition and the same archive on every path") {
    import graft.operators.CommitLog
    val d3 = d2.plusDays(1)
    val root = Files.createTempDirectory("graft-s16").toString
    writeStation(s"$root/stA", dayRows(d1, 288, 1) ++ dayRows(d3, 288, 1))
    writeStation(s"$root/stB", dayRows(d1, 288, 0) ++ dayRows(d3, 288, 0))
    val archives = for (sink <- Seq("parquet", "commitlog"); perDay <- Seq(true, false)) yield {
      val tag = s"${sink}_$perDay"
      val cfg = ArchiveJob.JobConfig(
        statePath = s"$root/state_$tag", archivePath = s"$root/archive_$tag",
        instrument = "testinst",
        stations = Seq(ArchiveJob.StationSource("stA", s"$root/stA"),
          ArchiveJob.StationSource("stB", s"$root/stB")),
        sinkFormat = sink)
      Watermark.writeNext(cfg.statePath, d1)
      val r = ArchiveJob.run(spark, cfg, today = d3.plusDays(1), perDayCommit = perDay)
      assert(r.status === 1 && r.daysWritten === 2, tag)
      assert(Watermark.read(cfg.statePath) === Some(d3.plusDays(1)), tag)
      val out = if (sink == "commitlog") CommitLog.read(spark, cfg.archivePath)
        else spark.read.parquet(cfg.archivePath)
      if (sink == "parquet")
        assert(!Files.exists(java.nio.file.Paths.get(
          s"${cfg.archivePath}/month=202403/day=20240302")), tag)
      val cols = out.columns.sorted.map(c => if (c == "day" || c == "month")
        col(c).cast("string").as(c) else col(c))
      val rows = out.select(cols: _*).orderBy(col("day"), col("station"), col("dateTime"))
      assert(rows.select(col("day")).collect().map(_.getString(0)).toSet ===
        Set("20240301", "20240303"), tag)
      tag -> rows.collect().map(_.toString).toSeq
    }
    val (firstTag, first) = archives.head
    assert(first.length === 4 * 288)
    archives.tail.foreach { case (tag, rows) =>
      assert(rows === first, s"$tag differs from $firstTag")
    }
  }

  test("a commit-log tick on .sdb stations compiles no new code after the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def res(name: String) = getClass.getResource(s"/sqlite/$name").getPath
    val root = Files.createTempDirectory("graft-tick-codegen").toString
    val cfg = ArchiveJob.JobConfig(
      statePath = s"$root/state", archivePath = s"$root/archive",
      instrument = "testinst",
      stations = Seq(ArchiveJob.StationSource("stA", res("stA.sdb")),
        ArchiveJob.StationSource("stB", res("stB.sdb"))),
      sinkFormat = "commitlog")
    Watermark.writeNext(cfg.statePath, d1)
    // stB holds 287 samples on d2, so the second tick is forced; the
    // gate's count runs before the force check either way
    val r1 = ArchiveJob.run(spark, cfg, today = d2, force = true)
    val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r2 = ArchiveJob.run(spark, cfg, today = d2.plusDays(1), force = true)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore
    assert(r1.status === 1 && r1.daysWritten === 1)
    assert(r2.status === 1 && r2.daysWritten === 1)
    // each 1-day tick writes its whole cached slice unfiltered, so the
    // second day's plans carry no day-dependent literal in generated
    // code and every class comes from the codegen cache
    assert(compiled === 0, s"the second tick compiled $compiled new classes")
    assert(graft.operators.CommitLog.read(spark, cfg.archivePath).count() === 576 + 575)
  }

  test("ini config round-trip and validation") {
    val cfg = fixture()
    val root = Files.createTempDirectory("graft-ini").toString
    val ini = s"""# test config
      |state_path = ${cfg.statePath}
      |instrument = testinst
      |archive = ${cfg.archivePath}
      |[stA]
      |db_path = ${cfg.stations.head.path}
      |longitude = -119.6
      |latitude = 49.3
      |description = "test station"
      |[stB]
      |db_path = ${cfg.stations(1).path}
      |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$root/conf.ini"), ini)
    val loaded = IniConfig.load(s"$root/conf.ini")
    assert(loaded.instrument === "testinst")
    assert(loaded.stations.map(_.name) === Seq("stA", "stB"))
    assert(loaded.stations.head.longitude === Some(-119.6))
    assert(loaded.stations.head.description === Some("test station"))
    assert(loaded.sinkFormat === "parquet") // default
    intercept[IniConfig.ParseError] {
      Files.writeString(java.nio.file.Paths.get(s"$root/badfmt.ini"),
        s"state_path = x\ninstrument = i\narchive = y\nsink_format = avro\n" +
        s"[s]\ndb_path = ${cfg.stations.head.path}\n")
      IniConfig.load(s"$root/badfmt.ini")
    }
    intercept[IniConfig.ParseError] {
      IniConfig.load({ // missing instrument
        Files.writeString(java.nio.file.Paths.get(s"$root/bad.ini"),
          s"state_path = x\narchive = y\n[s]\ndb_path = ${cfg.stations.head.path}\n")
        s"$root/bad.ini"
      })
    }
  }

  test("cli arg parsing mirrors the reference contract") {
    val today = LocalDate.of(2024, 3, 10)
    assert(Main.parseArgs(Array("-c", "f.ini", "--force"), today)
      .exists(a => a.confFile == "f.ini" && a.force))
    assert(Main.parseArgs(Array("-c", "f.ini", "--stop", "20240305"), today)
      .exists(_.stop.contains(LocalDate.of(2024, 3, 5))))
    assert(Main.parseArgs(Array("-c", "f.ini", "--reset-state"), today)
      .exists(_.resetState.contains(None)))
    assert(Main.parseArgs(Array("-c", "f.ini", "--reset-state", "20240301"), today)
      .exists(_.resetState.contains(Some(LocalDate.of(2024, 3, 1)))))
    // out-of-range reset day is an error (reference :82-92, sans the bug)
    assert(Main.parseArgs(Array("-c", "f.ini", "--reset-state", "19990101"), today).isLeft)
    assert(Main.parseArgs(Array("-c", "f.ini", "--stop", "20991231"), today).isLeft)
    assert(Main.parseArgs(Array("--force"), today).isLeft) // conf required
    assert(Main.parseArgs(Array("-c", "f.ini", "--bogus"), today).isLeft)
  }
}
