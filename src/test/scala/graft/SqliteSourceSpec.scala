package graft

import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.pipeline._
import graft.sources.sqlite.SqliteFile

/** The native SQLite source (graft.sources.sqlite) against fixtures
  * generated by stock sqlite3 (src/test/resources/sqlite): decode
  * correctness incl. overflow pages and rowid aliasing, predicate
  * pushdown to b-tree pruning, partitioned parallel read, and the e2e
  * equivalence: a SQLite-sourced archive run must produce bit-identical
  * output to the parquet-sourced run on the same data. */
class SqliteSourceSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/sqlite/$name").getPath

  // ---- low-level decoder -------------------------------------------

  test("sqlite_master and CREATE TABLE parse (rowid alias detected)") {
    val f = SqliteFile.open(res("stA.sdb"), new Configuration())
    try {
      val (cols, alias) = SqliteFile.parseCreateTable(f.tableSql("archive"))
      assert(cols.head === ("dateTime", "INTEGER"))
      assert(cols(1) === ("usUnits", "INTEGER"))
      assert(cols.map(_._1).drop(3) === WviewSchema.sensorNames)
      assert(alias === 0, "dateTime INTEGER PRIMARY KEY aliases the rowid")
    } finally f.close()
  }

  test("full scan returns every row with correct dateTime keys") {
    val f = SqliteFile.open(res("stA.sdb"), new Configuration())
    try {
      val rows = f.scanTable(f.tableRoot("archive")).toSeq
      assert(rows.length === 576)
      val keys = rows.map(_._1)
      assert(keys === keys.sorted, "b-tree iteration is key-ordered")
      assert(keys.head === 1709251200L && keys.last === 1709251200L + 86400 + 287 * 300)
    } finally f.close()
  }

  test("range scan prunes: only requested rowids, fewer subtrees visited") {
    val f = SqliteFile.open(res("stA.sdb"), new Configuration())
    try {
      val root = f.tableRoot("archive")
      val lo = 1709251200L + 3600
      val hi = 1709251200L + 7200
      val got = f.scanTable(root, lo, hi).map(_._1).toSeq
      assert(got === (lo to hi by 300).toSeq)
      // plan-time pruning: far fewer root children intersect the range
      val kids = f.interiorChildren(root)
      assert(kids.nonEmpty, "fixture must have an interior root (multi-page)")
      var prev = Long.MinValue
      val alive = kids.count { case (_, k) => val keep = k >= lo && prev < hi; prev = k; keep }
      assert(alive < kids.length, s"pruning had no effect ($alive of ${kids.length})")
    } finally f.close()
  }

  test("generic decode: text, blob, overflow payloads, 64-bit + negative rowids") {
    val df = spark.read.format("sqlite").option("table", "t").load(res("misc.db"))
    val rows = df.orderBy(col("id")).collect()
    assert(rows.length === 202)
    assert(rows.head.getLong(0) === -5L && rows.head.getString(1) === "negative")
    assert(rows.last.getLong(0) === 100000000000L && rows.last.isNullAt(2))
    // overflow rows: ~13KB text reassembled across overflow pages
    val big = rows.find(_.getLong(0) === 17).get.getString(4)
    assert(big.length === "lorem-0017-".length * 1200)
    assert(big.startsWith("lorem-0017-") && big.endsWith("lorem-0017-"))
    // blob round-trip
    val b42 = rows.find(_.getLong(0) === 42).get.getAs[Array[Byte]](3)
    assert(b42.length === 42 % 50 + 1 && b42.forall(_ == 42.toByte))
  }

  test("rowid-alias parse: table-level PK, DESC exception, WITHOUT ROWID") {
    // table-level single-column INTEGER primary key IS a rowid alias
    val (_, a1) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id INTEGER, v TEXT, PRIMARY KEY(id))")
    assert(a1 === 0)
    // PRIMARY KEY DESC is the documented non-alias exception
    val (_, a2) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id INTEGER PRIMARY KEY DESC, v TEXT)")
    assert(a2 === -1)
    // non-INTEGER table-level PK is not an alias
    val (_, a3) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id TEXT, v TEXT, PRIMARY KEY(id))")
    assert(a3 === -1)
    // the DESC exception is column-form ONLY: table-level PRIMARY
    // KEY(id DESC) still aliases the rowid per the SQLite spec
    val (_, a3b) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id INTEGER, v TEXT, PRIMARY KEY(id DESC))")
    assert(a3b === 0)
    // AUTOINCREMENT stays an alias
    val (_, a4) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id INTEGER PRIMARY KEY AUTOINCREMENT, v TEXT)")
    assert(a4 === 0)
    // WITHOUT ROWID layout is rejected, not misread
    val e = intercept[IllegalArgumentException] {
      SqliteFile.parseCreateTable(
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT) WITHOUT ROWID")
    }
    assert(e.getMessage.contains("WITHOUT ROWID"))
  }

  test("multi-word type names and whitespace-split PRIMARY KEY parse (r13 regression)") {
    // SQLite affinity scans the WHOLE declared type: "NATIVE
    // CHARACTER(70)" is TEXT via CHAR — the old first-token parse read
    // it as 'NATIVE' -> REAL affinity -> every value nulled on read
    val (cols, _) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (a NATIVE CHARACTER(70), b UNSIGNED BIG INT, " +
      "c DOUBLE PRECISION, d REAL CONSTRAINT c1 CHECK(d > 0))")
    import graft.sources.sqlite.SqliteTableProvider.sparkType
    assert(sparkType(cols(0)._2) === org.apache.spark.sql.types.StringType)
    assert(sparkType(cols(1)._2) === org.apache.spark.sql.types.LongType)
    assert(sparkType(cols(2)._2) === org.apache.spark.sql.types.DoubleType)
    // constraints must NOT leak into the affinity scan: "CONSTRAINT"
    // contains "INT" and would misread a REAL column as INTEGER
    assert(sparkType(cols(3)._2) === org.apache.spark.sql.types.DoubleType)
    // any whitespace between PRIMARY and KEY still detects the alias
    // (generated DDL uses newlines/tabs; a miss nulls the column)
    val (_, aNl) = SqliteFile.parseCreateTable(
      "CREATE TABLE t (id INTEGER NOT NULL\n    PRIMARY\tKEY, v TEXT)")
    assert(aNl === 0)
  }

  test("countOrKth answers count-or-cutoff in one walk, parity with the pair (r13)") {
    val f = SqliteFile.open(res("stA.sdb"), new Configuration())
    try {
      val root = f.tableRoot("archive")
      val total = f.countRows(root, Long.MinValue, Long.MaxValue)
      assert(total > 4)
      // fewer rows than k: Left(exact count)
      assert(f.countOrKth(root, Long.MinValue, Long.MaxValue, total + 10) ===
        Left(total))
      // at least k rows: Right(the k-th rowid), matching kthRowid
      for (k <- Seq(1L, 2L, total / 2 max 1, total)) {
        assert(f.countOrKth(root, Long.MinValue, Long.MaxValue, k) ===
          Right(f.kthRowid(root, Long.MinValue, Long.MaxValue, k).get), s"k=$k")
      }
      // bounded range parity too (edge-leaf paths)
      val lo = f.minRowid(root, Long.MinValue, Long.MaxValue).get + 1
      val hi = f.maxRowid(root, Long.MinValue, Long.MaxValue).get - 1
      val n = f.countRows(root, lo, hi)
      assert(f.countOrKth(root, lo, hi, n + 1) === Left(n))
      if (n > 0)
        assert(f.countOrKth(root, lo, hi, n) ===
          Right(f.kthRowid(root, lo, hi, n).get))
    } finally f.close()
  }

  test("table-level PK column decodes from the b-tree key, not NULL slots") {
    val df = spark.read.format("sqlite").option("table", "t").load(res("tablepk.db"))
    val rows = df.orderBy(col("id")).collect()
    assert(rows.length === 100)
    assert(rows.map(_.getLong(0)).toSeq === (1 to 100).map(_ * 7L))
    assert(rows.head.getString(1) === "v1")
  }

  test("corrupt file and missing table fail with clear errors") {
    val junk = java.nio.file.Files.createTempFile("graft-junk", ".sdb")
    java.nio.file.Files.write(junk, Array.fill[Byte](4096)(0x5a))
    val e1 = intercept[Exception] { SqliteFile.open(junk.toString, new Configuration()) }
    assert(e1.getMessage.contains("not a SQLite 3 database"))
    val e2 = intercept[NoSuchElementException] {
      val f = SqliteFile.open(res("stA.sdb"), new Configuration())
      try f.tableRoot("nonexistent") finally f.close()
    }
    assert(e2.getMessage.contains("nonexistent"))
  }

  // ---- DSv2 behavior ------------------------------------------------

  test("schema inference maps declared affinities") {
    val df = spark.read.format("sqlite").load(res("stA.sdb")) // default table=archive
    val dt = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(dt("dateTime") === "bigint" && dt("usUnits") === "bigint")
    assert(dt("barometer") === "double" && dt("outTemp") === "double")
  }

  test("dateTime range filter is pushed down and prunes input partitions") {
    val lo = 1709251200L + 3600
    val hi = 1709251200L + 7200
    val df = spark.read.format("sqlite").load(res("stA.sdb"))
      .filter(col("dateTime") >= lo && col("dateTime") <= hi)
      .select(col("dateTime"), col("outTemp"))
    assert(df.count() === (hi - lo) / 300 + 1)

    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains(s"range=[$lo, $hi]"),
      s"bounds not pushed: ${scan.scan.description()}")
    val prunedParts = scan.inputRDD.getNumPartitions
    val allParts = spark.read.format("sqlite").load(res("stA.sdb"))
      .queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .get.inputRDD.getNumPartitions
    assert(prunedParts <= allParts)
    // column pruning reaches the reader schema
    assert(scan.scan.readSchema().fieldNames.toSet === Set("dateTime", "outTemp"))
  }

  test("extreme rowid bounds short-circuit to empty (no wraparound)") {
    val df = spark.read.format("sqlite").load(res("stA.sdb"))
    // l+1 / l-1 on the accepted bound would wrap at the extremes and
    // turn "matches nothing" into a full unfiltered scan
    assert(df.filter(col("dateTime") > Long.MaxValue).count() === 0)
    assert(df.filter(col("dateTime") < Long.MinValue).count() === 0)
    assert(df.filter(col("dateTime") >= Long.MaxValue).count() === 0)
    assert(df.filter(col("dateTime") <= Long.MinValue).count() === 0)
  }

  test("batch directory read fans in stations with a derived station column") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdb-dir")
    java.nio.file.Files.copy(java.nio.file.Path.of(res("stA.sdb")), dir.resolve("stA.sdb"))
    java.nio.file.Files.copy(java.nio.file.Path.of(res("stB.sdb")), dir.resolve("stB.sdb"))
    val df = spark.read.format("sqlite")
      .option("stationColumn", "station").load(dir.toString)
    val perStation = df.groupBy(col("station")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStation === Map("stA" -> 576L, "stB" -> 575L))
    // rowid pushdown still prunes within each member file
    val lo = 1709251200L + 3600
    assert(df.filter(col("dateTime") < lo).count() ===
      2 * (3600 / 300)) // both stations sample every 300s from the same origin
  }

  test("directory aggregation pushes per-file partials (no row decode)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdb-aggdir")
    java.nio.file.Files.copy(java.nio.file.Path.of(res("stA.sdb")), dir.resolve("stA.sdb"))
    java.nio.file.Files.copy(java.nio.file.Path.of(res("stB.sdb")), dir.resolve("stB.sdb"))
    val df = spark.read.format("sqlite").load(dir.toString)
      .agg(count(lit(1)).as("n"), min(col("dateTime")).as("mn"), max(col("dateTime")).as("mx"))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((576L + 575L, 1709251200L, 1709423700L)))
    // the partial rows come from the agg scan (b-tree descent + leaf
    // headers), not a row scan Spark then aggregates
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SqliteAggScan") && plan.contains("files=2"),
      s"per-file partial agg pushdown missing:\n$plan")
  }

  test("single file reads as multiple partitions (distributed scan)") {
    val df = spark.read.format("sqlite").load(res("stA.sdb"))
    val parts = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get.inputRDD.getNumPartitions
    assert(parts > 1, "table b-tree subtrees should fan out to partitions")
    assert(df.count() === 576)
  }

  test("MIN/MAX/COUNT push down to b-tree descent (no table scan)") {
    val df = spark.read.format("sqlite").load(res("stA.sdb"))
      .agg(min("dateTime"), max("dateTime"), count(lit(1)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SqliteAggScan"),
      s"aggregate not pushed to the source:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) === 1709251200L)
    assert(r.getLong(1) === 1709251200L + 86400 + 287 * 300)
    assert(r.getLong(2) === 576L)

    // range + aggregate compose: the reference's COUNT BETWEEN shape
    val lo = 1709251200L + 3600; val hi = 1709251200L + 7200
    val ranged = spark.read.format("sqlite").load(res("stA.sdb"))
      .filter(col("dateTime").between(lo, hi))
      .agg(count(lit(1)), min("dateTime"))
    assert(ranged.queryExecution.executedPlan.toString.contains(s"range=[$lo, $hi]"))
    val rr = ranged.collect()(0)
    assert(rr.getLong(0) === (hi - lo) / 300 + 1)
    assert(rr.getLong(1) === lo)
  }

  test("aggregation over sqlite matches sqlite3's own answer") {
    // COUNT + MIN/MAX computed by stock sqlite3 when the fixture was
    // generated: 576 rows, keys [1709251200, 1709337300+24*3600... ]
    val df = spark.read.format("sqlite").load(res("stB.sdb"))
    val r = df.agg(count(lit(1)), min("dateTime"), max("dateTime"), sum("usUnits")).collect()(0)
    assert(r.getLong(0) === 575) // short last day: 287 + 288
    assert(r.getLong(1) === 1709251200L)
    assert(r.getLong(2) === 1709251200L + 86400 + 286 * 300)
    assert(r.getLong(3) === 0L) // stB is metric (usUnits=0)
  }

  test("a Hadoop setting made only on the session reaches the SQLite readers") {
    // the scheme resolves only through the session's Hadoop conf (a
    // runtime session setting under its plain Hadoop key: Spark applies
    // `spark.hadoop.*` keys only when the context starts), and with the
    // file-system cache off every reader resolves it again from the conf
    // it was given: the broadcast one on the task side
    val keys = Seq(
      "fs.sessiononly.impl" -> classOf[SessionOnlyFileSystem].getName,
      "fs.sessiononly.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val path = "sessiononly://" + res("stA.sdb")
      val opened = SessionOnlyFileSystem.opens.get
      val lo = 1709251200L + 86400
      val rows = spark.read.format("sqlite").load(path)
        .filter(col("dateTime") >= lo).select("dateTime", "outTemp").collect()
      assert(rows.length === 288 && rows.map(_.getLong(0)).min === lo)
      val agg = spark.read.format("sqlite").load(path).agg(count(lit(1))).collect()(0)
      assert(agg.getLong(0) === 576L)
      assert(SessionOnlyFileSystem.opens.get > opened, "the test file system was not used")
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  // ---- e2e: the reference's actual pipeline input -------------------

  test("an archive tick reads only its pending day from the station file") {
    import java.nio.file.Files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val root = Files.createTempDirectory("graft-sqlite-tick").toString
    val d2 = LocalDate.of(2024, 3, 2)
    val cfg = ArchiveJob.JobConfig(
      statePath = s"$root/state", archivePath = s"$root/archive",
      instrument = "sqlitetest",
      stations = Seq(ArchiveJob.StationSource("stA", res("stA.sdb"))))
    Watermark.writeNext(cfg.statePath, d2)

    val sc = spark.sparkContext
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val r = try {
      val r = ArchiveJob.run(spark, cfg, today = d2.plusDays(1))
      org.apache.spark.ListenerBusDrain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(r.status === 1 && r.daysWritten === 1)
    // the scan returns day 2's 288 rows; reading them back from the
    // cache adds one record per cached batch (one per scan partition and
    // read, tens here). A scan of the whole file alone returns 576.
    assert(records.get >= 288 && records.get < 576,
      s"the tick read ${records.get} records; stA.sdb holds 576, day 2 288")

    // the same rows as the day's slice of the whole history
    val cols = ("station" +: "dateTime" +: "usUnits" +: WviewSchema.sensorNames).map(col)
    val want = ArchiveJob.outputFor(ArchiveJob.unionStations(spark, cfg), d2, d2)
      .select(cols: _*).orderBy(col("dateTime")).collect().toSeq
    val got = spark.read.parquet(cfg.archivePath)
      .select(cols: _*).orderBy(col("dateTime")).collect().toSeq
    assert(got.length === 288 && got === want)
  }

  test("archive run from SQLite equals archive run from parquet") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-sqlite-e2e").toString
    val d1 = LocalDate.of(2024, 3, 1)

    // parquet twin of stA.sdb via the source itself (schema-coerced)
    val sqliteCfgSt = ArchiveJob.StationSource("stA", res("stA.sdb"))
    val asDf = ArchiveJob.loadStation(spark, sqliteCfgSt)
    asDf.write.parquet(s"$root/stA_parquet")

    def cfg(src: String, tag: String) = ArchiveJob.JobConfig(
      statePath = s"$root/state_$tag", archivePath = s"$root/archive_$tag",
      instrument = "sqlitetest",
      stations = Seq(ArchiveJob.StationSource("stA", src)))

    val cfgSqlite = cfg(res("stA.sdb"), "sqlite")
    val cfgParquet = cfg(s"$root/stA_parquet", "parquet")
    for (c <- Seq(cfgSqlite, cfgParquet)) {
      ArchiveJob.resetState(spark, c, None, force = false)
      val r = ArchiveJob.run(spark, c, today = d1.plusDays(2), force = true)
      assert(r.status === 1 && r.daysWritten === 2)
    }
    val a = spark.read.parquet(cfgSqlite.archivePath)
      .orderBy(col("day"), col("dateTime")).collect()
    val b = spark.read.parquet(cfgParquet.archivePath)
      .orderBy(col("day"), col("dateTime")).collect()
    assert(a.length === 576)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)

    // conversion semantics survived the sqlite path: stA usUnits=1,
    // barometer inHg -> hPa on a spot row
    val spot = spark.read.parquet(cfgSqlite.archivePath)
      .filter(col("dateTime") === 1709251200L + 600).collect()(0)
    val rawSpot = spark.read.format("sqlite").load(res("stA.sdb"))
      .filter(col("dateTime") === 1709251200L + 600).collect()(0)
    val iB = spot.schema.fieldNames.indexOf("barometer")
    val rB = rawSpot.schema.fieldNames.indexOf("barometer")
    assert(math.abs(spot.getDouble(iB) - rawSpot.getDouble(rB) * 33.863886) < 1e-9)
  }
}

/** The local file system under the `sessiononly` scheme, which no
  * default Hadoop configuration maps to a class: a read reaches it only
  * through a configuration carrying the session's Hadoop settings.
  * Counts the files it opens. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = SessionOnlyFileSystem.Uri
  override def getScheme: String = SessionOnlyFileSystem.Uri.getScheme
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    SessionOnlyFileSystem.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object SessionOnlyFileSystem {
  val Uri: java.net.URI = java.net.URI.create("sessiononly:///")
  val opens = new java.util.concurrent.atomic.AtomicLong
}
