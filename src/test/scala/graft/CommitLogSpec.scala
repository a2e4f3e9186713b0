package graft

import org.apache.spark.sql.functions._
import graft.operators.CommitLog

/** CommitLog: atomic publish, snapshot isolation, time travel, atomic
  * compaction/merge, vacuum retention, crash-orphan invisibility, and
  * version-claim conflict retry. */
class CommitLogSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("graft_log_").toString

  private def cleanup(p: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    ()
  }

  test("appends publish atomically; time travel reads every version") {
    val t = tempTable()
    try {
      import spark.implicits._
      val v0 = CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      val v1 = CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
      val v2 = CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
      assert(Seq(v0, v1, v2) === Seq(0L, 1L, 2L))
      assert(CommitLog.read(spark, t).count() === 4)
      assert(CommitLog.read(spark, t, asOf = Some(0L)).count() === 2)
      assert(CommitLog.read(spark, t, asOf = Some(1L)).count() === 3)
      assert(CommitLog.read(spark, t, asOf = Some(1L))
        .agg(sum("id")).head.getLong(0) === 6L)
    } finally cleanup(t)
  }

  test("atomic compaction: one commit swaps the file set; history intact") {
    val t = tempTable()
    try {
      import spark.implicits._
      (0 until 4).foreach { i =>
        CommitLog.append(spark, t,
          Seq.tabulate(25)(j => (i * 25L + j, s"r$i-$j")).toDF("id", "s")
            .repartition(3))
      }
      val filesBefore = CommitLog.snapshot(spark, t)
      assert(filesBefore.length >= 8, s"got ${filesBefore.length}")
      val cv = CommitLog.compact(spark, t, targetFiles = 1)
      // new snapshot: one file, same rows
      assert(CommitLog.snapshot(spark, t).length === 1)
      assert(CommitLog.read(spark, t).count() === 100)
      assert(CommitLog.read(spark, t).agg(sum("id")).head.getLong(0) ===
        (0L until 100L).sum)
      // pre-compaction version still fully readable (data immutable)
      assert(CommitLog.read(spark, t, asOf = Some(cv - 1)).count() === 100)
      assert(CommitLog.snapshot(spark, t, Some(cv - 1)) === filesBefore)
    } finally cleanup(t)
  }

  test("CDC merge publishes as one version; old version is the pre-image") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v"))
      val mv = CommitLog.merge(spark, t,
        Seq((2L, "U", "b2", 22.0), (3L, "D", null.asInstanceOf[String], 0.0),
          (9L, "I", "new", 90.0)).toDF("k", "op", "s", "v"), "k")
      val now = CommitLog.read(spark, t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(now === Seq((1L, "a"), (2L, "b2"), (9L, "new")))
      val before = CommitLog.read(spark, t, asOf = Some(mv - 1))
        .orderBy("k").collect().map(_.getLong(0)).toSeq
      assert(before === Seq(1L, 2L, 3L))
    } finally cleanup(t)
  }

  test("a crashed write (staged files, no commit) is invisible") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      // simulate a crash: data files land in data/ without a commit
      Seq((99L, "phantom")).toDF("id", "s").coalesce(1)
        .write.mode("overwrite").parquet(s"$t/_staging_crash")
      val dir = new java.io.File(s"$t/_staging_crash")
      val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Path.of(s"$t/data/orphan-0.parquet"))
      assert(CommitLog.read(spark, t).count() === 1,
        "reader saw uncommitted files")
    } finally cleanup(t)
  }

  test("version claim conflict: a taken number is skipped, not clobbered") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
      // an out-of-band writer claims v1 with its own commit
      val blocker = s"""{"version":1,"adds":[],"removes":[]}"""
      java.nio.file.Files.write(
        java.nio.file.Path.of(s"$t/_graft_log/00000001.json"),
        blocker.getBytes("UTF-8"))
      val v = CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
      assert(v === 2L, "commit must skip the claimed version")
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Path.of(s"$t/_graft_log/00000001.json"))) === blocker,
        "commit clobbered a claimed version")
      assert(CommitLog.read(spark, t).count() === 2)
    } finally cleanup(t)
  }

  test("streaming sink: one commit per micro-batch, replays land nothing") {
    val t = tempTable()
    val dir = java.nio.file.Files.createTempDirectory("graft_logstream_").toString
    try {
      import spark.implicits._
      Seq.tabulate(90)(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartition(3).write.parquet(s"$dir/feed")
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/feed")
      val q = graft.streaming.IncrementalIngest.commitLogWriter(
        src, t, s"$dir/ckpt").start()
      q.awaitTermination(120000)

      assert(CommitLog.read(spark, t).count() === 90)
      val batchIds = CommitLog.committedBatchIds(spark, t)
      assert(batchIds.size >= 2, s"expected multiple micro-batches: $batchIds")
      // replay any committed batch: recognized, nothing staged
      val replayed = CommitLog.appendStream(spark, t,
        Seq((999L, "phantom")).toDF("doc_id", "text"), batchIds.head)
      assert(replayed.isEmpty, "replayed batch was committed again")
      assert(CommitLog.read(spark, t).count() === 90)
    } finally { cleanup(t); cleanup(dir) }
  }

  test("concurrent appenders all land: distinct versions, no lost rows") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((0L, "seed")).toDF("id", "s"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (1 to 6).map { i =>
        Future(CommitLog.append(spark, t,
          Seq((i.toLong, s"w$i")).toDF("id", "s")))
      }
      val versions = Await.result(Future.sequence(writers), 120.seconds)
      // every writer claimed its own version — no clobbering
      assert(versions.distinct.length === 6, s"versions collided: $versions")
      val rows = CommitLog.read(spark, t).orderBy("id").collect()
        .map(_.getLong(0)).toSeq
      assert(rows === (0L to 6L), s"lost or duplicated rows: $rows")
    } finally cleanup(t)
  }

  test("in-log zone maps: scanRange prunes by the stats the commits carry") {
    val t = tempTable()
    try {
      import spark.implicits._
      // three appends with disjoint value ranges -> three statted files
      Seq.tabulate(3) { b =>
        CommitLog.appendWithStats(spark, t,
          Seq.tabulate(100)(i => (b * 100L + i, (b * 1000 + i).toDouble))
            .toDF("id", "v").coalesce(1), Seq("v"))
      }
      val stats = CommitLog.fileStats(spark, t)
      assert(stats.size === 3)
      assert(stats.values.forall(_.contains("v")))

      // a range inside batch 1's zone reads exactly one file
      val pruned = CommitLog.scanRange(spark, t, "v", 1010, 1050)
      assert(pruned.inputFiles.length === 1,
        s"expected 1 surviving file, got ${pruned.inputFiles.length}")
      val expected = CommitLog.read(spark, t)
        .filter(col("v") >= 1010 && col("v") <= 1050)
      assert(pruned.count() === expected.count())
      assert(pruned.agg(sum("id")).head.getLong(0) ===
        expected.agg(sum("id")).head.getLong(0))

      // un-statted files are kept conservatively
      CommitLog.append(spark, t, Seq((999L, 5e6)).toDF("id", "v"))
      assert(CommitLog.scanRange(spark, t, "v", 1010, 1050)
        .inputFiles.length === 2)

      // vacuum's checkpoint carries the zone maps forward
      CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
      assert(CommitLog.fileStats(spark, t).size === 3,
        "vacuum dropped the surviving files' stats")
      assert(CommitLog.scanRange(spark, t, "v", 1010, 1050)
        .inputFiles.length === 2)
    } finally cleanup(t)
  }

  test("change feed: inserts and deletes per version; compaction invisible") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))   // v0
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("k", "s"))              // v1
      val cv = CommitLog.compact(spark, t, targetFiles = 1)                  // v2
      val mv = CommitLog.merge(spark, t,                                     // v3
        Seq((2L, "D", null.asInstanceOf[String])).toDF("k", "op", "s"), "k")

      // since v0: v1's insert, nothing from the compaction, merge's CoW image
      val feed = CommitLog.readChanges(spark, t, sinceVersion = 0L)
        .select("k", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(!feed.exists(_._3 == cv), "compaction leaked into the feed")
      assert(feed.contains((3L, "insert", 1L)))
      // merge at CoW table granularity: full pre-image deleted, post inserted
      assert(feed.contains((2L, "delete", mv)))
      assert(feed.filter(c => c._3 == mv && c._2 == "insert")
        .map(_._1) === Set(1L, 3L))

      // a bounded window sees only its slice
      val w = CommitLog.readChanges(spark, t, 0L, Some(1L)).collect()
      assert(w.length === 1 && w.head.getLong(0) === 3L)

      // caught-up consumer: empty frame, schema intact
      val none = CommitLog.readChanges(spark, t, CommitLog.latestVersion(spark, t))
      assert(none.count() === 0)
      assert(none.columns.contains("_change_type"))
    } finally cleanup(t)
  }

  test("syncIncremental: exactly-once table-to-table propagation") {
    val src = tempTable(); val dst = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, src, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
      val first = CommitLog.syncIncremental(spark, src, dst,
        df => df.withColumn("v2", col("v") * 2))
      assert(first.nonEmpty)
      assert(CommitLog.read(spark, dst).count() === 2)
      assert(CommitLog.read(spark, dst).agg(sum("v2")).head.getDouble(0) === 60.0)

      // caught up -> no-op, no new version
      assert(CommitLog.syncIncremental(spark, src, dst,
        df => df.withColumn("v2", col("v") * 2)).isEmpty)
      assert(CommitLog.latestVersion(spark, dst) === first.get)

      // two more source commits -> ONE sync lands exactly the delta
      CommitLog.append(spark, src, Seq((3L, 30.0)).toDF("k", "v"))
      CommitLog.append(spark, src, Seq((4L, 40.0)).toDF("k", "v"))
      assert(CommitLog.syncIncremental(spark, src, dst,
        df => df.withColumn("v2", col("v") * 2)).nonEmpty)
      assert(CommitLog.read(spark, dst).orderBy("k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))

      // replay with a stale ledger view = the crash window: appendStream's
      // batchId dedup refuses the duplicate
      val beforeReplay = CommitLog.read(spark, dst).count()
      assert(CommitLog.appendStream(spark, dst,
        Seq((3L, 30.0, 60.0), (4L, 40.0, 80.0)).toDF("k", "v", "v2"),
        batchId = CommitLog.latestVersion(spark, src)).isEmpty)
      assert(CommitLog.read(spark, dst).count() === beforeReplay)
    } finally { cleanup(src); cleanup(dst) }
  }

  test("in-log bloom filters: scanEquals prunes where zone maps cannot") {
    val t = tempTable()
    try {
      import spark.implicits._
      // 3 files of interleaved ids (id % 3 == b) — every file's
      // [min, max] spans the whole domain, so zones are useless here
      (0 until 3).foreach { b =>
        CommitLog.appendWithBloom(spark, t,
          Seq.tabulate(1000)(i => { val id = 3L * i + b; (id, s"doc-$id") })
            .toDF("id", "name").coalesce(1),
          bloomCols = Seq("id", "name"), statsCols = Seq("id"))
      }
      assert(CommitLog.scanRange(spark, t, "id", 1234, 1234)
        .inputFiles.length === 3, "precondition: zones overlap on every file")

      // the bloom knows: id 1234 (% 3 == 1) lives in exactly one file
      val hit = CommitLog.scanEquals(spark, t, "id", 1234L)
      assert(hit.inputFiles.length === 1,
        s"expected 1 surviving file, got ${hit.inputFiles.length}")
      assert(hit.count() === 1)
      assert(hit.head.getString(1) === "doc-1234")

      // string-column probe prunes the same way
      val byName = CommitLog.scanEquals(spark, t, "name", "doc-2000")
      assert(byName.inputFiles.length === 1 && byName.count() === 1)

      // an absent key: every filter says definitively-no -> empty scan
      assert(CommitLog.scanEquals(spark, t, "id", 999999L).count() === 0)

      // un-bloomed files are kept conservatively
      CommitLog.append(spark, t, Seq((5000L, "doc-5000")).toDF("id", "name"))
      assert(CommitLog.scanEquals(spark, t, "id", 5000L).count() === 1)

      // vacuum's checkpoint carries the filters forward
      CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
      assert(CommitLog.fileBlooms(spark, t).size === 3,
        "vacuum dropped the surviving files' blooms")
      assert(CommitLog.scanEquals(spark, t, "id", 1234L)
        .inputFiles.length <= 2) // 1 bloomed hit + the un-bloomed file
    } finally cleanup(t)
  }

  test("scanEqualsMulti: one resolve, per-term pruning identical to scanEquals") {
    val t = tempTable()
    try {
      import spark.implicits._
      (0 until 3).foreach { b =>
        CommitLog.appendWithBloom(spark, t,
          Seq.tabulate(1000)(i => { val id = 3L * i + b; (id, s"doc-$id") })
            .toDF("id", "name").coalesce(1),
          bloomCols = Seq("id"), statsCols = Seq("id"))
      }
      // hit / other-file hit / definitive miss, in one batched resolve
      val Seq(a, b2, miss) =
        CommitLog.scanEqualsMulti(spark, t, "id", Seq(1234L, 2000L, 999999L))
      assert(a.inputFiles.length === 1 && a.count() === 1)
      assert(a.head.getString(1) === "doc-1234")
      assert(b2.inputFiles.length === 1 && b2.count() === 1)
      assert(miss.count() === 0)
      // per-value results are the scanEquals twins, file set included
      assert(a.inputFiles.toSet ===
        CommitLog.scanEquals(spark, t, "id", 1234L).inputFiles.toSet)
      // a new commit moves the pin: the memoized resolve must not
      // serve yesterday's version for today's query
      CommitLog.append(spark, t, Seq((999999L, "doc-999999")).toDF("id", "name"))
      val Seq(fresh) = CommitLog.scanEqualsMulti(spark, t, "id", Seq(999999L))
      assert(fresh.count() === 1, "stale resolve served after a new commit")
      // asOf pins time-travel exactly like scanEquals
      val v0 = 2L // the third bloom append
      assert(CommitLog.scanEqualsMulti(spark, t, "id", Seq(999999L), Some(v0))
        .head.count() === 0)
    } finally cleanup(t)
  }

  test("optimizeZOrder: atomic, feed-invisible, prunes both dims from the log") {
    val t = tempTable()
    try {
      import spark.implicits._
      // two appends, each spanning the FULL (x, y) space -> no file is
      // prunable before the rewrite
      (0 until 2).foreach { b =>
        CommitLog.appendWithStats(spark, t,
          Seq.tabulate(400)(i => (i.toLong, (i * 7 % 400).toDouble, (i * 13 % 400).toDouble))
            .toDF("id", "x", "y").repartition(2), Seq("x", "y"))
      }
      assert(CommitLog.scanRange(spark, t, "x", 0, 39).inputFiles.length === 4,
        "precondition: unclustered files all overlap the probe range")
      val preV = CommitLog.latestVersion(spark, t)
      CommitLog.optimizeZOrder(spark, t, "x", "y", files = 4)

      // same logical rows, history intact, nothing in the change feed
      assert(CommitLog.read(spark, t).count() === 800)
      assert(CommitLog.read(spark, t, asOf = Some(preV)).count() === 800)
      assert(CommitLog.readChanges(spark, t, preV).count() === 0)

      // clustering makes the in-log zones selective on BOTH dims
      val px = CommitLog.scanRange(spark, t, "x", 0, 39)
      val py = CommitLog.scanRange(spark, t, "y", 0, 39)
      assert(px.inputFiles.length < 4, s"x-range read ${px.inputFiles.length} files")
      assert(py.inputFiles.length < 4, s"y-range read ${py.inputFiles.length} files")
      assert(px.count() ===
        CommitLog.read(spark, t).filter(col("x") >= 0 && col("x") <= 39).count())
    } finally cleanup(t)
  }

  test("maintainAggregate: change-feed IVM equals full recompute at every step") {
    val src = tempTable(); val dst = tempTable()
    def recompute() = CommitLog.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def maintained() = CommitLog.read(spark, dst)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      import spark.implicits._
      CommitLog.append(spark, src,
        Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v"))
      assert(CommitLog.maintainAggregate(spark, src, dst, "k", "v").nonEmpty)
      assert(maintained() === recompute())

      CommitLog.append(spark, src, Seq(("b", 4.0), ("c", 5.0)).toDF("k", "v"))
      assert(CommitLog.maintainAggregate(spark, src, dst, "k", "v").nonEmpty)
      assert(maintained() === recompute())
      assert(maintained().map(_._1) === Set("a", "b", "c"))

      // CoW merge: delete every 'a' row, update a 'c' row — the feed's
      // delete/insert image drives the view through a mixed delta
      CommitLog.merge(spark, src, Seq(("a", "D", 0.0), ("c", "U", 50.0))
        .toDF("k", "op", "v"), "k")
      assert(CommitLog.maintainAggregate(spark, src, dst, "k", "v").nonEmpty)
      assert(maintained() === recompute())
      assert(!maintained().exists(_._1 == "a"), "count-0 group must vanish")

      // caught up -> None; replayed publish with a stale ledger -> refused
      assert(CommitLog.maintainAggregate(spark, src, dst, "k", "v").isEmpty)
      val before = maintained()
      assert(CommitLog.overwriteStream(spark, dst,
        Seq(("zz", 9L, 9.0)).toDF("k", "cnt", "total"),
        batchId = CommitLog.latestVersion(spark, src)).isEmpty)
      assert(maintained() === before)
    } finally { cleanup(src); cleanup(dst) }
  }

  test("declared schema + CHECK constraints gate every write at the commit boundary") {
    val t = tempTable()
    try {
      import spark.implicits._
      import org.apache.spark.sql.types._
      CommitLog.declareSchema(spark, t,
        StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))))
      CommitLog.append(spark, t, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))

      // undeclared column / retyped column: the WHOLE write refused
      intercept[IllegalArgumentException] {
        CommitLog.append(spark, t, Seq((3L, 3.0, "x")).toDF("id", "v", "w"))
      }
      intercept[IllegalArgumentException] {
        CommitLog.append(spark, t, Seq(("3", 3.0)).toDF("id", "v"))
      }
      assert(CommitLog.read(spark, t).count() === 2, "refused writes left no rows")

      // a constraint existing data violates is refused at ADD time
      intercept[IllegalArgumentException] {
        CommitLog.addConstraint(spark, t, "v_big", "v >= 10")
      }
      CommitLog.addConstraint(spark, t, "v_nonneg", "v >= 0")
      val vBefore = CommitLog.latestVersion(spark, t)
      intercept[IllegalArgumentException] {
        CommitLog.append(spark, t, Seq((4L, -1.0)).toDF("id", "v"))
      }
      assert(CommitLog.latestVersion(spark, t) === vBefore, "refusal committed nothing")
      assert(CommitLog.read(spark, t).count() === 2)

      // SQL CHECK semantics: NULL passes, only FALSE violates
      CommitLog.append(spark, t, Seq((5L, Option.empty[Double])).toDF("id", "v"))
      assert(CommitLog.read(spark, t).count() === 3)

      CommitLog.dropConstraint(spark, t, "v_nonneg")
      CommitLog.append(spark, t, Seq((6L, -1.0)).toDF("id", "v"))
      assert(CommitLog.read(spark, t).count() === 4)

      // evolution: new column lands, pre-evolution rows null-fill, and
      // declared fields are protected from retype/drop
      CommitLog.evolveSchema(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("lang", StringType))))
      intercept[IllegalArgumentException] { // dropping v
        CommitLog.evolveSchema(spark, t, StructType(Seq(
          StructField("id", LongType), StructField("lang", StringType))))
      }
      CommitLog.append(spark, t, Seq((7L, 1.0, "en")).toDF("id", "v", "lang"))
      val r = CommitLog.read(spark, t)
      assert(r.filter(col("id") === 7L).head.getString(2) === "en")
      assert(r.filter(col("id") === 1L).head.isNullAt(2), "pre-evolution rows null-fill")
      // subset writes stay legal after evolution (reader fills NULLs)
      CommitLog.append(spark, t, Seq((8L, 2.0)).toDF("id", "v"))
      assert(CommitLog.read(spark, t).filter(col("id") === 8L).head.isNullAt(2))

      // metadata commits are invisible to the change feed
      assert(CommitLog.readChanges(spark, t, -1L)
        .filter(col("_change_type") === "insert").count() === 6)

      // vacuum's checkpoint carries the whole gate forward
      CommitLog.addConstraint(spark, t, "id_pos", "id > 0")
      CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
      assert(CommitLog.constraints(spark, t) === Map("id_pos" -> "id > 0"))
      assert(CommitLog.tableSchema(spark, t).map(_.fieldNames.toSeq) ===
        Some(Seq("id", "v", "lang")))
      intercept[IllegalArgumentException] {
        CommitLog.append(spark, t, Seq((-1L, 1.0)).toDF("id", "v"))
      }
    } finally cleanup(t)
  }

  test("streaming sink meets the table gate: violating batch fails atomically, retry exactly-once") {
    val t = tempTable()
    val dir = java.nio.file.Files.createTempDirectory("graft_gatestream_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.types._
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("doc_id", LongType), StructField("score", DoubleType))))
      CommitLog.addConstraint(spark, t, "score_unit", "score >= 0 AND score <= 1")

      def run() = graft.streaming.IncrementalIngest.commitLogWriter(
        spark.readStream.schema("doc_id LONG, score DOUBLE")
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/feed"),
        t, s"$dir/ckpt").start()

      Seq((0L, 0.5), (1L, 0.9)).toDF("doc_id", "score").coalesce(1)
        .write.parquet(s"$dir/feed")
      run().awaitTermination(120000)
      assert(CommitLog.read(spark, t).count() === 2)

      // a poison micro-batch: one good row, one violating row — the
      // sink must refuse the WHOLE batch and fail the query before the
      // engine commits its offset
      Seq((2L, 0.7), (3L, 1.5)).toDF("doc_id", "score").coalesce(1)
        .write.mode("append").parquet(s"$dir/feed")
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run().awaitTermination(120000)
      }
      val causes = Iterator.iterate(failed: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(causes.contains("constraint violation"), s"unexpected failure: $causes")
      assert(CommitLog.read(spark, t).count() === 2,
        "the good row of a refused batch must not land either")

      // the operator lifts the gate; restart from the SAME checkpoint
      // replays the refused batch — it lands exactly once
      CommitLog.dropConstraint(spark, t, "score_unit")
      run().awaitTermination(120000)
      val rows = CommitLog.read(spark, t)
      assert(rows.count() === 4)
      assert(rows.groupBy("doc_id").count()
        .filter(col("count") > 1).count() === 0, "a doc_id landed twice")
    } finally { cleanup(t); cleanup(dir) }
  }

  test("vacuum after plain appends checkpoints the horizon (no vanishing files)") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0: fileA
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s")) // v1: fileB
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s")) // v2: fileC
      // truncate below v1: v0's file is still LIVE (never removed) and
      // must survive replay via the horizon checkpoint
      CommitLog.vacuum(spark, t, keepFrom = 1L)
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L))
      assert(CommitLog.read(spark, t).orderBy("id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
        "file added before the horizon vanished from replay")
      // and time travel to the horizon itself still works
      assert(CommitLog.read(spark, t, asOf = Some(1L)).count() === 2)
      // out-of-range horizons are rejected, not destructive
      intercept[IllegalArgumentException] {
        CommitLog.vacuum(spark, t, keepFrom = 99L)
      }
      ()
    } finally cleanup(t)
  }

  test("scanEquals probe type is reconciled with the column type before hashing") {
    val t = tempTable()
    try {
      import spark.implicits._
      // bigint column, bloomed. An Int probe hashes differently from a
      // Long under xxhash64 — pre-fix, probing with Int silently pruned
      // the matching file (false definitive-no). Now the probe is cast
      // to the column's type first: identical results either way.
      CommitLog.appendWithBloom(spark, t,
        Seq.tabulate(100)(i => (i.toLong, s"d-$i")).toDF("id", "s").coalesce(1),
        bloomCols = Seq("id"))
      assert(CommitLog.scanEquals(spark, t, "id", 42).count() === 1,
        "Int probe against a bigint column lost its row")
      assert(CommitLog.scanEquals(spark, t, "id", 42L).count() === 1)
      // int column probed with a Long
      val t2 = tempTable()
      try {
        CommitLog.appendWithBloom(spark, t2,
          Seq.tabulate(100)(i => (i, s"d-$i")).toDF("id", "s").coalesce(1),
          bloomCols = Seq("id"))
        assert(CommitLog.scanEquals(spark, t2, "id", 42L).count() === 1,
          "Long probe against an int column lost its row")
        // out-of-int-range Long: no pruning, filter returns empty
        assert(CommitLog.scanEquals(spark, t2, "id", Long.MaxValue).count() === 0)
      } finally cleanup(t2)
    } finally cleanup(t)
  }

  test("vacuum's checkpoint preserves the keepFrom commit's batchId") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
      val v = CommitLog.appendStream(spark, t,
        Seq((2L, "b")).toDF("id", "s"), batchId = 7L).get // v1, batch 7
      CommitLog.vacuum(spark, t, keepFrom = v)
      // the horizon commit is the ONE retained commit: its batchId must
      // stay in the ledger so an engine replay inside the horizon still
      // lands nothing (pre-fix the ledger forgot batch 7 here)
      assert(CommitLog.committedBatchIds(spark, t).contains(7L),
        "checkpoint rewrite dropped the keepFrom commit's batchId")
      assert(CommitLog.appendStream(spark, t,
        Seq((2L, "b")).toDF("id", "s"), batchId = 7L).isEmpty,
        "replayed batch landed twice after vacuum")
      assert(CommitLog.read(spark, t).count() === 2)
    } finally cleanup(t)
  }

  test("bare ledger entries match only as pre-upgrade legacy, not a live co-writer") {
    // ADVICE r13 #3: a foreachBatch writer's identity-free batchIds
    // must not permanently suppress a DSv2 query's same-numbered
    // epochs on a shared table. Bare entries are honored only when
    // they PREDATE the table's first app-qualified entry.
    val t = tempTable()
    try {
      import spark.implicits._
      // pre-upgrade history: two bare (identity-free) batch commits
      CommitLog.appendStream(spark, t, Seq((1L, "a")).toDF("id", "s"), 0L)
      CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 1L)
      // a qualified writer arriving now DOES see those as its own
      // legacy replays (pre-upgrade tables keep replay protection)...
      assert(CommitLog.replayedBatch(spark, t, "appA", 0L))
      assert(CommitLog.replayedBatch(spark, t, "appA", 1L))
      assert(!CommitLog.replayedBatch(spark, t, "appA", 2L))
      // ...and its first qualified commit draws the line
      CommitLog.appendStream(spark, t, Seq((3L, "c")).toDF("id", "s"), 2L,
        app = Some("appA")).get
      // a LIVE identity-free co-writer lands epoch 3 after that line
      CommitLog.appendStream(spark, t, Seq((4L, "d")).toDF("id", "s"), 3L)
      // appA's epoch 3 is NOT a replay of the co-writer's batch 3
      assert(!CommitLog.replayedBatch(spark, t, "appA", 3L))
      assert(CommitLog.appendStream(spark, t,
        Seq((5L, "e")).toDF("id", "s"), 3L, app = Some("appA")).isDefined,
        "qualified epoch suppressed by a live co-writer's bare entry")
      // appA's own qualified entries still replay-match...
      assert(CommitLog.replayedBatch(spark, t, "appA", 2L))
      assert(CommitLog.appendStream(spark, t,
        Seq((9L, "x")).toDF("id", "s"), 2L, app = Some("appA")).isEmpty)
      // ...but a DIFFERENT qualified app's epochs are unrelated
      assert(!CommitLog.replayedBatch(spark, t, "appB", 2L))
      // legacy bare entries stay honored for everyone
      assert(CommitLog.replayedBatch(spark, t, "appB", 0L))
      assert(CommitLog.read(spark, t).count() === 5)
    } finally cleanup(t)
  }

  test("change feed below a vacuumed horizon fails loudly, not silently empty") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s")) // v1
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s")) // v2
      CommitLog.vacuum(spark, t, keepFrom = 1L)
      // a consumer starting below the vacuum horizon would miss every
      // truncated change — Delta CDF errors here; so do we
      intercept[IllegalStateException] {
        CommitLog.readChanges(spark, t, sinceVersion = -1L).count()
      }
      intercept[IllegalStateException] {
        CommitLog.readChanges(spark, t, sinceVersion = 0L).count()
      }
      // at or above the horizon the feed is complete and unchanged
      assert(CommitLog.readChanges(spark, t, sinceVersion = 1L)
        .filter(col("_change_type") === "insert").count() === 1)
    } finally cleanup(t)
  }

  test("periodic parquet checkpoints: snapshot resolves from checkpoint + tail only") {
    val t = tempTable()
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.commitlog.checkpointInterval", "10")
      try {
        (0 until 103).foreach { i =>
          if (i % 10 == 3) // a bloomed/statted commit per cadence window
            CommitLog.appendWithBloom(spark, t,
              Seq((i.toLong, s"d-$i")).toDF("id", "s").coalesce(1),
              bloomCols = Seq("id"), statsCols = Seq("id"))
          else
            CommitLog.append(spark, t,
              Seq((i.toLong, s"d-$i")).toDF("id", "s").coalesce(1))
        }
        // commits 0..102 -> versions 0..102; cadence-10 checkpoints,
        // the pointer tracking the newest
        assert(CommitLog.lastCheckpointPointer(spark, t) === Some(100L))
        assert(CommitLog.checkpointVersions(spark, t).contains(100L))
        val before = CommitLog.read(spark, t).orderBy("id")
          .collect().map(_.getLong(0)).toSeq
        val statsBefore = CommitLog.fileStats(spark, t)
        val bloomsBefore = CommitLog.fileBlooms(spark, t)
        // THE pin: resolving must not open pre-checkpoint JSON commits.
        // Delete them outright — resolution via checkpoint + tail
        // (101, 102) must still see every row and every file's metadata
        val log = new java.io.File(s"$t/_graft_log")
        (0L until 100L).foreach { v =>
          val f = new java.io.File(log, f"$v%08d.json")
          assert(f.delete(), s"fixture: could not delete $f")
        }
        assert(CommitLog.snapshot(spark, t).size === 103)
        assert(CommitLog.read(spark, t).orderBy("id")
          .collect().map(_.getLong(0)).toSeq === before)
        assert(CommitLog.fileStats(spark, t) === statsBefore,
          "zone maps did not survive into the checkpoint")
        assert(CommitLog.fileBlooms(spark, t) === bloomsBefore,
          "bloom filters did not survive into the checkpoint")
        // bloom-pruned point read served from checkpoint metadata
        val hit = CommitLog.scanEquals(spark, t, "id", 13L)
        assert(hit.count() === 1 && hit.inputFiles.length < 103,
          "checkpointed blooms no longer prune")
        // time travel within the tail window still works
        assert(CommitLog.read(spark, t, asOf = Some(101L)).count() === 102)
      } finally spark.conf.unset("spark.graft.commitlog.checkpointInterval")
    } finally cleanup(t)
  }

  test("a checkpoint holds the whole table state: commits below it are never read") {
    val t = tempTable()
    val m = tempTable()
    val copies = Seq.fill(2)(tempTable())
    spark.conf.set("spark.graft.commitlog.checkpointInterval", "10")
    try {
      import spark.implicits._
      import org.apache.spark.sql.types.StructType
      CommitLog.declareSchema(spark, t,
        StructType.fromDDL("id BIGINT, s STRING, tag STRING"))               // v0
      CommitLog.appendStream(spark, t,
        Seq((1L, "a", "x")).toDF("id", "s", "tag"), 0L)                      // v1: bare, legacy
      CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")              // v2
      CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 1L,
        app = Some("appA"))                                                  // v3: qualified
      CommitLog.appendStream(spark, t, Seq((3L, "c")).toDF("id", "s"), 7L)   // v4: bare, live
      CommitLog.dropColumn(spark, t, "tag")                                  // v5
      (6 to 22).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))) // v6..v22
      assert(CommitLog.latestVersion(spark, t) === 22L)
      assert(CommitLog.checkpointVersions(spark, t) === Seq(10L, 20L))
      // a manifest whose newest pins sit below its checkpoint
      (0 to 15).foreach(i => CommitLog.txnCommit(spark, m, i.toLong, Map("index" -> i.toLong)))
      (16 to 22).foreach(_ =>
        CommitLog.commit(spark, m, Seq.empty, Seq.empty, dataChange = false))
      assert(CommitLog.checkpointVersions(spark, m) === Seq(10L, 20L))
      def answers(p: String) = (
        CommitLog.tableSchema(spark, p), CommitLog.constraints(spark, p),
        CommitLog.usedPhysicalNames(spark, p), CommitLog.committedBatchIds(spark, p),
        Seq(0L, 1L, 7L).map(CommitLog.replayedBatch(spark, p, "appA", _)),
        Seq(0L, 1L, 7L).map(CommitLog.versionForBatchId(spark, p, _)),
        CommitLog.read(spark, p).count())
      val before = answers(t)
      assert(before._2 === Map("id_nonneg" -> "id >= 0"))
      assert(before._3.contains("tag") && !before._1.get.fieldNames.contains("tag"))
      assert(before._4 === Set(0L, 1L, 7L))
      // legacy bare entry matches; the live co-writer's does not
      assert(before._5 === Seq(true, true, false))
      assert(before._6 === Seq(Some(1L), Some(3L), Some(4L)))
      val pinsBefore = CommitLog.txnPins(spark, m)
      assert(pinsBefore === Map("index" -> 15L))
      // delete every commit below the checkpoint, then read fresh copies
      // (a new path resolves afresh, with nothing served from memory)
      Seq(t, m).zip(copies).foreach { case (src, dst) =>
        (0L until 20L).foreach { v =>
          val f = new java.io.File(s"$src/_graft_log", f"$v%08d.json")
          assert(f.delete(), s"fixture: could not delete $f")
        }
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(src), new java.io.File(dst))
      }
      assert(answers(copies(0)) === before)
      assert(CommitLog.txnPins(spark, copies(1)) === pinsBefore)
    } finally {
      spark.conf.unset("spark.graft.commitlog.checkpointInterval")
      (Seq(t, m) ++ copies).foreach(cleanup)
    }
  }

  test("vacuum rewrites no retained commit and keeps the ledger below the horizon") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))                 // v0
      CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 3L,
        app = Some("appA"))                                                      // v1
      CommitLog.appendStream(spark, t, Seq((3L, "c")).toDF("id", "s"), 4L)      // v2
      CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))                 // v3
      val log = new java.io.File(s"$t/_graft_log")
      def commits = log.listFiles.filter(_.getName.endsWith(".json"))
        .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .toMap
      val before = commits
      CommitLog.vacuum(spark, t, keepFrom = 2L)
      val after = commits
      assert(after.keySet === Set("00000002.json", "00000003.json"))
      after.foreach { case (n, bytes) =>
        assert(bytes === before(n), s"vacuum rewrote the retained commit $n")
      }
      // batches committed below the horizon are still refused as replays
      assert(CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 3L,
        app = Some("appA")).isEmpty, "a replay of a truncated batch landed twice")
      assert(CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 3L).isEmpty)
      assert(CommitLog.read(spark, t).count() === 4)
    } finally cleanup(t)
  }

  test("a log with a missing commit is refused, not served as a partial table") {
    val t = tempTable()
    try {
      import spark.implicits._
      (0 until 3).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s")))
      assert(new java.io.File(s"$t/_graft_log/00000001.json").delete())
      val e = intercept[IllegalStateException](CommitLog.read(spark, t).count())
      assert(e.getMessage.contains("version 1 is missing"), e.getMessage)
    } finally cleanup(t)
  }

  test("a failed periodic checkpoint logs a warning and the commit stands") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-checkpoint-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getLoggerName == "graft.operators.CommitLog")
          warned.add(e.getMessage.getFormattedMessage)
    }
    Configurator.setLevel("graft.operators.CommitLog", Level.WARN)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    capture.start()
    ctx.getConfiguration.getRootLogger.addAppender(capture, null, null)
    ctx.updateLoggers()
    val t = tempTable()
    spark.conf.set("spark.graft.commitlog.checkpointInterval", "2")
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((0L, "a")).toDF("id", "s"))             // v0
      CommitLog.append(spark, t, Seq((1L, "b")).toDF("id", "s"))             // v1
      // the pointer write fails: its path is taken by a directory
      assert(new java.io.File(s"$t/_graft_log/_last_checkpoint").mkdir())
      assert(warned.isEmpty, warned.toArray.mkString("\n"))
      assert(CommitLog.append(spark, t, Seq((2L, "c")).toDF("id", "s")) === 2L)
      assert(warned.size === 1, warned.toArray.mkString("\n"))
      assert(warned.peek.contains(t) && warned.peek.contains("v2"), warned.peek)
      assert(CommitLog.read(spark, t).count() === 3)
    } finally {
      spark.conf.unset("spark.graft.commitlog.checkpointInterval")
      ctx.getConfiguration.getRootLogger.removeAppender("graft-checkpoint-capture")
      ctx.updateLoggers()
      capture.stop()
      cleanup(t)
    }
  }

  test("checkpointed scan pruning stays in the parquet domain: survivor names only reach the driver") {
    val t = tempTable()
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.commitlog.checkpointInterval", "10")
      try {
        // 20 one-file commits, file i holding ids [i*100, i*100+9], each
        // with zone + bloom metadata; cadence-10 -> checkpoint at v10
        // covers 11 files, tail v11..v19 adds 9 more
        (0 until 20).foreach { i =>
          CommitLog.appendWithBloom(spark, t,
            (0 until 10).map(j => (i * 100L + j, s"d-$i-$j")).toDF("id", "s").coalesce(1),
            bloomCols = Seq("id"), statsCols = Seq("id"))
        }
        assert(CommitLog.lastCheckpointPointer(spark, t) === Some(10L))
        val cpDf = spark.read.parquet(s"$t/_graft_log/cp-00000010.parquet")
        assert(cpDf.count() === 11)
        // THE pin: the zone predicate runs over the checkpoint AS A
        // DATAFRAME and only surviving names are collected — resolve
        // work is O(survivors), not O(files x 8 KiB blooms)
        val zdf = CommitLog.zoneKeep("id", 300, 399)(cpDf).select("file")
        assert(zdf.collect().map(_.getString(0)).length === 1,
          "zone filter over checkpoint rows should survive exactly file 3")
        // and the blooms column is PRUNED from the checkpoint read: a
        // zone-only resolve never materializes the heavy payload at all
        val zRead = zdf.queryExecution.executedPlan.toString.linesIterator
          .find(_.contains("ReadSchema:")).getOrElse("")
        assert(zRead.contains("stats") && !zRead.contains("blooms"),
          s"zone-only resolve read the bloom payload: $zRead")
        // bloom probe: evaluated IN the plan via the codegen'd bit test
        // (positions are driver constants; only the modulus is per-row)
        val h = graft.plans.BloomAggregate.hashOf(507L)
        val bdf = CommitLog.bloomKeep("id", h)(cpDf).select("file")
        assert(bdf.queryExecution.executedPlan.toString.contains("graft_dv_test"),
          "bloom probe not visible in the checkpoint-filter plan")
        assert(bdf.collect().map(_.getString(0)).length === 1,
          "bloom probe over checkpoint rows should survive exactly file 5")
        // end-to-end behavior unchanged: pruned scans read only the
        // surviving files and return exactly the unpruned rows
        val ranged = CommitLog.scanRange(spark, t, "id", 300, 399)
        assert(ranged.inputFiles.length === 1 && ranged.count() === 10)
        assert(ranged.orderBy("id").collect().map(_.getLong(0)).toSeq ===
          (300L to 309L))
        val point = CommitLog.scanEquals(spark, t, "id", 507L)
        assert(point.inputFiles.length === 1 && point.count() === 1)
      } finally spark.conf.unset("spark.graft.commitlog.checkpointInterval")
    } finally cleanup(t)
  }

  test("vacuum drops stale parquet checkpoints with the truncated tail") {
    val t = tempTable()
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.commitlog.checkpointInterval", "5")
      try {
        (0 until 12).foreach { i =>
          CommitLog.append(spark, t,
            Seq((i.toLong, s"d-$i")).toDF("id", "s").coalesce(1))
        }
        assert(CommitLog.checkpointVersions(spark, t) === Seq(5L, 10L))
        // an overwrite between checkpoints: its removes live in the
        // JSON tail; a snapshot seeded from a sub-horizon checkpoint
        // AFTER vacuum truncates that tail would resurrect the removed
        // files — vacuum must drop such checkpoints
        CommitLog.overwrite(spark, t, Seq((99L, "z")).toDF("id", "s")) // v12
        CommitLog.vacuum(spark, t, keepFrom = 12L)
        // sub-horizon checkpoints are stale and dropped; the HORIZON
        // itself is now a parquet checkpoint (vacuum publishes it so
        // the slim JSON line never carries per-file metadata), and the
        // pointer tracks it
        assert(CommitLog.checkpointVersions(spark, t) === Seq(12L),
          "vacuum must drop sub-horizon checkpoints and keep the horizon's")
        assert(CommitLog.lastCheckpointPointer(spark, t) === Some(12L),
          "_last_checkpoint must track the horizon checkpoint")
        assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(99L))
      } finally spark.conf.unset("spark.graft.commitlog.checkpointInterval")
    } finally cleanup(t)
  }

  test("replaceRange: atomic range swap, straddler rewrite, ledger replay, range gate") {
    val t = tempTable()
    try {
      import spark.implicits._
      // seed files: one wholly inside the day range [0, 99] (ts 0..98),
      // one STRADDLING the boundary (ts 90..109)
      CommitLog.appendWithStats(spark, t,
        Seq.tabulate(50)(i => (i.toLong * 2, "old")).toDF("ts", "v").coalesce(1),
        Seq("ts"))
      CommitLog.appendWithStats(spark, t,
        Seq.tabulate(20)(i => (90L + i, "mix")).toDF("ts", "v").coalesce(1),
        Seq("ts"))
      val rep = Seq.tabulate(10)(i => (i.toLong, "new")).toDF("ts", "v").coalesce(1)
      assert(CommitLog.replaceRange(spark, t, rep, "ts", 0.0, 99.0,
        batchId = Some(42L)).isDefined)
      val rows = CommitLog.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // inside the range: ONLY the replacement; the straddler's
      // out-of-range rows (100..109) survive its rewrite; nothing old
      assert(rows.filter(_._1 <= 99L).forall(_._2 == "new"), s"${rows.toSeq}")
      assert(rows.count(_._2 == "new") === 10)
      assert(rows.filter(_._1 > 99L).map(_._1).sorted.toSeq === (100L to 109L))
      assert(rows.count(_._2 == "old") === 0)
      // exactly-once: the same batchId stages nothing on replay
      assert(CommitLog.replaceRange(spark, t, rep, "ts", 0.0, 99.0,
        batchId = Some(42L)).isEmpty)
      assert(CommitLog.read(spark, t).count() === 20)
      // range gate: staged rows outside [lo, hi] refuse the commit
      intercept[IllegalArgumentException] {
        CommitLog.replaceRange(spark, t,
          Seq((500L, "bad")).toDF("ts", "v"), "ts", 0.0, 99.0)
      }
      assert(CommitLog.read(spark, t).count() === 20)
      // time travel: the pre-replace version still serves the old day
      assert(CommitLog.read(spark, t, asOf = Some(1L))
        .filter(col("v") === "old").count() === 50)
    } finally cleanup(t)
  }

  test("vacuum drops unreferenced files but keeps the retained horizon") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s")) // v1
      val cv = CommitLog.compact(spark, t, 1) // v2: removes v0+v1 files
      val nBefore = new java.io.File(s"$t/data").listFiles().length
      CommitLog.vacuum(spark, t, keepFrom = cv)
      val nAfter = new java.io.File(s"$t/data").listFiles().length
      assert(nAfter < nBefore, "vacuum freed nothing")
      assert(CommitLog.read(spark, t).count() === 2)
      // the pre-compaction log entries are gone with their files
      assert(CommitLog.versions(spark, t) === Seq(cv))
    } finally cleanup(t)
  }

  test("deletion vectors: row deletes are metadata commits; reads mask, history intact") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq.tabulate(20)(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(2))
      CommitLog.appendWithStats(spark, t,
        Seq.tabulate(10)(i => (100L + i, s"x$i")).toDF("id", "s").coalesce(1),
        statsCols = Seq("id"))
      val filesBefore = CommitLog.snapshot(spark, t).toSet
      val dv1 = CommitLog.delete(spark, t, "id % 2 = 1")
      assert(dv1.isDefined)
      // no data file was added, removed, or rewritten
      assert(CommitLog.snapshot(spark, t).toSet === filesBefore)
      assert(CommitLog.read(spark, t).count() === 15)
      assert(CommitLog.read(spark, t).filter("id % 2 = 1").count() === 0)
      // time travel below the delete still sees every row
      assert(CommitLog.read(spark, t, asOf = Some(dv1.get - 1)).count() === 30)
      // plan pin: the mask is one filter over the scan — a bit probe
      // per row, never a join against a deleted-rows table
      val masked = CommitLog.read(spark, t).queryExecution.executedPlan.toString
      assert(!masked.contains("Join"), s"DV mask planned a join:\n$masked")
      assert(masked.contains("graft_dv_test"), "DV mask missing from the plan")
      // a second delete UNIONS with the standing vectors
      assert(CommitLog.delete(spark, t, "id = 100").isDefined)
      assert(CommitLog.read(spark, t).count() === 14)
      assert(CommitLog.read(spark, t).filter("id % 2 = 1 OR id = 100").count() === 0)
      // pruned scans mask too: no resurrected rows behind zone maps
      val ranged = CommitLog.scanRange(spark, t, "id", 100, 109)
      assert(ranged.collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(102L, 104L, 106L, 108L))
      // matching nothing commits nothing
      val v = CommitLog.latestVersion(spark, t)
      assert(CommitLog.delete(spark, t, "id = 99999").isEmpty)
      assert(CommitLog.latestVersion(spark, t) === v)
      // ledger replay: same batchId, no second commit
      assert(CommitLog.delete(spark, t, "id = 2", batchId = Some(7L)).isDefined)
      assert(CommitLog.delete(spark, t, "id = 4", batchId = Some(7L)).isEmpty)
      assert(CommitLog.read(spark, t).filter("id = 4").count() === 1)
    } finally cleanup(t)
  }

  test("compaction materializes deletes and retires the vectors") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(3))
      CommitLog.delete(spark, t, "id >= 40")
      assert(CommitLog.deletionVectors(spark, t).nonEmpty)
      CommitLog.compact(spark, t, targetFiles = 1)
      val live = CommitLog.snapshot(spark, t).toSet
      // the rewritten file carries no vector: deletes are IN the data now
      assert(CommitLog.deletionVectors(spark, t)
        .keys.forall(f => !live.contains(f)), "live file still carries a DV")
      assert(CommitLog.read(spark, t).count() === 40)
      assert(CommitLog.read(spark, t).agg(max("id")).head.getLong(0) === 39L)
    } finally cleanup(t)
  }

  test("change feed surfaces exactly the newly-deleted rows of each DV commit") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq.tabulate(10)(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1)) // v0
      val va = CommitLog.delete(spark, t, "id IN (2, 5)").get
      val vb = CommitLog.delete(spark, t, "id IN (5, 7)").get // 5 already gone
      val feedA = CommitLog.readChanges(spark, t, va - 1, Some(va))
        .filter(col("_change_type") === "delete")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(feedA === Seq(2L, 5L), s"got $feedA")
      // the overlap (5) must NOT re-surface in the second commit's feed
      val feedB = CommitLog.readChanges(spark, t, vb - 1, Some(vb))
        .filter(col("_change_type") === "delete")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(feedB === Seq(7L), s"got $feedB")
      // IVM consumes DV deletes like file deletes: count drops by 3
      val mv = tempTable()
      try {
        CommitLog.maintainAggregate(spark, t, mv, "s", "id")
        assert(CommitLog.read(spark, mv).agg(sum("cnt")).head.getLong(0) === 7L)
      } finally cleanup(mv)
    } finally cleanup(t)
  }

  test("deletion vectors survive parquet checkpoints and vacuum") {
    val t = tempTable()
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.commitlog.checkpointInterval", "10")
      try {
        (0 until 9).foreach { i =>
          CommitLog.append(spark, t,
            Seq((i.toLong, s"d-$i")).toDF("id", "s").coalesce(1)) // v0..v8
        }
        CommitLog.delete(spark, t, "id IN (3, 6)") // v9
        (9 until 12).foreach { i =>
          CommitLog.append(spark, t,
            Seq((i.toLong, s"d-$i")).toDF("id", "s").coalesce(1)) // v10..v12
        }
        // v10 wrote a checkpoint whose rows must carry the v9 vectors
        assert(CommitLog.checkpointVersions(spark, t).contains(10L))
        val log = new java.io.File(s"$t/_graft_log")
        (0L until 10L).foreach { v =>
          val f = new java.io.File(log, f"$v%08d.json")
          assert(f.delete(), s"fixture: could not delete $f")
        }
        assert(CommitLog.read(spark, t).count() === 10)
        assert(CommitLog.read(spark, t).filter("id IN (3, 6)").count() === 0,
          "deletes resurrected after checkpoint-seeded resolution")
        // vacuum checkpoints the horizon: vectors ride the checkpoint
        CommitLog.vacuum(spark, t, keepFrom = 12L)
        assert(CommitLog.read(spark, t).count() === 10)
        assert(CommitLog.read(spark, t).filter("id IN (3, 6)").count() === 0,
          "deletes resurrected after vacuum horizon rewrite")
      } finally spark.conf.unset("spark.graft.commitlog.checkpointInterval")
    } finally cleanup(t)
  }

  test("bloomKeep keeps files with corrupt bloom entries — conservative, never a throw") {
    import spark.implicits._
    val h = graft.plans.BloomAggregate.hashOf(42L)
    val rows = Seq(
      ("f1", "", "\"id\":\"99999999999:AAAA\"", ""), // k overflows an int cast
      ("f2", "", "\"id\":\"5:!!notbase64!!\"", ""), // payload not base64
      ("f3", "", "\"id\":\"5:AAA\"", ""), // payload length not a multiple of 4
      ("f4", "", "\"id\":\"5\"", ""), // no colon at all
      ("f5", "", "", ""), // no entry: un-bloomed files are kept
      ("f6", "", "\"id\":\"2:AAAAAAAAAAA=\"", "")) // VALID all-zero filter: definitive no
    val df = rows.toDF("file", "stats", "blooms", "dv")
    val kept = CommitLog.bloomKeep("id", h)(df)
      .select("file").collect().map(_.getString(0)).toSet
    assert(kept === Set("f1", "f2", "f3", "f4", "f5"),
      s"corrupt entries must keep, the valid empty filter must prune: got $kept")
  }

  test("restore reverts live set and deletion vectors as one commit; history describes the log") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)) // v0
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1))            // v1
      CommitLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s").coalesce(1))         // v2
      // current = {9}; restore to v1 -> {1,2,3}, as a NEW commit
      assert(CommitLog.restore(spark, t, 1L) === 3L)
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L, 3L))
      // history intact: the overwritten state is still time-travelable
      assert(CommitLog.read(spark, t, asOf = Some(2L))
        .collect().map(_.getLong(0)).toSeq === Seq(9L))
      // restore undoes a DELETE via DV rollback (the tombstone path:
      // entries are latest-wins, so silence would keep the delete)
      CommitLog.delete(spark, t, "id = 2")                                              // v4
      assert(CommitLog.read(spark, t).count() === 2)
      CommitLog.restore(spark, t, 3L)                                                   // v5
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L, 3L), "DV rollback must resurrect the deleted row")
      // and restoring BACK to the deleted state re-applies the vector
      CommitLog.restore(spark, t, 4L)                                                   // v6
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 3L))
      // history: one row per commit, counts and flags right
      val h = CommitLog.history(spark, t).orderBy("version").collect()
      assert(h.length === 7)
      assert(h(2).getInt(2) === 1 && h(2).getInt(3) === 2,
        "v2 overwrite should read as 1 add / 2 removes")
      assert(h(4).getInt(7) === 1, "the delete commit should carry one dv entry")
      assert(h.forall(_.getBoolean(5)), "no dataChange=false commits in this log")
      // the auditor column: every commit stamped, strictly increasing
      val stamps = h.map(_.getTimestamp(1))
      assert(stamps.forall(_ != null))
      assert(stamps.sliding(2).forall(p => p(0).before(p(1))),
        "commit timestamps must be strictly monotone")
      // the checkpoint column marks the versions a parquet checkpoint holds
      CommitLog.writeCheckpoint(spark, t, 3L)
      assert(CommitLog.history(spark, t).filter(col("checkpoint"))
        .collect().map(_.getLong(0)).toSeq === Seq(3L))
      // below the vacuum horizon the snapshot is gone: restore refuses
      CommitLog.vacuum(spark, t, keepFrom = 5L)
      val e = intercept[IllegalArgumentException] { CommitLog.restore(spark, t, 2L) }
      assert(e.getMessage.contains("horizon"), e.getMessage)
    } finally cleanup(t)
  }

  test("sidecar deletion vectors: a big delete's commit stays metadata-sized") {
    val t = tempTable()
    try {
      // force the sidecar path: vectors over 64 raw bytes leave the JSON
      spark.conf.set("spark.graft.commitlog.dvInlineThreshold", "64")
      try {
        CommitLog.append(spark, t,
          spark.range(0, 10000).selectExpr("id", "cast(id as string) AS s").coalesce(1))
        val v = CommitLog.delete(spark, t, "id % 2 = 0").get
        // THE pin: the 10k-row file's ~1.25 KB vector rides as a `@`
        // reference; the commit line itself stays metadata-sized
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f"$t/_graft_log/$v%08d.json")), "UTF-8")
        assert(json.contains(":\"@dv-"), s"expected a sidecar reference in: $json")
        assert(json.length < 500,
          s"commit JSON carries the bitmap (len ${json.length}): $json")
        val log = new java.io.File(s"$t/_graft_log")
        assert(log.listFiles.exists(f =>
          f.getName.startsWith("dv-") && f.getName.endsWith(".bin")))
        // masking, time travel, and the change feed behave exactly as inline
        assert(CommitLog.read(spark, t).count() === 5000)
        assert(CommitLog.read(spark, t).agg(min("id")).head.getLong(0) === 1L)
        assert(CommitLog.read(spark, t, asOf = Some(0L)).count() === 10000)
        assert(CommitLog.readChanges(spark, t, 0L)
          .filter(col("_change_type") === "delete").count() === 5000)
        // a second delete unions with the prior SIDECAR vector
        CommitLog.delete(spark, t, "id % 3 = 0")
        assert(CommitLog.read(spark, t).count() === 3333) // odd, not %3
        // parquet checkpoints carry the reference through resolution
        val latest = CommitLog.latestVersion(spark, t)
        CommitLog.writeCheckpoint(spark, t, latest)
        assert(CommitLog.read(spark, t).count() === 3333)
        // vacuum: the horizon checkpoint keeps the ref (no byte transit),
        // the orphan sweep drops the REPLACED sidecar, keeps the live one
        // (grace window zeroed so the just-written orphan is sweepable)
        spark.conf.set("spark.graft.commitlog.dvSweepGraceMs", "0")
        CommitLog.vacuum(spark, t, keepFrom = latest)
        assert(CommitLog.read(spark, t).count() === 3333,
          "deletes resurrected after vacuum with sidecar vectors")
        val sidecars = log.listFiles.count(_.getName.startsWith("dv-"))
        assert(sidecars === 1,
          s"expected 1 live sidecar after the orphan sweep, found $sidecars")
      } finally {
        spark.conf.unset("spark.graft.commitlog.dvInlineThreshold")
        spark.conf.unset("spark.graft.commitlog.dvSweepGraceMs")
      }
    } finally cleanup(t)
  }

  test("TIMESTAMP AS OF: commit stamps resolve to versions; vacuum keeps the horizon stamp") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1)) // v0
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1)) // v1
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1)) // v2
      val ts = (0L to 2L).map(v =>
        CommitLog.commitTimestampMillis(spark, t, v).get)
      assert(ts === ts.sorted && ts.distinct === ts, "stamps must be strictly monotone")
      // exact stamps resolve to their versions; between-stamps to the earlier
      ts.zipWithIndex.foreach { case (m, v) =>
        assert(CommitLog.versionAtTimestamp(spark, t, m) === v.toLong)
      }
      assert(CommitLog.versionAtTimestamp(spark, t, ts(1) + (ts(2) - ts(1)) / 2) === 1L
        || ts(2) - ts(1) < 2, "between-commit instant must resolve to the earlier version")
      // a future instant resolves to the newest commit
      assert(CommitLog.versionAtTimestamp(spark, t, ts(2) + 60000L) === 2L)
      assert(CommitLog.readTimestampAsOf(spark, t, ts(0)).count() === 1)
      assert(CommitLog.readTimestampAsOf(spark, t, ts(2) + 60000L).count() === 3)
      // before the first commit: refused, like restore below the horizon
      val e = intercept[IllegalArgumentException] {
        CommitLog.versionAtTimestamp(spark, t, ts(0) - 1)
      }
      assert(e.getMessage.contains("vacuum horizon"), e.getMessage)
      // vacuum leaves the horizon line, and so its stamp, untouched
      CommitLog.vacuum(spark, t, keepFrom = 1L)
      assert(CommitLog.commitTimestampMillis(spark, t, 1L) === Some(ts(1)))
      assert(CommitLog.versionAtTimestamp(spark, t, ts(2)) === 2L)
      intercept[IllegalArgumentException] {
        CommitLog.versionAtTimestamp(spark, t, ts(0))
      }
      ()
    } finally cleanup(t)
  }

  test("checkpoint after restore keeps the restored files — a remove only cancels EARLIER adds") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.appendWithBloom(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
        bloomCols = Seq("id"), statsCols = Seq("id"))                    // v0
      CommitLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s").coalesce(1)) // v1
      CommitLog.restore(spark, t, 0L)                                    // v2: re-adds v0's file
      // THE regression (advice r8-high): a checkpoint whose tail spans
      // the overwrite's remove AND the restore's re-add of the same
      // name must keep the re-added file — set-based tail merge dropped
      // it and the table read back empty after vacuum
      CommitLog.writeCheckpoint(spark, t, 2L)
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L), "restored files lost by the checkpoint tail merge")
      // and the restore commit carries the at-version stats/blooms, so
      // the checkpointed rows keep their data-skipping metadata
      val cp = spark.read.parquet(s"$t/_graft_log/cp-00000002.parquet")
      val row = cp.filter(col("stats") =!= "").collect()
      assert(row.length === 1 && row.head.getAs[String]("blooms").nonEmpty,
        "restored file lost its stats/blooms through restore+checkpoint")
      // vacuum (which always writes the horizon checkpoint) after a
      // restore must also preserve the data end-to-end
      CommitLog.vacuum(spark, t, keepFrom = 2L)
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L), "restored data lost after vacuum")
      // and skipping still works off the post-vacuum checkpoint
      val pruned = CommitLog.scanRange(spark, t, "id", 1, 2)
      assert(pruned.count() === 2)
    } finally cleanup(t)
  }

  test("checkpoint spanning remove->re-add preserves a still-live deletion vector") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1)) // v0
      CommitLog.delete(spark, t, "id = 2")                                // v1 (DV)
      CommitLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s").coalesce(1)) // v2
      CommitLog.restore(spark, t, 1L)                                     // v3: re-add + DV republish
      CommitLog.writeCheckpoint(spark, t, 3L)
      assert(CommitLog.read(spark, t).orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 3L), "restored deletion vector lost through the checkpoint")
    } finally cleanup(t)
  }

  test("zoneKeep keeps files with corrupt stats entries — conservative, never a prune") {
    import spark.implicits._
    val rows = Seq(
      ("f1", "\"id\":[garbage,100.0]", "", ""),  // unparsable min
      ("f2", "\"id\":[0.0,alsobad]", "", ""),    // unparsable max
      ("f3", "\"id\":[NaN,NaN]", "", ""),        // NaN bounds
      ("f4", "", "", ""),                          // no stats: kept
      ("f5", "\"id\":[500.0,600.0]", "", ""),    // valid, outside: pruned
      ("f6", "\"id\":[0.0,10.0]", "", ""))       // valid, inside: kept
    val df = rows.toDF("file", "stats", "blooms", "dv")
    val kept = CommitLog.zoneKeep("id", 5, 7)(df)
      .select("file").collect().map(_.getString(0)).toSet
    assert(kept === Set("f1", "f2", "f3", "f4", "f6"),
      s"corrupt stats must keep the file, valid-outside must prune: got $kept")
  }

  test("change slices plan only the streamed versions' files — the stream never rescans the base table") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1)) // v0
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1)) // v1
      CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1)) // v2
      val v2File = (CommitLog.snapshot(spark, t, Some(2L)).toSet --
        CommitLog.snapshot(spark, t, Some(1L)).toSet).head
      // THE pin: a batch over (1, 2] plans exactly v2's one file — not
      // the other two live files of the base table
      val slices = CommitLog.changeSlices(spark, t, 1L, 2L)
      assert(slices.map(s => (s.file, s.kind, s.version)) ===
        Seq((v2File, "insert", 2L)))
      assert(slices.forall(_.dvDiff.isEmpty))
      // the vacuum completeness gate guards the stream planner too
      CommitLog.vacuum(spark, t, keepFrom = 2L)
      val e = intercept[IllegalStateException] {
        CommitLog.changeSlices(spark, t, 0L, 2L)
      }
      assert(e.getMessage.contains("no longer available"), e.getMessage)
    } finally cleanup(t)
  }

  test("staged stats from the footers equal the data pass's, in the same commit JSON") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.StructType
    val t = tempTable()
    val blockSize = "parquet.block.size"
    try {
      CommitLog.declareSchema(spark, t,
        StructType.fromDDL("i INT, l BIGINT, none INT, x DOUBLE, s STRING"))
      // column mapping: logical `ts`, physical `l` in the files and stats
      CommitLog.renameColumn(spark, t, "l", "ts")
      val df = spark.range(0, 6000, 1, 2).select(
        when(col("id") % 7 === 0, lit(null))
          .otherwise((col("id") - 3000).cast("int")).as("i"),
        (col("id") * 1000000007L - (1L << 40)).as("ts"),
        lit(null).cast("int").as("none"),
        when(col("id") === 5, lit(Double.NaN)).otherwise(col("id").cast("double")).as("x"),
        col("id").cast("string").as("s"))
      // small row groups: the footer path combines several per file
      spark.conf.set(blockSize, "8192")
      val (v1, v2) = try {
        (CommitLog.appendWithStats(spark, t, df, Seq("i", "ts", "none", "x")),
          CommitLog.appendWithStats(spark, t, df.filter(col("id") % 100 < 3), Seq("ts")))
      } finally spark.conf.unset(blockSize)
      val conf = spark.sessionState.newHadoopConf()
      val committed = CommitLog.fileStats(spark, t)
      val line = (v: Long) => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$t/_graft_log/$v%08d.json")), "UTF-8")
      def check(v: Long, statsCols: Seq[String], footerZones: Seq[String]): Unit = {
        val files = CommitLog.snapshot(spark, t, Some(v)).toSet --
          CommitLog.snapshot(spark, t, Some(v - 1))
        val parts = files.toSeq.sorted.map(f => new Path(s"$t/$f"))
        assert(parts.length === 2)
        val written = spark.read.parquet(parts.map(_.toString): _*).schema
        val (data, _) = CommitLog.dataPassMeta(spark, parts, written,
          statsCols, statsCols, rows = true, Seq.empty, 0, 0)
        val footer = CommitLog.footerStats(conf, parts, footerZones, statsCols,
          rows = true).get
        val nonFooter = statsCols.filterNot(footerZones.contains).toSet
        assert(footer === data.map { case (f, m) => f -> (m -- nonFooter) },
          "footer-derived stats differ from the data pass")
        for (p <- parts) {
          val rel = s"data/${p.getName}"
          // NaN != NaN, so the comparison is on the published text
          val want = CommitLog.jstats(Map(rel -> data(p.getName)))
          assert(CommitLog.jstats(Map(rel -> committed(rel))) === want)
          assert(line(v).contains(want.drop(1).dropRight(1)), s"v$v commit JSON of $rel")
        }
      }
      check(v1, Seq("i", "l", "none", "x"), Seq("i", "l", "none"))
      check(v2, Seq("l"), Seq("l"))
      val v1Files = CommitLog.snapshot(spark, t, Some(v1))
      val groups = v1Files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(s"$t/$f"), conf))
        try r.getFooter.getBlocks.asScala.length finally r.close()
      }
      assert(groups.forall(_ > 1), s"row groups per file: $groups")
      v1Files.foreach { f =>
        val st = committed(f)
        assert(!st.contains("none") && st(CommitLog.nonNullStat("none")) === ((0.0, 0.0)))
        assert(st(CommitLog.RowCountStat) === ((3000.0, 3000.0)))
        assert(st.contains("l") && !st.contains("ts"), "stats keyed by the physical name")
      }
      // Spark orders NaN last: the file holding id 5 publishes a NaN max
      assert(v1Files.count(f => committed(f)("x")._2.isNaN) === 1)
      assert(CommitLog.read(spark, t).filter(col("ts").isNotNull).count() === 6180)
    } finally cleanup(t)
  }

  test("a snapshot-based commit over a version the log does not hold conflicts") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s")) // v0
      intercept[java.util.ConcurrentModificationException] {
        CommitLog.commit(spark, t, Seq.empty, Seq.empty, expectedVersion = Some(4L))
      }
      assert(CommitLog.versions(spark, t) === Seq(0L), "a conflict publishes nothing")
    } finally cleanup(t)
  }

  test("optimistic concurrency: a snapshot-based commit refuses to publish over an advanced log") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1)) // v0
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1)) // v1
      // a writer that resolved its snapshot at v0 (and computed removes
      // from it) must NOT publish over v1 — that is the lost update
      val e = intercept[java.util.ConcurrentModificationException] {
        CommitLog.commit(spark, t, Seq.empty, Seq("data/stale.parquet"),
          expectedVersion = Some(0L))
      }
      assert(e.getMessage.contains("advanced"), e.getMessage)
      assert(CommitLog.latestVersion(spark, t) === 1L, "conflict must publish nothing")
      assert(!new java.io.File(s"$t/_graft_log").listFiles
        .exists(_.getName.startsWith(".tmp")), "conflict must clean its temp file")
      // the snapshot-based public ops still publish on the happy path
      assert(CommitLog.overwrite(spark, t, Seq((9L, "z")).toDF("id", "s")) === 2L)
      assert(CommitLog.compact(spark, t, 1) === 3L)
      assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(9L))
    } finally cleanup(t)
  }

  test("merge rewrites only the touched files; DV-deleted rows never resurrect") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1))   // v0: file A
      CommitLog.append(spark, t,
        Seq((10L, "x"), (11L, "y")).toDF("k", "s").coalesce(1)) // v1: file B
      val fileA = CommitLog.snapshot(spark, t, Some(0L)).head
      val fileB = (CommitLog.snapshot(spark, t, Some(1L)).toSet - fileA).head
      // touch only file B's key range
      CommitLog.merge(spark, t,
        Seq((10L, "U", "x2")).toDF("k", "op", "s"), "k")        // v2
      val after = CommitLog.snapshot(spark, t).toSet
      assert(after.contains(fileA), "untouched file was rewritten")
      assert(!after.contains(fileB), "touched file must be replaced")
      assert(CommitLog.read(spark, t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (10L, "x2"), (11L, "y")))
      // pure-insert merge: no touched files, nothing removed
      val preInsert = CommitLog.snapshot(spark, t).toSet
      CommitLog.merge(spark, t, Seq((99L, "I", "n")).toDF("k", "op", "s"), "k") // v3
      assert(preInsert.subsetOf(CommitLog.snapshot(spark, t).toSet),
        "pure-insert merge must remove nothing")
      assert(CommitLog.read(spark, t).count() === 5)
      // DV interplay: delete k=1 (vector on file A), then merge-touch
      // k=2 — the rewrite reads THROUGH the mask, so k=1 stays gone
      CommitLog.delete(spark, t, "k = 1")                        // v4
      CommitLog.merge(spark, t, Seq((2L, "U", "b2")).toDF("k", "op", "s"), "k") // v5
      assert(CommitLog.read(spark, t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((2L, "b2"), (10L, "x2"), (11L, "y"), (99L, "n")),
        "DV-deleted row resurrected through the merge rewrite")
    } finally cleanup(t)
  }

  test("merge touch detection zone-prunes on a statted key before any scan") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.appendWithStats(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), Seq("k"))   // v0: k in [1,2]
      CommitLog.appendWithStats(spark, t,
        Seq((100L, "x"), (101L, "y")).toDF("k", "s").coalesce(1), Seq("k")) // v1: k in [100,101]
      val files = CommitLog.snapshot(spark, t)
      val lowFile = CommitLog.snapshot(spark, t, Some(0L)).head
      // changes confined to the high range: the low file is not even a
      // CANDIDATE — its zone excludes the changes' key range, so the
      // detection scan never opens it
      val keys = Seq(100L).toDF("k")
      val cands = CommitLog.mergeCandidates(spark, t, 1L, files, keys, "k")
      assert(!cands.contains(lowFile), "zone-excluded file still a candidate")
      assert(cands.length === 1)
      // end-to-end unchanged: merge result exact, low file survives
      CommitLog.merge(spark, t, Seq((100L, "U", "x2")).toDF("k", "op", "s"), "k")
      assert(CommitLog.snapshot(spark, t).contains(lowFile))
      assert(CommitLog.read(spark, t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (100L, "x2"), (101L, "y")))
      // a string-keyed change set (no castable range) keeps everything
      val allCands = CommitLog.mergeCandidates(spark, t, 1L, files,
        Seq("not-a-number").toDF("k"), "k")
      assert(allCands === files, "non-numeric keys must disable pruning, not break it")
    } finally cleanup(t)
  }

  test("vacuum's sidecar sweep skips young dv files (concurrent-delete race window)") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        spark.range(0, 100).selectExpr("id", "cast(id as string) AS s").coalesce(1))
      // an unreferenced sidecar, as a crashed delete() would leave it —
      // or one whose commit JSON is a rename away from existing
      val orphan = new java.io.File(s"$t/_graft_log/dv-orphan000000.bin")
      java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
      CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
      assert(orphan.exists,
        "sweep reaped a young sidecar inside the grace window")
      // a crashed write's staging dir: invisible to readers but leaked
      // disk — swept by vacuum once aged past the same grace window
      val staging = new java.io.File(s"$t/_staging_deadbeef")
      staging.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(staging, "part-0.parquet").toPath, Array[Byte](7))
      CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
      assert(staging.exists,
        "sweep reaped a young staging dir inside the grace window")
      spark.conf.set("spark.graft.commitlog.dvSweepGraceMs", "0")
      try {
        CommitLog.vacuum(spark, t, keepFrom = CommitLog.latestVersion(spark, t))
        assert(!orphan.exists, "aged orphan sidecar must be swept")
        assert(!staging.exists, "aged crashed-write staging dir must be swept")
        // the table still reads after the sweeps
        assert(CommitLog.read(spark, t).count() === 100)
      } finally spark.conf.unset("spark.graft.commitlog.dvSweepGraceMs")
    } finally cleanup(t)
  }

  test("cluster-by OPTIMIZE: one file per key tuple, blooms recomputed") {
    val t = tempTable()
    try {
      import spark.implicits._
      // two bloomed files of interleaved ids: zones on id span, k spans
      (0 until 2).foreach { b =>
        CommitLog.appendWithBloom(spark, t,
          Seq.tabulate(300)(i => { val id = 2L * i + b; (id, (id % 3).toInt) })
            .toDF("id", "k").coalesce(1),
          bloomCols = Seq("id"), statsCols = Seq("id"))
      }
      val v = CommitLog.optimizeClusterBy(spark, t, Seq("k"))
      // the single-shuffle rewrite must land EXACTLY one file per
      // distinct key tuple — the point-zone contract, now from one
      // job instead of one filtered scan per key
      val files = CommitLog.snapshot(spark, t, Some(v))
      assert(files.length === 3, s"expected 3 one-tuple files, got $files")
      // blooms recomputed on the rewritten files (the old files
      // carried id filters): equality pruning survives the OPTIMIZE
      val blooms = CommitLog.fileBlooms(spark, t, Some(v))
      assert(files.forall(f => blooms.get(f).exists(_.contains("id"))),
        "rewritten files lost their bloom filters")
      val hit = CommitLog.scanEquals(spark, t, "id", 123L)
      assert(hit.inputFiles.length === 1 && hit.count() === 1,
        "post-OPTIMIZE bloom pruning regressed")
      // values intact; point zones serve grouped pushdown
      assert(CommitLog.read(spark, t).count() === 600)
      val agg = spark.read.format("graft").load(t)
        .groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
      assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "reclustered table must serve grouped COUNT from metadata")
      assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
        Seq((0, 200L), (1, 200L), (2, 200L)))
    } finally cleanup(t)
  }

  test("cluster-by refuses NaN keys instead of silently dropping their rows") {
    val t = tempTable()
    try {
      import spark.implicits._
      // NaN groups in distinct but never equi-matches: proceeding
      // would drop these rows from the rewrite (data loss) — refuse
      CommitLog.append(spark, t,
        Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN)).toDF("id", "k"))
      val e = intercept[IllegalArgumentException](
        CommitLog.optimizeClusterBy(spark, t, Seq("k")))
      assert(e.getMessage.contains("NaN"))
      // nothing was committed: all three rows still read
      assert(CommitLog.read(spark, t).count() === 3)
    } finally cleanup(t)
  }

  test("claim-by-rename under real contention: concurrent appends all land exactly once") {
    val t = tempTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      import spark.implicits._
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // 8 threads x 4 blind appends racing on ONE log directory: the
      // version-claim loop must give every commit a distinct version
      // with no lost update and no duplicated rows — the atomicity the
      // whole format rests on, pinned under real thread contention
      // rather than the single-writer spec flow
      val versions = Await.result(
        Future.sequence((0 until 8).map { th =>
          Future {
            (0 until 4).map { i =>
              CommitLog.append(spark, t,
                Seq((th * 100L + i, s"t$th-$i")).toDF("id", "s").coalesce(1))
            }
          }
        }), Duration(600, "s")).flatten
      assert(versions.toSet.size === 32, s"versions collided: $versions")
      assert(versions.min === 0L && versions.max === 31L)
      val rows = CommitLog.read(spark, t).collect()
      assert(rows.length === 32, s"rows lost or duplicated: ${rows.length}")
      assert(rows.map(_.getLong(0)).toSet.size === 32)
      // history replays cleanly through every contended commit
      assert(CommitLog.read(spark, t, asOf = Some(15L)).count() === 16)
    } finally {
      pool.shutdown()
      cleanup(t)
    }
  }

  test("publishIfAbsent is a kernel-arbitrated put-if-absent: exactly one racer wins") {
    // the claim primitive WITHOUT the per-JVM claimLock in play: on a
    // local FS it is link(2), whose EEXIST is arbitrated by the
    // KERNEL, so this certifies the multi-PROCESS story too (processes
    // and threads are indistinguishable to the syscall — no JVM state
    // participates). 16 racers publish distinct payloads at ONE
    // destination; exactly one must win, the winner's payload must be
    // intact, and every loser must keep its tmp for the retry loop.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_pia_").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    try {
      for (round <- 0 until 20) {
        val dst = new org.apache.hadoop.fs.Path(dir, f"$round%08d.json")
        val tmps = (0 until 16).map { i =>
          val p = new org.apache.hadoop.fs.Path(dir, s".tmp-$round-$i")
          val out = fs.create(p, true)
          try out.write(s"""{"racer":$i}""".getBytes("UTF-8")) finally out.close()
          (i, p)
        }
        val gate = new java.util.concurrent.CountDownLatch(1)
        val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
        val threads = tmps.map { case (i, p) =>
          val th = new Thread(() => {
            gate.await()
            results.put(i, CommitLog.publishIfAbsent(fs, p, dst))
          })
          th.start(); th
        }
        gate.countDown()
        threads.foreach(_.join())
        val winners = results.asScala.collect { case (i, true) => i }.toSeq
        assert(winners.size === 1, s"round $round: winners $winners")
        val in = fs.open(dst)
        val body = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        assert(body === s"""{"racer":${winners.head}}""",
          s"round $round: published payload torn or mixed: $body")
        // losers keep their tmp files — the commit loop rewrites them
        // for the next version; the winner's tmp is consumed
        tmps.foreach { case (i, p) =>
          assert(fs.exists(p) === !winners.contains(i),
            s"round $round: tmp state wrong for racer $i")
        }
      }
    } finally {
      scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(dir), true))
    }
  }

  test("optimizeClusterBy works on tables with a date column (r13 regression)") {
    // the auto statCols collect used to include DateType, whose
    // min/max cast("double") Spark refuses — the whole OPTIMIZE died
    // with an AnalysisException on any table carrying a date
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1, java.sql.Date.valueOf("2024-01-01")),
          (1, java.sql.Date.valueOf("2024-02-02")),
          (2, java.sql.Date.valueOf("2024-03-03")))
          .toDF("k", "d").coalesce(1))
      CommitLog.optimizeClusterBy(spark, t, Seq("k"))
      val got = CommitLog.read(spark, t).collect()
      assert(got.length === 3)
      assert(got.map(_.getDate(1).toString).sorted ===
        Array("2024-01-01", "2024-02-02", "2024-03-03"))
    } finally cleanup(t)
  }

  test("vacuum preserves the newest transaction pins (r13 regression)") {
    // vacuum once rewrote the horizon line and dropped its pins field,
    // silently unpinning every transaction-pinned reader; the horizon
    // checkpoint now carries the pins
    val m = tempTable()
    try {
      CommitLog.txnCommit(spark, m, 1L, Map("index" -> 3L, "norms" -> 4L))
      CommitLog.txnCommit(spark, m, 2L, Map("index" -> 5L, "norms" -> 6L))
      val latest = CommitLog.latestVersion(spark, m)
      CommitLog.vacuum(spark, m, keepFrom = latest)
      assert(CommitLog.txnPins(spark, m) === Map("index" -> 5L, "norms" -> 6L),
        "vacuum lost the newest transaction's pins")
    } finally cleanup(m)
  }

  test("VERSION AS OF below the vacuum horizon refuses loudly (r13 regression)") {
    // with pin = -1 the resolve used to fall through to the newest
    // checkpoint and serve the LATEST snapshot labeled as the
    // requested version
    val t = tempTable()
    try {
      import spark.implicits._
      (0 to 4).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"v$i")).toDF("id", "s").coalesce(1)))
      CommitLog.vacuum(spark, t, keepFrom = 3L)
      val e = intercept[IllegalArgumentException] {
        CommitLog.read(spark, t, asOf = Some(1L)).collect()
      }
      assert(e.getMessage.contains("below the vacuum horizon"))
      // retained versions still read exactly
      assert(CommitLog.read(spark, t, asOf = Some(3L)).count() === 4)
      assert(CommitLog.read(spark, t).count() === 5)
    } finally cleanup(t)
  }

  test("the snapshot cache bounds per-table pins; evicted versions re-resolve") {
    val t = tempTable()
    try {
      import spark.implicits._
      (0 until 12).foreach { i =>
        CommitLog.append(spark, t, Seq((i.toLong, i.toString)).toDF("id", "s"))
        assert(CommitLog.read(spark, t).count() === i + 1L)
      }
      // a long-lived serving app reading "latest" across many commits
      // must not hold one resolve per version: superseded pins evict,
      // keeping the newest few for warm time travel
      val pins = CommitLog.cachedPins(spark, t)
      assert(pins.size <= 5, s"the cache holds ${pins.size} pins over 12 versions")
      // an evicted older pin is still correct — it just re-resolves
      assert(CommitLog.read(spark, t, asOf = Some(2L)).count() === 3)
      assert(CommitLog.read(spark, t, asOf = Some(0L))
        .head.getLong(0) === 0L)
    } finally cleanup(t)
  }

  test("a table re-created at the same path serves the new incarnation") {
    val t = tempTable()
    try {
      import spark.implicits._
      def graftAt1 = spark.read.format("graft").option("versionAsOf", "1").load(t)
      (0 until 3).foreach(i => CommitLog.appendWithStats(spark, t,
        Seq((i.toLong, s"a$i")).toDF("id", "s"), Seq("id")))
      assert(graftAt1.count() === 2)
      val oldFiles = CommitLog.snapshot(spark, t, Some(1L))
      assert(CommitLog.fileStats(spark, t, Some(1L)).keySet === oldFiles.toSet)
      assert(CommitLog.tableSchema(spark, t, Some(1L)).isEmpty)
      // drop it and build a different table at the same path and versions
      cleanup(t)
      val schema2 = new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("y", "string")
      CommitLog.declareSchema(spark, t, schema2)
      CommitLog.appendWithStats(spark, t, Seq((100L, "b")).toDF("k", "y"), Seq("k"))
      CommitLog.appendWithStats(spark, t, Seq((200L, "c")).toDF("k", "y"), Seq("k"))
      assert(graftAt1.columns.toSeq === Seq("k", "y"))
      assert(graftAt1.collect().map(_.getLong(0)).toSeq === Seq(100L))
      val newFiles = CommitLog.snapshot(spark, t, Some(1L))
      assert(newFiles.size === 1 && newFiles.toSet.intersect(oldFiles.toSet).isEmpty)
      val stats = CommitLog.fileStats(spark, t, Some(1L))
      assert(stats.keySet === newFiles.toSet)
      assert(stats(newFiles.head)("k") === ((100.0, 100.0)))
      assert(CommitLog.tableSchema(spark, t, Some(1L)) === Some(schema2))
    } finally cleanup(t)
  }

  test("a long metadata-only run keeps the table's snapshot cache bounded") {
    val t = tempTable()
    // each commit and each first resolve lists the log, so the run is
    // quadratic in n: 300 versions take ~20 s, 1000 about 4 min
    val n = 300
    // no parquet checkpoints: every version is a pure JSON replay, so
    // the run costs file reads, not a Spark job per version
    spark.conf.set("spark.graft.commitlog.checkpointInterval", "0")
    try {
      import spark.implicits._
      CommitLog.appendWithBloom(spark, t, Seq((1L, "a")).toDF("id", "s"),
        bloomCols = Seq("s"), statsCols = Seq("id"))
      (1 until n).foreach(_ =>
        CommitLog.commit(spark, t, Seq.empty, Seq.empty, dataChange = false))
      assert(CommitLog.latestVersion(spark, t) === n - 1L)
      val file = CommitLog.snapshot(spark, t, Some(0L)).head
      var peak = 0
      (0 until n).foreach { v =>
        val at = Some(v.toLong)
        assert(CommitLog.snapshot(spark, t, at) === Seq(file))
        assert(CommitLog.fileStats(spark, t, at).keySet === Set(file))
        assert(CommitLog.fileBlooms(spark, t, at)(file).keySet === Set("s"))
        assert(CommitLog.deletionVectorRefs(spark, t, at).isEmpty)
        assert(CommitLog.tableSchema(spark, t, at).isEmpty)
        assert(CommitLog.constraints(spark, t, at).isEmpty)
        peak = math.max(peak, CommitLog.cachedPins(spark, t).size)
      }
      assert(peak <= 5, s"the cache held $peak pins of one table")
    } finally {
      spark.conf.unset("spark.graft.commitlog.checkpointInterval")
      cleanup(t)
    }
  }

  test("a version past the newest commit is refused, not served as the latest") {
    val t = tempTable()
    try {
      import spark.implicits._
      (0 until 2).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s")))
      val future = CommitLog.latestVersion(spark, t) + 3
      Seq[() => Any](() => CommitLog.read(spark, t, Some(future)),
        () => CommitLog.snapshot(spark, t, Some(future)),
        () => CommitLog.fileStats(spark, t, Some(future))).foreach { f =>
        val e = intercept[IllegalArgumentException](f())
        assert(e.getMessage.contains(s"no version $future"))
      }
      // once the log reaches that version it serves its own state
      (2 until 5).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s")))
      assert(CommitLog.read(spark, t, Some(future)).count() === future + 1)
      assert(CommitLog.snapshot(spark, t, Some(future)).size === future + 1)
    } finally cleanup(t)
  }

  test("a resolved snapshot still answers after vacuum drops its checkpoint") {
    val t = tempTable()
    spark.conf.set("spark.graft.commitlog.checkpointInterval", "3")
    try {
      import spark.implicits._
      (0 until 6).foreach(i => CommitLog.appendWithBloom(spark, t,
        Seq((i.toLong, s"r$i")).toDF("id", "s"), bloomCols = Seq("s"),
        statsCols = Seq("id")))
      // resolve v5 over the checkpoint at v3; only the file list is read
      val files = CommitLog.snapshot(spark, t, Some(5L))
      assert(CommitLog.resolve(spark, t, Some(5L)).cp === Some(3L))
      CommitLog.vacuum(spark, t, keepFrom = 4L)
      assert(!CommitLog.checkpointVersions(spark, t).contains(3L))
      val stats = CommitLog.fileStats(spark, t, Some(5L))
      assert(stats.keySet === files.toSet)
      assert(stats.values.map(_("id")._1).toSet === (0 until 6).map(_.toDouble).toSet)
      val blooms = CommitLog.fileBlooms(spark, t, Some(5L))
      assert(blooms.keySet === files.toSet && blooms.values.forall(_.contains("s")))
      assert(CommitLog.deletionVectorRefs(spark, t, Some(5L)).isEmpty)
      assert(CommitLog.read(spark, t, Some(5L)).count() === 6)
    } finally {
      spark.conf.unset("spark.graft.commitlog.checkpointInterval")
      cleanup(t)
    }
  }

  test("a staged commit reads its part files without the ignored-paths warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val ignored = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-staging-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("All paths were ignored")) ignored.add(msg)
      }
    }
    Configurator.setLevel("org.apache.spark.sql.execution.datasources.DataSource", Level.WARN)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    capture.start()
    ctx.getConfiguration.getRootLogger.addAppender(capture, null, null)
    ctx.updateLoggers()
    val t = tempTable()
    try {
      import spark.implicits._
      // positive control: a hidden-named directory is what Spark ignores
      val hidden = s"$t/_hidden"
      Seq(1L).toDF("id").write.parquet(hidden)
      spark.read.parquet(hidden)
      assert(ignored.size === 1)
      ignored.clear()
      CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
      CommitLog.replaceRange(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
        "id", 0.0, 10.0)
      CommitLog.replaceRange(spark, t, Seq((3L, "c")).toDF("id", "s"),
        "id", 0.0, 10.0)
      assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(3L))
      assert(ignored.isEmpty, ignored.toArray.mkString("\n"))
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender("graft-staging-capture")
      ctx.updateLoggers()
      capture.stop()
      cleanup(t)
    }
  }
}
