package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.operators.CommitLog
import graft.sources.grafttable.{GraftScan, GraftScanBuilder}

/** The `graft` batch DSv2 source: result parity with CommitLog.read,
  * pushdown-driven file pruning (zones + blooms), row-group skipping
  * with exact DV ordinals, column pruning incl. the page-free count
  * path, time travel options, and declared-schema null-fill. */
class GraftSourceSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("graft_src_").toString

  private def cleanup(p: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    ()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("reads a table with full parity to CommitLog.read") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x"))
      CommitLog.append(spark, t, Seq((3L, "c", 3.5)).toDF("id", "s", "x"))
      val viaSource = spark.read.format("graft").load(t)
      assert(viaSource.schema === CommitLog.read(spark, t).schema)
      assert(sortedRows(viaSource) === sortedRows(CommitLog.read(spark, t)))
    } finally cleanup(t)
  }

  test("pushed range filter prunes files by logged zones; result identical") {
    val t = tempTable()
    try {
      import spark.implicits._
      // three files with disjoint id extents, zones logged per file
      Seq(0L, 100L, 200L).foreach { base =>
        CommitLog.appendWithStats(spark, t,
          Seq.tabulate(50)(i => (base + i, s"r${base + i}")).toDF("id", "s")
            .coalesce(1), statsCols = Seq("id"))
      }
      val v = CommitLog.latestVersion(spark, t)
      val schema = spark.read.format("graft").load(t).schema

      // plan-level pin: only the middle file survives a [100, 149] push
      val sb = new GraftScanBuilder(t, v, schema)
      sb.pushFilters(Array(GreaterThanOrEqual("id", 100L),
        LessThanOrEqual("id", 149L)))
      val parts = sb.build().asInstanceOf[GraftScan].planInputPartitions()
      assert(parts.length === 1, s"expected 1 surviving file, got ${parts.length}")

      // end-to-end: same rows as an unpruned scan-and-filter
      val got = spark.read.format("graft").load(t)
        .filter(col("id") >= 100L && col("id") <= 149L)
      val want = CommitLog.read(spark, t)
        .filter(col("id") >= 100L && col("id") <= 149L)
      assert(sortedRows(got) === sortedRows(want))
      assert(got.count() === 50)
    } finally cleanup(t)
  }

  test("pushed string equality prunes files by logged blooms") {
    val t = tempTable()
    try {
      import spark.implicits._
      Seq("alpha", "beta", "gamma").zipWithIndex.foreach { case (tag, i) =>
        CommitLog.appendWithBloom(spark, t,
          Seq.tabulate(40)(j => (i * 40L + j, s"$tag-$j")).toDF("id", "key")
            .coalesce(1), bloomCols = Seq("key"))
      }
      val v = CommitLog.latestVersion(spark, t)
      val schema = spark.read.format("graft").load(t).schema
      val sb = new GraftScanBuilder(t, v, schema)
      sb.pushFilters(Array(EqualTo("key", "beta-7")))
      val parts = sb.build().asInstanceOf[GraftScan].planInputPartitions()
      assert(parts.length === 1, s"expected 1 surviving file, got ${parts.length}")

      val got = spark.read.format("graft").load(t).filter(col("key") === "beta-7")
      assert(got.count() === 1)
      assert(got.head.getLong(0) === 47L)
    } finally cleanup(t)
  }

  test("row-group skipping keeps DV ordinals exact") {
    val t = tempTable()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    try {
      import spark.implicits._
      // small row groups: one file, many groups, ascending id
      hc.setInt("parquet.block.size", 32 * 1024)
      CommitLog.append(spark, t,
        spark.range(0, 60000).select(col("id"),
          concat(lit("payload-"), col("id")).as("s")).coalesce(1))
      // delete rows scattered across groups -> deletion vector
      CommitLog.delete(spark, t, "id % 1000 = 0")
      val want = CommitLog.read(spark, t)
        .filter(col("id") >= 30000L && col("id") < 31000L)
      val got = spark.read.format("graft").load(t)
        .filter(col("id") >= 30000L && col("id") < 31000L)
      // the scan's rows, summed over its tasks: groups are skipped, not
      // read and filtered (a scan of the whole file returns 59,940)
      val sc = spark.sparkContext
      val records = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      val gotRows = try {
        val r = sortedRows(got)
        org.apache.spark.ListenerBusDrain(sc)
        r
      } finally sc.removeSparkListener(listener)
      assert(records.get >= 999 && records.get < 6000,
        s"the scan read ${records.get} rows of the file's 60,000")
      assert(gotRows === sortedRows(want))
      assert(got.count() === 999) // 1000 minus the deleted 30000
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      cleanup(t)
    }
  }

  test("sidecar deletion vectors mask on the executor-side reader") {
    val t = tempTable()
    try {
      import spark.implicits._
      spark.conf.set("spark.graft.commitlog.dvInlineThreshold", "8")
      CommitLog.append(spark, t,
        spark.range(0, 5000).select(col("id"), (col("id") * 2).as("y"))
          .coalesce(1))
      CommitLog.delete(spark, t, "id % 3 = 0")
      val got = spark.read.format("graft").load(t)
      assert(got.count() === CommitLog.read(spark, t).count())
      assert(got.filter(col("id") % 3 === 0).count() === 0)
    } finally {
      spark.conf.unset("spark.graft.commitlog.dvInlineThreshold")
      cleanup(t)
    }
  }

  test("count() projection reads no pages and still respects DVs") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        spark.range(0, 1000).select(col("id"), lit("x").as("s")))
      CommitLog.delete(spark, t, "id < 100")
      assert(spark.read.format("graft").load(t).count() === 900)
    } finally cleanup(t)
  }

  test("versionAsOf and timestampAsOf pin a snapshot") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
      assert(spark.read.format("graft").option("versionAsOf", "0")
        .load(t).count() === 1)
      val ts0 = CommitLog.commitTimestampMillis(spark, t, 0L).get
      assert(spark.read.format("graft").option("timestampAsOf", ts0.toString)
        .load(t).count() === 1)
      intercept[IllegalArgumentException] {
        spark.read.format("graft").option("versionAsOf", "0")
          .option("timestampAsOf", ts0.toString).load(t).count()
      }
    } finally cleanup(t)
  }

  test("declared-schema evolution null-fills pre-evolution files") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("s", StringType))))
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      CommitLog.evolveSchema(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("s", StringType),
        StructField("score", DoubleType))))
      CommitLog.append(spark, t, Seq((2L, "b", 0.5)).toDF("id", "s", "score"))
      val got = spark.read.format("graft").load(t).orderBy("id").collect()
      assert(got.length === 2)
      assert(got(0).isNullAt(2))
      assert(got(1).getDouble(2) === 0.5)
    } finally cleanup(t)
  }

  test("df.write.format(graft) appends and overwrites through the log") {
    val t = tempTable()
    try {
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .write.format("graft").mode("append").save(t)
      Seq((3L, "c")).toDF("id", "s")
        .write.format("graft").mode("append").save(t)
      assert(CommitLog.latestVersion(spark, t) === 1L)
      assert(CommitLog.read(spark, t).count() === 3)
      // overwrite = truncate-and-replace in ONE commit; history intact
      Seq((9L, "z")).toDF("id", "s")
        .write.format("graft").mode("overwrite").save(t)
      assert(CommitLog.read(spark, t).count() === 1)
      assert(CommitLog.read(spark, t, asOf = Some(1L)).count() === 3)
    } finally cleanup(t)
  }

  test("write options publish zone maps and blooms in the same commit") {
    val t = tempTable()
    try {
      import spark.implicits._
      Seq.tabulate(3) { i =>
        Seq.tabulate(20)(j => (i * 100L + j, s"k${i * 100 + j}"))
          .toDF("id", "key").coalesce(1)
      }.foreach(_.write.format("graft").mode("append")
        .option("statsCols", "id").option("bloomCols", "key").save(t))
      val v = CommitLog.latestVersion(spark, t)
      val schema = spark.read.format("graft").load(t).schema
      // the logged metadata actually skips: one file survives each shape
      val zb = new GraftScanBuilder(t, v, schema)
      zb.pushFilters(Array(GreaterThanOrEqual("id", 100L),
        LessThanOrEqual("id", 119L)))
      assert(zb.build().asInstanceOf[GraftScan].planInputPartitions().length === 1)
      val bb = new GraftScanBuilder(t, v, schema)
      bb.pushFilters(Array(EqualTo("key", "k205")))
      assert(bb.build().asInstanceOf[GraftScan].planInputPartitions().length === 1)
      // a key in NO file blooms out everything — zero partitions planned
      val nb = new GraftScanBuilder(t, v, schema)
      nb.pushFilters(Array(EqualTo("key", "absent")))
      assert(nb.build().asInstanceOf[GraftScan].planInputPartitions().length === 0)
    } finally cleanup(t)
  }

  test("declared-schema gate applies to DSv2 writes") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("s", StringType))))
      intercept[IllegalArgumentException] {
        Seq((1L, 2.5)).toDF("id", "wrong")
          .write.format("graft").mode("append").save(t)
      }
      assert(CommitLog.snapshot(spark, t).isEmpty) // nothing published
    } finally cleanup(t)
  }

  test("writeStream.format(graft): exactly-once appends with inline stats/blooms") {
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_sink_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      Seq.tabulate(50)(i => (i.toLong, s"k$i")).toDF("id", "key")
        .coalesce(1).write.parquet(s"$in/b0")
      def runOnce(): Unit = {
        val q = spark.readStream.schema("id LONG, key STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .option("statsCols", "id").option("bloomCols", "key")
          .trigger(Trigger.AvailableNow()).start(t)
        q.awaitTermination()
      }
      runOnce()
      assert(CommitLog.read(spark, t).count() === 50)
      // the commit carries the batchId ledger entry + skipping metadata
      assert(CommitLog.committedBatchIds(spark, t).nonEmpty)
      val stats = CommitLog.fileStats(spark, t)
      assert(stats.values.exists(_.get("id").contains((0.0, 49.0))))
      // the inline-built bloom actually skips: a probe for an absent
      // key prunes every file
      assert(CommitLog.scanEquals(spark, t, "key", "absent").count() === 0)
      assert(CommitLog.scanEquals(spark, t, "key", "k7").count() === 1)
      // second batch through the SAME checkpoint: only new rows land
      Seq.tabulate(10)(i => (100L + i, s"k${100 + i}")).toDF("id", "key")
        .coalesce(1).write.parquet(s"$in/b1")
      runOnce()
      assert(CommitLog.read(spark, t).count() === 60)
      // re-running with nothing new lands nothing
      runOnce()
      assert(CommitLog.read(spark, t).count() === 60)
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("streaming sink replay: a committed epoch's re-staged files are dropped") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      // stamp epoch 7 into the ledger the way a successful publish does
      CommitLog.commit(spark, t, Seq.empty, Seq.empty, batchId = Some(7L))
      val v = CommitLog.latestVersion(spark, t)
      // simulate the replayed epoch: a freshly staged file + commit(7)
      val staged = s"${"data"}/replayed-s0.parquet"
      Seq((2L, "b")).toDF("id", "s").coalesce(1)
        .write.parquet(s"$t/_replay_tmp")
      val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/_replay_tmp"))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(t, staged))
      new graft.sources.grafttable.GraftStreamingWrite(t,
        StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
        Seq.empty, Seq.empty, 1 << 16, 5, truncateEachEpoch = false,
        queryId = "q-replay")
        .commit(7L, Array(graft.sources.grafttable.GraftFileMessage(
          staged, 1L, Map.empty, Map.empty)))
      // no new version, and the re-staged file is gone
      assert(CommitLog.latestVersion(spark, t) === v)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(t, staged)))
      assert(CommitLog.read(spark, t).count() === 1)
    } finally cleanup(t)
  }

  test("streaming Complete mode replaces the table per epoch") {
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_cmpl_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cmpl_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      Seq.tabulate(30)(i => (i.toLong % 3, 1L)).toDF("grp", "n")
        .coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema("grp LONG, n LONG").parquet(s"$in/*")
        .groupBy(col("grp")).agg(count(lit(1)).as("cnt"))
        .writeStream.format("graft").outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
      val got = CommitLog.read(spark, t).orderBy("grp").collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("streamed files round-trip timestamps and arrays bit-exactly") {
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_rt_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rt_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val src = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
          java.sql.Date.valueOf("2024-01-02"), Array(1.5f, -2.5f), "héllo"),
        (2L, java.sql.Timestamp.valueOf("2024-06-07 08:09:10.5"),
          java.sql.Date.valueOf("2024-06-07"), Array.empty[Float], ""))
        .toDF("id", "ts", "d", "vec", "s")
      src.coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema(src.schema).parquet(s"$in/*")
        .writeStream.format("graft").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
      assert(sortedRows(CommitLog.read(spark, t)) === sortedRows(src))
      // and through the DSv2 read path too
      assert(sortedRows(spark.read.format("graft").load(t)) === sortedRows(src))
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("streaming sink refuses an epoch violating a CHECK constraint") {
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_cons_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cons_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("score", DoubleType))))
      CommitLog.addConstraint(spark, t, "score_unit", "score >= 0 AND score <= 1")
      Seq((1L, 0.5), (2L, 7.5)).toDF("id", "score")
        .coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema("id LONG, score DOUBLE").parquet(s"$in/*")
        .writeStream.format("graft").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(t)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      assert(e.getMessage.contains("constraint violation") ||
        Option(e.getCause).exists(_.getMessage.contains("constraint violation")))
      assert(CommitLog.snapshot(spark, t).isEmpty) // nothing published
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("readStream.format(graft): snapshot batch then per-commit increments") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
      CommitLog.delete(spark, t, "id = 2") // snapshot must read through the DV
      val q = spark.readStream.format("graft").load(t)
        .writeStream.format("memory").queryName("tbl_stream").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("SELECT id FROM tbl_stream").collect()
          .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
        // appends stream incrementally — each exactly once
        CommitLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
        CommitLog.append(spark, t, Seq((5L, "e")).toDF("id", "s"))
        q.processAllAvailable()
        assert(spark.sql("SELECT id FROM tbl_stream").collect()
          .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
      } finally q.stop()
    } finally cleanup(t)
  }

  test("table stream refuses deletes unless ignoreDeletes; changes feed covers CDC") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      val q = spark.readStream.format("graft").load(t)
        .writeStream.format("memory").queryName("tbl_del").start()
      try {
        q.processAllAvailable()
        CommitLog.delete(spark, t, "id = 1")
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
          q.awaitTermination(2000)
          throw new IllegalStateException("stream survived a delete")
        }
        assert(e.getMessage.contains("append-only") ||
          Option(e.getCause).exists(_.getMessage.contains("append-only")))
      } finally q.stop()
      // opted in: the delete version is dropped, later appends flow
      val q2 = spark.readStream.format("graft")
        .option("startingVersion", "0").option("ignoreDeletes", "true").load(t)
        .writeStream.format("memory").queryName("tbl_del_ok").start()
      try {
        CommitLog.append(spark, t, Seq((9L, "z")).toDF("id", "s"))
        q2.processAllAvailable()
        assert(spark.sql("SELECT id FROM tbl_del_ok").collect()
          .map(_.getLong(0)).sorted.toSeq === Seq(1L, 9L))
      } finally q2.stop()
    } finally cleanup(t)
  }

  test("medallion composition: table stream in, graft sink out, exactly-once") {
    val bronze = tempTable()
    val silver = tempTable()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_med_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      CommitLog.append(spark, bronze,
        Seq.tabulate(20)(i => (i.toLong, i * 2.0)).toDF("id", "x"))
      def sync(): Unit = {
        val q = spark.readStream.format("graft").load(bronze)
          .filter(col("id") % 2 === 0)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start(silver)
        q.awaitTermination()
      }
      sync()
      assert(CommitLog.read(spark, silver).count() === 10)
      CommitLog.append(spark, bronze,
        Seq((100L, 1.0), (101L, 2.0)).toDF("id", "x"))
      sync()
      assert(CommitLog.read(spark, silver).count() === 11)
      sync() // nothing new: nothing lands
      assert(CommitLog.read(spark, silver).count() === 11)
      assert(sortedRows(CommitLog.read(spark, silver)) ===
        sortedRows(CommitLog.read(spark, bronze).filter(col("id") % 2 === 0)))
    } finally { cleanup(bronze); cleanup(silver); cleanup(ckpt) }
  }

  test("array columns read through (embeddings-shaped tables)") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
          .toDF("id", "vec"))
      val got = spark.read.format("graft").load(t).orderBy("id").collect()
      assert(got.map(_.getSeq[Float](1).toSeq).toSeq ===
        Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)))
    } finally cleanup(t)
  }

  test("DECIMAL columns decode at the file scale, rescaled to the declared type") {
    val t = tempTable()
    try {
      import spark.implicits._
      // Spark writes BigDecimal as decimal(38,18) FLBA: the reader
      // must interpret the unscaled bytes at the FILE's scale, then
      // rescale to the declared DECIMAL(10,2) — same numeric value
      CommitLog.append(spark, t,
        Seq((1L, BigDecimal("123.45")), (2L, BigDecimal("-0.05")))
          .toDF("id", "amt"))
      CommitLog.declareSchema(spark, t,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, amt DECIMAL(10,2)"))
      val got = spark.read.format("graft").load(t).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
      assert(got.toSeq === Seq((1L, "123.45"), (2L, "-0.05")))
    } finally cleanup(t)
  }

  test("timestamp-annotated INT64 rescales by the FILE unit under both declared timestamp types") {
    // ADVICE r13 #1: a MILLIS-annotated file read under a declared
    // TimestampNTZ schema fell through to the raw branch and served
    // 1000x-off values; NTZ must rescale by the file's declared unit
    // exactly like TimestampType (the NTZ/instant distinction is zone
    // interpretation, not physical unit).
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val t = tempTable()
    try {
      val fileSchema = Types.buildMessage()
        .addField(Types.required(PrimitiveTypeName.INT64).named("id"))
        .addField(Types.required(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MILLIS))
          .named("ts"))
        .named("t")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(fileSchema, conf)
      val rel = "part-00000-ntz-millis.parquet"
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(t, rel), conf))
        .withConf(conf).build()
      val gf = new SimpleGroupFactory(fileSchema)
      val ms = 1700000000123L // 2023-11-14T22:13:20.123Z, sub-second tail
      val g = gf.newGroup(); g.add("id", 1L); g.add("ts", ms); w.write(g)
      w.close()
      CommitLog.commit(spark, t, Seq(rel), Seq.empty)
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType),
        StructField("ts", org.apache.spark.sql.types.TimestampNTZType))))
      val ntz = spark.read.format("graft").load(t).select(col("ts")).head()
      // LocalDateTime is TZ-free: compare the fields directly
      val ldt = ntz.getAs[java.time.LocalDateTime]("ts")
      assert(ldt === java.time.LocalDateTime.ofEpochSecond(
        ms / 1000, (ms % 1000).toInt * 1000000, java.time.ZoneOffset.UTC),
        s"NTZ must rescale MILLIS->micros, got $ldt")
      // declared TimestampType over the same file rescales identically
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType),
        StructField("ts", org.apache.spark.sql.types.TimestampType))))
      val inst = spark.read.format("graft").load(t)
        .select(unix_micros(col("ts")).as("us")).head().getLong(0)
      assert(inst === ms * 1000L, s"instant rescale broke: $inst")
    } finally cleanup(t)
  }

  test("MIN/MAX pushdown answers from zone maps with zero data-file opens") {
    val t = tempTable()
    try {
      import spark.implicits._
      val df = Seq((1L, 10.5, 3), (7L, -2.25, 9), (4L, 99.0, 1)).toDF("id", "x", "k")
      // two appends, both publishing zones for every column
      CommitLog.appendWithBloom(spark, t, df.filter(col("id") < 5),
        Seq.empty, Seq("id", "x", "k"))
      CommitLog.appendWithBloom(spark, t, df.filter(col("id") >= 5),
        Seq.empty, Seq("id", "x", "k"))
      val agg = spark.read.format("graft").load(t)
        .agg(min(col("id")), max(col("id")), min(col("x")), max(col("x")),
          max(col("k")), count(lit(1)))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("GraftAggScan"),
        s"MIN/MAX/COUNT did not push to the zone-serving scan:\n$plan")
      assert(!plan.contains(".parquet"), s"agg plan still opens data files:\n$plan")
      val r = agg.head()
      assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4), r.getLong(5)) === ((1L, 7L, -2.25, 99.0, 9, 3L)))
      // a DV at the head version forfeits MIN/MAX: fall back to the
      // ordinary scan AND stay correct
      CommitLog.delete(spark, t, "id = 7")
      val agg2 = spark.read.format("graft").load(t).agg(max(col("id")))
      assert(!agg2.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "DV-bearing snapshot must not serve MIN/MAX from zones")
      assert(agg2.head().getLong(0) === 4L)
      // COUNT(*) stays metadata-served: logged counts minus the DV
      // popcount, still zero data-file opens
      val cnt = spark.read.format("graft").load(t).agg(count(lit(1)))
      assert(cnt.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "DV-exact COUNT must still serve from metadata")
      assert(cnt.head().getLong(0) === 2L)
      // a filtered aggregate keeps the ordinary path (filters are
      // residual here, so Spark never offers the aggregate)
      val agg3 = spark.read.format("graft").load(t)
        .filter(col("k") > 0).agg(min(col("id")))
      assert(!agg3.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      assert(agg3.head().getLong(0) === 1L)
    } finally cleanup(t)
  }

  test("grouped pushdown declines when the group column is not provably null-free") {
    // REGRESSION (r13 review): zones skip NULLs, so a file holding
    // (g=5),(g=NULL) has a POINT zone for g — serving the grouped
    // answer from metadata would fold the NULL rows into group 5 and
    // drop the NULL group entirely. The null-free proof (__nn == __rows)
    // must gate the pushdown.
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.appendWithStats(spark, t,
        Seq((Some(5), 1L), (None, 9L)).toDF("g", "x").coalesce(1), Seq("g", "x"))
      val agg = spark.read.format("graft").load(t)
        .groupBy(col("g")).agg(max(col("x")).as("hi"))
      assert(!agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "NULL-bearing group column must not serve from metadata")
      val got = agg.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> r.getLong(1)).toMap
      assert(got === Map(Some(5) -> 1L, None -> 9L),
        "grouped answer with NULL group wrong")
      // a genuinely null-free file still serves from metadata
      val t2 = tempTable()
      try {
        CommitLog.appendWithStats(spark, t2,
          Seq((5, 1L), (5, 2L)).toDF("g", "x").coalesce(1), Seq("g", "x"))
        val a2 = spark.read.format("graft").load(t2)
          .groupBy(col("g")).agg(max(col("x")).as("hi"))
        assert(a2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
        assert(a2.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
          Seq((5, 2L)))
      } finally cleanup(t2)
    } finally cleanup(t)
  }

  test("streaming sink: a NaN poisons the column's zone instead of narrowing it") {
    // REGRESSION (r13 review): Spark orders NaN above every double, so
    // a streamed zone that silently skipped NaN rows would let a
    // `c > hi` filter prune a file whose NaN rows satisfy it
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_nan_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nan_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      Seq((1L, 1.0), (2L, 5.0), (3L, Double.NaN)).toDF("id", "c")
        .coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema("id LONG, c DOUBLE").parquet(s"$in/*")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("statsCols", "c")
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
      // the NaN row must survive a range filter that would prune the
      // file under a NaN-skipping [1,5] zone (NaN > 100 is TRUE)
      val got = spark.read.format("graft").load(t)
        .filter(col("c") > 100.0).collect()
      assert(got.length === 1 && got(0).getLong(0) === 3L,
        "NaN row pruned away by a NaN-skipping streamed zone")
      // and the c zone is absent for that file (poisoned, unprunable)
      assert(!CommitLog.fileStats(spark, t).values.exists(_.contains("c")),
        "a NaN-bearing file must publish no zone for that column")
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("streaming sink ledger is app-qualified: a second query's epoch 0 lands") {
    // REGRESSION (r13 review): two different streaming queries both
    // number their epochs from 0; a bare-epoch ledger discarded the
    // second query's first batches as replays of the first's
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_app_in_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(s"$in/b0")
      def runFresh(): Unit = {
        // a FRESH checkpoint each time = a new queryId = a new writer
        val q = spark.readStream.schema("id LONG, s STRING").parquet(s"$in/*")
          .writeStream.format("graft")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_app_ck_").toString)
          .trigger(Trigger.AvailableNow()).start(t)
        q.awaitTermination()
      }
      runFresh()
      assert(CommitLog.read(spark, t).count() === 1)
      runFresh() // different query, same epoch number, same input
      assert(CommitLog.read(spark, t).count() === 2,
        "a second query's epoch 0 was discarded as the first's replay")
      // both ledger entries carry distinct writer identities
      val apps = CommitLog.committedBatches(spark, t).map(_._1)
      assert(apps.size === 2 && apps.forall(_.isDefined))
    } finally { cleanup(t); cleanup(in) }
  }

  test("streaming sink: subset-schema write passes a constraint on an omitted column") {
    // REGRESSION (r13 review): the staged-file gate read under the
    // WRITE schema, so a constraint referencing a legally-omitted
    // column failed to resolve (AnalysisException + leaked staging)
    // instead of evaluating against NULL like the batch path
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_sub_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sub_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("a", LongType), StructField("b", LongType))))
      CommitLog.addConstraint(spark, t, "b_pos", "b > 0 OR b IS NULL")
      Seq(Tuple1(1L), Tuple1(2L)).toDF("a").coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema("a LONG").parquet(s"$in/*")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
      val rows = spark.read.format("graft").load(t)
      assert(rows.count() === 2)
      assert(rows.select("b").collect().forall(_.isNullAt(0)),
        "omitted column must null-fill")
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("streamed files carry __rows and __nn_ like batch-staged ones") {
    // REGRESSION (r13 review): the streaming writer dropped the
    // reserved stats, so COW rewrites through it stripped COUNT(*)
    // pushdown and the grouped null-free proof from rewritten files
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_rows_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rows_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      Seq((7, 1L), (7, 2L)).toDF("g", "x")
        .coalesce(1).write.parquet(s"$in/b0")
      val q = spark.readStream.schema("g INT, x LONG").parquet(s"$in/*")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("statsCols", "g,x")
        .trigger(Trigger.AvailableNow()).start(t)
      q.awaitTermination()
      val st = CommitLog.fileStats(spark, t).values.head
      assert(st.get(CommitLog.RowCountStat).contains((2.0, 2.0)),
        s"__rows missing from streamed stats: $st")
      assert(st.get(CommitLog.nonNullStat("g")).contains((2.0, 2.0)),
        s"__nn_g missing from streamed stats: $st")
      // and the grouped pushdown serves from the streamed file alone
      val agg = spark.read.format("graft").load(t)
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "streamed file must support the grouped metadata serve")
      assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
        Seq((7, 2L)))
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("GROUP BY a point-zone column answers from zone maps with zero file opens") {
    val t = tempTable()
    try {
      import spark.implicits._
      val df = Seq((1L, 0), (7L, 0), (4L, 1), (9L, 1), (2L, 2))
        .toDF("id", "k")
      // one commit per k, one FILE per commit (coalesce): every file's
      // zone for k is a point while its id zone genuinely spans
      (0 to 2).foreach(i =>
        CommitLog.appendWithStats(spark, t,
          df.filter(col("k") === i).coalesce(1), Seq("k", "id")))
      val agg = spark.read.format("graft").load(t)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("lo"), max(col("id")).as("hi"))
        .orderBy(col("k"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("GraftAggScan"),
        s"grouped MIN/MAX/COUNT did not push to the zone-serving scan:\n$plan")
      assert(!plan.contains(".parquet"), s"grouped agg plan still opens data files:\n$plan")
      val got = agg.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq === Seq((0, 2L, 1L, 7L), (1, 2L, 4L, 9L), (2, 1L, 2L, 2L)))
      // grouping by a column whose zones SPAN (id) must decline and
      // stay correct through the ordinary scan
      val span = spark.read.format("graft").load(t)
        .groupBy(col("id")).agg(count(lit(1)).as("n"))
      assert(!span.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "span-zone group column must not serve from metadata")
      assert(span.count() === 5)
      // an unsupported aggregate (SUM) in the grouped list declines
      val withSum = spark.read.format("graft").load(t)
        .groupBy(col("k")).agg(sum(col("id")).as("s"))
      assert(!withSum.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      assert(withSum.count() === 3)
      // a DV forfeits grouped MIN/MAX but grouped COUNT stays
      // metadata-served and DV-exact for the group it touches
      CommitLog.delete(spark, t, "id = 7")
      val gmm = spark.read.format("graft").load(t)
        .groupBy(col("k")).agg(max(col("id")).as("hi"))
      assert(!gmm.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "DV-bearing snapshot must not serve grouped MIN/MAX from zones")
      val gcnt = spark.read.format("graft").load(t)
        .groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
      assert(gcnt.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "grouped DV-exact COUNT must still serve from metadata")
      assert(gcnt.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
        Seq((0, 1L), (1, 2L), (2, 1L)))
      // deleting EVERY row of one cluster key leaves its file live
      // (deleteWhere keeps fully-covered files) — grouped COUNT must
      // OMIT that group, not emit a phantom count=0 row
      CommitLog.delete(spark, t, "id = 2")
      val gone = spark.read.format("graft").load(t)
        .groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
      assert(gone.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "fully-deleted group must not forfeit metadata serving for the others")
      assert(gone.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
        Seq((0, 1L), (1, 2L)),
        "GROUP BY must omit the all-rows-deleted group entirely")
    } finally cleanup(t)
  }

  test("multi-column GROUP BY serves when every group column is a point zone") {
    val t = tempTable()
    try {
      import spark.implicits._
      val df = Seq((1L, 0, 10), (7L, 0, 10), (4L, 0, 20), (9L, 1, 10), (2L, 1, 10))
        .toDF("id", "k", "j")
      // one commit per (k, j): both group columns are points per file
      Seq((0, 10), (0, 20), (1, 10)).foreach { case (k, j) =>
        CommitLog.appendWithStats(spark, t,
          df.filter(col("k") === k && col("j") === j).coalesce(1),
          Seq("k", "j", "id"))
      }
      val agg = spark.read.format("graft").load(t)
        .groupBy(col("k"), col("j"))
        .agg(count(lit(1)).as("n"), max(col("id")).as("hi"))
        .orderBy(col("k"), col("j"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("GraftAggScan"),
        s"two-column point-zone grouping did not push:\n$plan")
      assert(!plan.contains(".parquet"), s"plan opens data files:\n$plan")
      assert(agg.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq ===
        Seq((0, 10, 2L, 7L), (0, 20, 1L, 4L), (1, 10, 2L, 9L)))
      // one span column in the mix declines the whole pushdown
      val span = spark.read.format("graft").load(t)
        .groupBy(col("k"), col("id")).agg(count(lit(1)).as("n"))
      assert(!span.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      assert(span.count() === 5)
    } finally cleanup(t)
  }

  test("storage-partitioned join: co-clustered tables join with no shuffle") {
    val t1 = tempTable(); val t2 = tempTable()
    val keep = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      import spark.implicits._
      val a = Seq((0, 1L), (0, 2L), (1, 3L), (2, 4L), (3, 5L)).toDF("k", "va")
      val bd = Seq((0, 10L), (1, 11L), (2, 12L), (3, 13L), (3, 14L)).toDF("k", "vb")
      // both tables one-commit-per-k: every file's k zone is a point
      (0 to 3).foreach { k =>
        CommitLog.appendWithStats(spark, t1, a.filter(col("k") === k).coalesce(1), Seq("k"))
        CommitLog.appendWithStats(spark, t2, bd.filter(col("k") === k).coalesce(1), Seq("k"))
      }
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = spark.read.format("graft").option("clusterBy", "k").load(t1)
      val r = spark.read.format("graft").option("clusterBy", "k").load(t2)
      val j = l.join(r, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"no join in plan:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-clustered storage-partitioned join still shuffles:\n$plan")
      val got = j.select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
      assert(got === Set((0, 1L, 10L), (0, 2L, 10L), (1, 3L, 11L),
        (2, 4L, 12L), (3, 5L, 13L), (3, 5L, 14L)))
      // without clusterBy the same join shuffles both sides (sanity
      // that the assertion above is load-bearing)
      val plain = spark.read.format("graft").load(t1)
        .join(spark.read.format("graft").load(t2), "k")
      assert(plain.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "control join unexpectedly shuffle-free")
      // a table whose zones span must NOT report keyed partitioning —
      // one multi-k commit makes t3 unkeyed; the join stays correct
      val t3 = tempTable()
      try {
        CommitLog.appendWithStats(spark, t3, a.coalesce(1), Seq("k"))
        val u = spark.read.format("graft").option("clusterBy", "k").load(t3)
        val j2 = u.join(r, "k")
        assert(j2.count() === 6)
      } finally cleanup(t3)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      cleanup(t1); cleanup(t2)
    }
  }

  test("sort-free SPJ: constant-key ordering drops both sorts; NULL-bearing files decline") {
    val t1 = tempTable(); val t2 = tempTable()
    val keep = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      import spark.implicits._
      val a = Seq((0, 1L), (0, 2L), (1, 3L), (2, 4L)).toDF("k", "va")
      val bd = Seq((0, 10L), (1, 11L), (2, 12L)).toDF("k", "vb")
      (0 to 2).foreach { k =>
        CommitLog.appendWithStats(spark, t1, a.filter(col("k") === k).coalesce(1), Seq("k"))
        CommitLog.appendWithStats(spark, t2, bd.filter(col("k") === k).coalesce(1), Seq("k"))
      }
      // the proof rides the log: every file records __nn_k == __rows
      val st1 = CommitLog.fileStats(spark, t1, None)
      assert(st1.nonEmpty && st1.values.forall(s =>
        s.get(CommitLog.nonNullStat("k")) === s.get(CommitLog.RowCountStat)),
        s"non-null stat missing or wrong: $st1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = spark.read.format("graft").option("clusterBy", "k").load(t1)
      val r = spark.read.format("graft").option("clusterBy", "k").load(t2)
      val j = l.join(r, "k")
      val plan = j.queryExecution.executedPlan.toString
      // the full discipline: merge join with NEITHER a shuffle NOR a
      // per-partition sort on either side — constant-key partitions
      // are already ordered by the join key
      assert(plan.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"), s"still shuffles:\n$plan")
      assert(!plan.contains("Sort ["), s"sorts survived reported ordering:\n$plan")
      val got = j.select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
      assert(got === Set((0, 1L, 10L), (0, 2L, 10L), (1, 3L, 11L), (2, 4L, 12L)))
      // a file with NULL keys under a POINT zone (min/max ignore NULLs)
      // must NOT report ordering — its rows are not sorted by k — but
      // keeps keyed partitioning; the sorts come back and results stay
      // right. This is exactly the case a zone-only proof would corrupt.
      val t3 = tempTable()
      try {
        CommitLog.appendWithStats(spark, t3,
          Seq((Option(1), 30L), (Option.empty[Int], 31L), (Option(1), 32L))
            .toDF("k", "vc").coalesce(1), Seq("k"))
        val st3 = CommitLog.fileStats(spark, t3, None)
        assert(st3.values.exists(s =>
          s.get(CommitLog.nonNullStat("k")).map(_._1) === Some(2.0) &&
          s.get(CommitLog.RowCountStat).map(_._1) === Some(3.0)))
        val u = spark.read.format("graft").option("clusterBy", "k").load(t3)
        val j2 = u.join(r, "k")
        val plan2 = j2.queryExecution.executedPlan.toString
        assert(plan2.contains("Sort ["),
          s"NULL-bearing file must decline reported ordering:\n$plan2")
        val got2 = j2.select(col("k"), col("vc"), col("vb")).collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
        assert(got2 === Set((1, 30L, 11L), (1, 32L, 11L)))
      } finally cleanup(t3)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      cleanup(t1); cleanup(t2)
    }
  }

  test("partially-clustered SPJ: a hot key runs as multiple tasks, results identical") {
    val t1 = tempTable(); val t2 = tempTable()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // force the hot-group split at fixture scale
      "spark.graft.spj.splitThresholdRows" -> "10")
    val keep = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try {
      import spark.implicits._
      // fact side: key 0 is HOT — three files, 60 rows; keys 1, 2 one
      // small file each. Dim side: one small file per key.
      val hot = Seq.tabulate(60)(i => (0, i.toLong)).toDF("k", "va")
      (0 until 3).foreach(s =>
        CommitLog.appendWithStats(spark, t1,
          hot.filter(col("va") % 3 === s).coalesce(1), Seq("k")))
      Seq(1, 2).foreach(k =>
        CommitLog.appendWithStats(spark, t1,
          Seq((k, 100L + k)).toDF("k", "va").coalesce(1), Seq("k")))
      (0 to 2).foreach(k =>
        CommitLog.appendWithStats(spark, t2,
          Seq((k, 10L * k)).toDF("k", "vb").coalesce(1), Seq("k")))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = spark.read.format("graft").option("clusterBy", "k").load(t1)
      val r = spark.read.format("graft").option("clusterBy", "k").load(t2)
      val j = l.join(r, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"partially-clustered SPJ still shuffles:\n$plan")
      // the skew escape valve: the hot key's three files must NOT
      // serialize into one task — with partially-clustered
      // distribution the join runs one task per hot-side split (3 for
      // key 0) plus one per small key = 5, not one per distinct key
      val nTasks = j.queryExecution.toRdd.getNumPartitions
      assert(nTasks > 3, s"hot key still serializes: $nTasks join tasks for 3 keys")
      // results identical to the shuffled control
      val got = j.select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
      val control = spark.read.format("graft").load(t1)
        .join(spark.read.format("graft").load(t2), "k")
        .select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
      assert(got === control && got.size === 62)
      // the "never wrong" half: with partiallyClusteredDistribution
      // OFF, Spark regroups the same-key splits into one task per key
      // — splitting costs nothing when the escape valve is unused
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        "false")
      val j2 = spark.read.format("graft").option("clusterBy", "k").load(t1)
        .join(spark.read.format("graft").option("clusterBy", "k").load(t2), "k")
      assert(!j2.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "regrouped SPJ must stay shuffle-free")
      assert(j2.queryExecution.toRdd.getNumPartitions === 3,
        "same-key splits must regroup to one task per key when the valve is off")
      val got2 = j2.select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
      assert(got2 === control)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      cleanup(t1); cleanup(t2)
    }
  }

  test("cluster-by-bucket: hash buckets give metadata GROUP BY and SPJ on high-cardinality keys") {
    val t1 = tempTable(); val t2 = tempTable()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val keep = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try {
      import spark.implicits._
      // 30 distinct string keys (too many for one-file-per-tuple at a
      // 4-key budget) plus one NULL-keyed row
      val a = (0 until 30).map(i => (s"user-$i", i.toLong)).toDF("k", "va")
        .union(Seq(100L).toDF("va").select(lit(null).cast("string").as("k"), col("va")))
      CommitLog.append(spark, t1, a.repartition(3))
      // plain cluster-by at maxKeys=4 refuses: this is the gap the
      // bucket tier exists for
      intercept[IllegalArgumentException](
        CommitLog.optimizeClusterBy(spark, t1, Seq("k"), maxKeys = 4))
      val v = CommitLog.clusterByBucket(spark, t1, "k", 4)
      val files = CommitLog.snapshot(spark, t1, Some(v))
      assert(files.length <= 5, s"more files than buckets: $files")
      // grouped COUNT by bucket serves from metadata (point zones)
      val g = spark.read.format("graft").load(t1)
        .groupBy(col("k_bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("k_bucket"))
      assert(g.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "bucket GROUP BY must serve from zone metadata")
      val got = g.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got.values.sum === 31L)
      // the NULL key landed in the RESERVED bucket n (= 4)
      assert(got.get(4).contains(1L), s"NULL row not in reserved bucket: $got")
      // bucket values agree with the derived hash everywhere
      val mismatch = spark.read.format("graft").load(t1)
        .filter(col("k").isNotNull &&
          col("k_bucket") =!= pmod(xxhash64(col("k")), lit(4L)).cast("int"))
        .count()
      assert(mismatch === 0L)
      // SPJ: a co-bucketed second table joins on the bucket key with
      // no shuffle; adding k to the join keys keeps the real join
      // semantics (equal k implies equal bucket)
      val b = (0 until 30 by 2).map(i => (s"user-$i", i * 10L)).toDF("k", "vb")
      CommitLog.append(spark, t2, b.repartition(2))
      CommitLog.clusterByBucket(spark, t2, "k", 4)
      confs.foreach { case (k2, v2) => spark.conf.set(k2, v2) }
      val l = spark.read.format("graft").option("clusterBy", "k_bucket").load(t1)
      val r = spark.read.format("graft").option("clusterBy", "k_bucket").load(t2)
      val j = l.join(r, Seq("k_bucket", "k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffles:\n$plan")
      val res = j.select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      val control = spark.read.format("graft").load(t1)
        .join(spark.read.format("graft").load(t2), Seq("k"))
        .select(col("k"), col("va"), col("vb")).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      assert(res === control && res.size === 15)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      cleanup(t1); cleanup(t2)
    }
  }

  test("bucket column as an ENFORCED generated column via CHECK constraint") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        (0 until 12).map(i => (s"u$i", i.toLong)).toDF("k", "v"))
      CommitLog.clusterByBucket(spark, t, "k", 4)
      // compose the bucket tier with the table gate: future appends
      // must supply the SAME derived bucket — the Delta
      // generated-column contract expressed through CHECK constraints
      CommitLog.addConstraint(spark, t, "k_bucket_gen",
        "(k IS NULL AND k_bucket = 4) OR k_bucket = pmod(xxhash64(k), 4)")
      // a correct append lands...
      val good = Seq(("u99", 99L)).toDF("k", "v")
        .withColumn("k_bucket",
          pmod(xxhash64(col("k")), lit(4L)).cast("int"))
      CommitLog.append(spark, t, good)
      assert(CommitLog.read(spark, t).count() === 13)
      // ...a wrong bucket is refused atomically at the staging gate
      val bad = Seq(("u100", 100L)).toDF("k", "v")
        .withColumn("k_bucket",
          (pmod(xxhash64(col("k")), lit(4L)).cast("int") + 1) % 4)
      val e = intercept[IllegalArgumentException](CommitLog.append(spark, t, bad))
      assert(e.getMessage.contains("k_bucket_gen"))
      assert(CommitLog.read(spark, t).count() === 13, "refused batch leaked rows")
      // and a NULL key must land in the reserved bucket to pass
      val nullBad = Seq(101L).toDF("v")
        .select(lit(null).cast("string").as("k"), col("v"),
          lit(0).cast("int").as("k_bucket"))
      intercept[IllegalArgumentException](CommitLog.append(spark, t, nullBad))
      val nullGood = Seq(101L).toDF("v")
        .select(lit(null).cast("string").as("k"), col("v"),
          lit(4).cast("int").as("k_bucket"))
      CommitLog.append(spark, t, nullGood)
      assert(CommitLog.read(spark, t).count() === 14)
    } finally cleanup(t)
  }

  test("runtime filtering: a join's build side prunes fact files at execution") {
    val t = tempTable()
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dim_").toString
    try {
      import spark.implicits._
      val fact = (0 until 4).flatMap(k =>
        (0 until 50).map(i => (k, k * 1000L + i))).toDF("k", "v")
      // one commit per k, one file each: zones make k-pruning possible
      (0 to 3).foreach(k =>
        CommitLog.appendWithStats(spark, t,
          fact.filter(col("k") === k).coalesce(1), Seq("k", "v")))
      // dim side: parquet with a selective filter → broadcast → DPP
      Seq((2, "keep"), (7, "other")).toDF("k", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val f = spark.read.format("graft").load(t)
      val d = spark.read.parquet(dimDir).filter(col("tag") === "keep")
      val j = f.join(d, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters: [in"),
        s"no runtime filter reached the graft scan:\n$plan")
      sources.grafttable.GraftPartitionReader.filesOpened.set(0L)
      assert(j.count() === 50)
      val opened = sources.grafttable.GraftPartitionReader.filesOpened.get()
      assert(opened < 4, s"runtime filter pruned nothing: opened $opened of 4 files")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dimDir))
      cleanup(t)
    }
  }

  test("runtime filtering prunes files INSIDE keyed partitions, shape preserved") {
    val t = tempTable()
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dimk_").toString
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled" -> "true")
    val keep = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try {
      import spark.implicits._
      val fact = (0 until 4).flatMap(k =>
        (0 until 50).map(i => (k, k * 1000L + i))).toDF("k", "v")
      (0 to 3).foreach(k =>
        CommitLog.appendWithStats(spark, t,
          fact.filter(col("k") === k).coalesce(1), Seq("k", "v")))
      Seq((2, "keep"), (7, "other")).toDF("k", "tag")
        .write.mode("overwrite").parquet(dimDir)
      confs.foreach { case (k2, v2) => spark.conf.set(k2, v2) }
      // the fact side reads KEYED (clusterBy): before r12, keyed mode
      // dropped runtime filtering entirely to protect the reported
      // KeyGroupedPartitioning; now the filter prunes files WITHIN the
      // keyed partitions — count and keys stay exactly as reported
      val f = spark.read.format("graft").option("clusterBy", "k").load(t)
      val d = spark.read.parquet(dimDir).filter(col("tag") === "keep")
      val j = f.join(d, "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters: [in"),
        s"no runtime filter reached the keyed graft scan:\n$plan")
      sources.grafttable.GraftPartitionReader.filesOpened.set(0L)
      assert(j.count() === 50)
      val opened = sources.grafttable.GraftPartitionReader.filesOpened.get()
      assert(opened < 4, s"keyed runtime filter pruned nothing: opened $opened of 4")
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dimDir))
      cleanup(t)
    }
  }

  test("nested struct / map / array<struct> columns decode through the graft source") {
    val t = tempTable()
    try {
      import spark.implicits._
      val df = Seq(
        (1L, (10L, "a"), Map("k1" -> 1.5, "k2" -> 2.5), Seq((1, "x"), (2, "y"))),
        (2L, (20L, "b"), Map("k3" -> 3.5), Seq.empty[(Int, String)]))
        .toDF("id", "st", "m", "arr")
      CommitLog.append(spark, t, df)
      val got = spark.read.format("graft").load(t).orderBy("id").collect()
      assert(got.length === 2)
      val r1 = got(0)
      assert(r1.getStruct(1).getLong(0) === 10L && r1.getStruct(1).getString(1) === "a")
      assert(r1.getMap[String, Double](2) === Map("k1" -> 1.5, "k2" -> 2.5))
      assert(r1.getSeq[org.apache.spark.sql.Row](3).map(x =>
        (x.getInt(0), x.getString(1))) === Seq((1, "x"), (2, "y")))
      val r2 = got(1)
      assert(r2.getStruct(1).getString(1) === "b")
      assert(r2.getMap[String, Double](2) === Map("k3" -> 3.5))
      assert(r2.getSeq[org.apache.spark.sql.Row](3).isEmpty)
      // full parity with Spark's own reader over the same files
      assert(sortedRows(spark.read.format("graft").load(t)) ===
        sortedRows(CommitLog.read(spark, t)))
      // struct schema evolution: a declared sub-field the file lacks
      // null-fills (the by-name struct match)
      CommitLog.declareSchema(spark, t, StructType(Seq(
        StructField("id", LongType),
        StructField("st", StructType(Seq(
          StructField("_1", LongType), StructField("_2", StringType),
          StructField("added", DoubleType)))))))
      val ev = spark.read.format("graft").load(t).orderBy("id").collect()
      assert(ev(0).getStruct(1).isNullAt(2), "new struct sub-field must null-fill")
      assert(ev(0).getStruct(1).getLong(0) === 10L)
    } finally cleanup(t)
  }

  test("streaming sink writes nested columns; both readers round-trip them") {
    val t = tempTable()
    val ckpt = tempTable()
    try {
      import spark.implicits._
      val in = tempTable()
      val src = Seq((1L, (10L, "a"), Map("k" -> 1.5), Seq(Seq(1, 2), Seq(3))))
        .toDF("id", "st", "m", "aa")
      src.write.mode("overwrite").parquet(in)
      val q = spark.readStream.schema(src.schema).parquet(in)
        .writeStream.format("graft")
        .option("checkpointLocation", s"$ckpt/cp")
        .option("path", t).start()
      try q.processAllAvailable() finally q.stop()
      // the sink's own parquet writer produced the nested file; read it
      // back through BOTH readers
      val viaGraft = spark.read.format("graft").load(t).collect()
      assert(viaGraft.length === 1)
      val r = viaGraft(0)
      assert(r.getStruct(1).getLong(0) === 10L && r.getStruct(1).getString(1) === "a")
      assert(r.getMap[String, Double](2) === Map("k" -> 1.5))
      assert(r.getSeq[Seq[Int]](3) === Seq(Seq(1, 2), Seq(3)))
      assert(sortedRows(spark.read.format("graft").load(t)) ===
        sortedRows(CommitLog.read(spark, t)))
    } finally { cleanup(t); cleanup(ckpt) }
  }

  test("randomized deep-nesting round trip: batch reader and streaming writer (seeded)") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType),
        StructField("b", StringType),
        StructField("c", ArrayType(DoubleType))))),
      StructField("m", MapType(StringType, StructType(Seq(
        StructField("x", LongType),
        StructField("y", ArrayType(IntegerType)))))),
      StructField("aa", ArrayType(ArrayType(StringType))),
      StructField("am", ArrayType(MapType(StringType, IntegerType)))))
    val rnd = new scala.util.Random(20260814L)
    def maybe[T](v: => T): Any = if (rnd.nextInt(5) == 0) null else v
    val rows: Seq[Row] = Seq.tabulate(200) { i =>
      Row(
        i.toLong,
        maybe(Row(maybe(rnd.nextInt(1000)), maybe(s"s${rnd.nextInt(50)}"),
          maybe(Seq.fill(rnd.nextInt(4))(rnd.nextDouble())))),
        maybe(Map(s"k${rnd.nextInt(5)}" ->
          Row(rnd.nextLong() % 1000, Seq.fill(rnd.nextInt(3))(rnd.nextInt(99))))),
        maybe(Seq.fill(rnd.nextInt(3))(
          Seq.fill(rnd.nextInt(3))(s"v${rnd.nextInt(10)}"))),
        maybe(Seq.fill(rnd.nextInt(3))(Map(s"q${rnd.nextInt(3)}" -> rnd.nextInt(7)))))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    // 1) batch: Spark writer -> executor-side recursive reader
    val t1 = tempTable()
    try {
      CommitLog.append(spark, t1, df)
      assert(sortedRows(spark.read.format("graft").load(t1)) ===
        sortedRows(CommitLog.read(spark, t1)))
      assert(spark.read.format("graft").load(t1).count() === 200)
    } finally cleanup(t1)
    // 2) streaming: recursive sink writer -> both readers
    val in = tempTable(); val t2 = tempTable(); val ckpt = tempTable()
    try {
      df.write.mode("overwrite").parquet(in)
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("graft")
        .option("checkpointLocation", s"$ckpt/cp")
        .option("path", t2).start()
      try q.processAllAvailable() finally q.stop()
      assert(sortedRows(spark.read.format("graft").load(t2)) ===
        sortedRows(spark.read.parquet(in)))
      assert(sortedRows(CommitLog.read(spark, t2)) ===
        sortedRows(spark.read.parquet(in)))
    } finally { cleanup(in); cleanup(t2); cleanup(ckpt) }
  }

  test("nested columns flow through the graft-changes CDF stream") {
    val t = tempTable()
    val ckpt = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t,
        Seq((1L, (10L, "a"), Seq(1.0, 2.0))).toDF("id", "st", "vec"))
      CommitLog.append(spark, t,
        Seq((2L, (20L, "b"), Seq(3.0))).toDF("id", "st", "vec"))
      val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("graft-changes")
        .option("startingVersion", "0").load(t)
        .writeStream.option("checkpointLocation", s"$ckpt/cp")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            val st = r.getStruct(r.fieldIndex("st"))
            out.add(s"${r.getAs[Long]("id")}|${st.getLong(0)}|${st.getString(1)}|" +
              r.getSeq[Double](r.fieldIndex("vec")).mkString(","))
          }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(out.toArray.map(_.toString).sorted.toSeq ===
        Seq("1|10|a|1.0,2.0", "2|20|b|3.0"))
    } finally { cleanup(t); cleanup(ckpt) }
  }

  test("Complete mode with an empty epoch result truncates, not stales") {
    val t = tempTable()
    val in = java.nio.file.Files.createTempDirectory("graft_cmpl0_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cmpl0_ck_").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      def run(): Unit = {
        val q = spark.readStream.schema("grp LONG, n LONG").parquet(s"$in/*")
          .groupBy(col("grp")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") === 1) // singleton groups only
          .writeStream.format("graft").outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start(t)
        q.awaitTermination()
      }
      // declared schema: an empty table must still be readable after
      // the truncate (the TRUNCATE TABLE contract)
      CommitLog.declareSchema(spark, t,
        org.apache.spark.sql.types.StructType.fromDDL("grp BIGINT, cnt BIGINT"))
      Seq((0L, 1L), (1L, 1L)).toDF("grp", "n").coalesce(1).write.parquet(s"$in/b0")
      run()
      assert(CommitLog.read(spark, t).count() === 2)
      // second batch doubles every group: the Complete result is EMPTY
      // — the table must truncate to zero rows, not keep epoch 0's
      Seq((0L, 2L), (1L, 2L)).toDF("grp", "n").coalesce(1).write.parquet(s"$in/b1")
      run()
      assert(CommitLog.read(spark, t).count() === 0,
        "empty Complete epoch left stale rows visible")
    } finally { cleanup(t); cleanup(in); cleanup(ckpt) }
  }

  test("versionAsOf beyond the head refuses instead of serving latest") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft").option("versionAsOf", "999").load(t).collect()
      }
      assert(e.getMessage.contains("does not exist"))
    } finally cleanup(t)
  }

  test("change-feed schema fallback follows the NEWEST live file") {
    val t = tempTable()
    try {
      import spark.implicits._
      // undeclared schema: later append carries an extra column
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
      CommitLog.append(spark, t, Seq((2L, "b", 0.5)).toDF("id", "s", "score"))
      val schema = spark.readStream.format("graft-changes").load(t).schema
      assert(schema.fieldNames.contains("score"),
        s"newest file's column lost: ${schema.fieldNames.mkString(",")}")
    } finally cleanup(t)
  }

  // ---- a file system registered only on the session ------------------
  // The scheme resolves only through the session's Hadoop conf (see
  // SqliteSourceSpec), and with the file-system cache off every reader
  // and writer resolves it again from the conf it was given.

  private def withSessionOnlyTable(body: String => Unit): Unit = {
    val keys = Seq(
      "fs.sessiononly.impl" -> classOf[SessionOnlyFileSystem].getName,
      "fs.sessiononly.impl.disable.cache" -> "true",
      // a sidecar vector: it loads on the executor through the conf too
      "spark.graft.commitlog.dvInlineThreshold" -> "8")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val local = tempTable()
    try {
      val t = "sessiononly://" + local
      CommitLog.append(spark, t, spark.range(0, 100)
        .select(col("id"), (col("id") * 2).as("y")).coalesce(1))
      CommitLog.delete(spark, t, "id % 3 = 0") // 34 rows, a deletion vector
      val opened = SessionOnlyFileSystem.opens.get
      body(t)
      assert(SessionOnlyFileSystem.opens.get > opened, "the test file system was not used")
    } finally {
      keys.foreach { case (k, _) => spark.conf.unset(k) }
      cleanup(local)
    }
  }

  test("session-only file system: a graft scan with a deletion vector") {
    withSessionOnlyTable { t =>
      val ids = spark.read.format("graft").load(t).select("id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq === (0L until 100L).filter(_ % 3 != 0))
    }
  }

  test("session-only file system: a graft-changes read") {
    withSessionOnlyTable { t =>
      val q = spark.readStream.format("graft-changes").option("startingVersion", "0")
        .load(t).writeStream.format("memory").queryName("sessiononly_changes")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val kinds = spark.sql("SELECT _change_type, count(*) FROM sessiononly_changes " +
        "GROUP BY _change_type").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(kinds === Map("insert" -> 100L, "delete" -> 34L))
    }
  }

  test("session-only file system: a streaming-sink append") {
    withSessionOnlyTable { t =>
      val in = java.nio.file.Files.createTempDirectory("graft_sink_in_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ck_").toString
      try {
        spark.range(1000, 1010).select(col("id"), (col("id") * 2).as("y"))
          .coalesce(1).write.parquet(s"$in/b0")
        val q = spark.readStream.schema("id LONG, y LONG").parquet(s"$in/*")
          .writeStream.format("graft").option("checkpointLocation", ckpt)
          .option("statsCols", "id")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(t)
        q.awaitTermination()
        assert(CommitLog.read(spark, t).count() === 76)
      } finally { cleanup(in); cleanup(ckpt) }
    }
  }

  test("session-only file system: a copy-on-write DELETE") {
    withSessionOnlyTable { t =>
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.grafttable.GraftCatalogPlugin")
      spark.sql(s"DELETE FROM graft.`$t` WHERE id % 2 = 0") // no DV form: a rewrite
      val ids = CommitLog.read(spark, t).select("id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq === (0L until 100L).filter(i => i % 3 != 0 && i % 2 != 0))
    }
  }
}
