package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ColumnMapping, CommitLog}

/** Column mapping (Delta-style logical→physical indirection):
  * RENAME/DROP COLUMN as metadata-only commits, the resurrection
  * guard on re-added names, and the read/write/scan paths resolving
  * the mapping end to end. */
class ColumnMappingSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("graft_map_").toString

  private def cleanup(p: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    ()
  }

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.grafttable.GraftCatalogPlugin")

  test("renameColumn is metadata-only: files untouched, both eras read under the new name") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, score DOUBLE"))
      CommitLog.appendWithStats(spark, t,
        Seq((1L, 0.5), (2L, 1.5)).toDF("id", "score"), Seq("id", "score"))
      val filesBefore = CommitLog.snapshot(spark, t)
      CommitLog.renameColumn(spark, t, "score", "quality")
      // no data file was rewritten
      assert(CommitLog.snapshot(spark, t) === filesBefore)
      // reads serve the NEW logical name with the OLD files' values
      val got = CommitLog.read(spark, t).orderBy("id").collect()
      assert(CommitLog.read(spark, t).columns.toSeq === Seq("id", "quality"))
      assert(got.map(_.getDouble(1)).toSeq === Seq(0.5, 1.5))
      // an append under the new name lands and mixes with old files
      CommitLog.appendWithStats(spark, t,
        Seq((3L, 2.5)).toDF("id", "quality"), Seq("id", "quality"))
      val all = CommitLog.read(spark, t).orderBy("id").collect()
      assert(all.map(_.getDouble(1)).toSeq === Seq(0.5, 1.5, 2.5))
      // stats stay keyed by the PHYSICAL name in BOTH eras' files —
      // that is what keeps zone pruning alive across the rename
      val stats = CommitLog.fileStats(spark, t)
      assert(stats.nonEmpty && stats.values.forall(_.contains("score")),
        s"zone keys lost the physical name: $stats")
      // an append under the OLD name is refused by the schema gate
      intercept[IllegalArgumentException] {
        CommitLog.append(spark, t, Seq((9L, 9.9)).toDF("id", "score"))
      }
    } finally cleanup(t)
  }

  test("time travel across a rename serves each era's own declared name") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, score DOUBLE")) // v0
      CommitLog.append(spark, t, Seq((1L, 0.5)).toDF("id", "score")) // v1
      CommitLog.renameColumn(spark, t, "score", "quality") // v2
      assert(CommitLog.read(spark, t, asOf = Some(1L)).columns.toSeq ===
        Seq("id", "score"))
      assert(CommitLog.read(spark, t, asOf = Some(2L)).columns.toSeq ===
        Seq("id", "quality"))
      assert(CommitLog.read(spark, t, asOf = Some(1L)).head.getDouble(1) === 0.5)
    } finally cleanup(t)
  }

  test("drop + re-add: the old column's data can never resurrect") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, tag STRING"))
      CommitLog.append(spark, t, Seq((1L, "old-secret")).toDF("id", "tag"))
      CommitLog.dropColumn(spark, t, "tag")
      assert(CommitLog.read(spark, t).columns.toSeq === Seq("id"))
      // re-add the SAME logical name: minted a fresh physical name
      val f = CommitLog.addColumnField(spark, t, "tag", StringType)
      assert(ColumnMapping.physical(f) !== "tag",
        "re-added column must not reuse the retired physical name")
      val cur = CommitLog.tableSchema(spark, t).get
      CommitLog.evolveSchema(spark, t, StructType(cur.fields :+ f))
      // the old file's 'tag' bytes are invisible through the new column
      val r = CommitLog.read(spark, t).orderBy("id").collect()
      assert(r.length === 1 && r(0).isNullAt(1),
        s"dropped data resurrected: ${r.toSeq}")
      // new appends serve through the minted physical name
      CommitLog.append(spark, t, Seq((2L, "fresh")).toDF("id", "tag"))
      val r2 = CommitLog.read(spark, t).orderBy("id").collect()
      assert(r2(0).isNullAt(1) && r2(1).getString(1) === "fresh")
    } finally cleanup(t)
  }

  test("evolveSchema routes brand-new fields through the resurrection guard") {
    // ADVICE r14 #1: the PUBLIC evolveSchema path (not just the
    // catalog ALTER) must mint a fresh physical name for a re-added
    // column, or every pre-drop file serves the retired data
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, tag STRING"))
      CommitLog.append(spark, t, Seq((1L, "old-secret")).toDF("id", "tag"))
      CommitLog.dropColumn(spark, t, "tag")
      // re-add via evolveSchema with a PLAIN field — no addColumnField
      val cur = CommitLog.tableSchema(spark, t).get
      CommitLog.evolveSchema(spark, t,
        StructType(cur.fields :+ StructField("tag", StringType)))
      val declared = CommitLog.tableSchema(spark, t).get
      assert(ColumnMapping.physical(declared("tag")) !== "tag",
        "evolveSchema bypassed the ADD-after-DROP resurrection guard")
      val r = CommitLog.read(spark, t).collect()
      assert(r.length === 1 && r(0).isNullAt(1),
        s"dropped data resurrected through evolveSchema: ${r.toSeq}")
      // caller's column order is preserved despite the guard detour
      assert(declared.fieldNames.toSeq === Seq("id", "tag"))
      // new appends serve through the minted physical name
      CommitLog.append(spark, t, Seq((2L, "fresh")).toDF("id", "tag"))
      val r2 = CommitLog.read(spark, t).orderBy("id").collect()
      assert(r2(0).isNullAt(1) && r2(1).getString(1) === "fresh")
    } finally cleanup(t)
  }

  test("adding an already-declared column name is refused at the log layer") {
    // ADVICE r14 #2: a direct alterTable ADD COLUMN of an existing
    // name must be refused here, not only by Spark's SQL analyzer
    val t = tempTable()
    try {
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, tag STRING"))
      val e = intercept[IllegalArgumentException](
        CommitLog.addColumnField(spark, t, "tag", StringType))
      assert(e.getMessage.contains("already declares"))
    } finally cleanup(t)
  }

  test("rename/drop guards: constrained columns, duplicate names, last column") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, score DOUBLE"))
      CommitLog.append(spark, t, Seq((1L, 0.5)).toDF("id", "score"))
      CommitLog.addConstraint(spark, t, "score_pos", "score >= 0")
      intercept[IllegalArgumentException](
        CommitLog.renameColumn(spark, t, "score", "quality"))
      intercept[IllegalArgumentException](
        CommitLog.dropColumn(spark, t, "score"))
      // an unrelated column still renames
      CommitLog.renameColumn(spark, t, "id", "doc_id")
      assert(CommitLog.read(spark, t).columns.toSeq === Seq("doc_id", "score"))
      // duplicate target name refused
      intercept[IllegalArgumentException](
        CommitLog.renameColumn(spark, t, "doc_id", "score"))
      // the constraint still gates writes after the unrelated rename
      intercept[IllegalArgumentException](CommitLog.append(spark, t,
        Seq((9L, -1.0)).toDF("doc_id", "score")))
      // can't drop down to zero columns
      CommitLog.dropConstraint(spark, t, "score_pos")
      CommitLog.dropColumn(spark, t, "score")
      intercept[IllegalArgumentException](
        CommitLog.dropColumn(spark, t, "doc_id"))
    } finally cleanup(t)
  }

  test("crossing renames and physical-name collisions are refused at DDL time") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("c BIGINT, y BIGINT"))
      CommitLog.append(spark, t, Seq((1L, 10L)).toDF("c", "y"))
      CommitLog.renameColumn(spark, t, "y", "z") // z's physical stays 'y'
      // the crossing: 'y' is now z's PHYSICAL name — renaming c onto it
      // would make every name lookup ambiguous (review r14 #1/#4)
      val e = intercept[IllegalArgumentException](
        CommitLog.renameColumn(spark, t, "c", "y"))
      assert(e.getMessage.contains("physical"))
      // ...and so would ADDING a column named 'y'
      intercept[IllegalArgumentException](
        CommitLog.addColumnField(spark, t, "y", LongType))
      // renaming a column BACK to its own physical name stays legal
      CommitLog.renameColumn(spark, t, "z", "y")
      assert(CommitLog.read(spark, t).columns.toSeq === Seq("c", "y"))
      assert(CommitLog.read(spark, t).head.getLong(1) === 10L)
    } finally cleanup(t)
  }

  test("a failed multi-change ALTER leaves the table untouched") {
    val t = tempTable()
    try {
      ensureCatalog()
      spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, s STRING)")
      val v0 = CommitLog.latestVersion(spark, t)
      // second change is unsupported (positioned column): the FIRST
      // must not have been committed either (review r14 #5)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (a INT, b INT AFTER a)")
      }
      assert(CommitLog.latestVersion(spark, t) === v0,
        "failed ALTER left a committed change behind")
      assert(CommitLog.tableSchema(spark, t).get.fieldNames.toSeq ===
        Seq("id", "s"))
      // a VALID multi-change ALTER lands as ONE commit
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (a INT, b INT)")
      assert(CommitLog.latestVersion(spark, t) === v0 + 1)
      assert(CommitLog.tableSchema(spark, t).get.fieldNames.toSeq ===
        Seq("id", "s", "a", "b"))
    } finally cleanup(t)
  }

  test("vacuum preserves the resurrection guard and the ledger's legacy floor") {
    val t = tempTable()
    try {
      import spark.implicits._
      // --- resurrection guard across vacuum (review r14 #2) ---
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, tag STRING")) // v0
      CommitLog.append(spark, t, Seq((1L, "old-secret")).toDF("id", "tag")) // v1
      CommitLog.dropColumn(spark, t, "tag") // v2
      CommitLog.append(spark, t, Seq(2L).toDF("id")) // v3
      CommitLog.vacuum(spark, t, keepFrom = 3L)
      // every declaration mentioning 'tag' was truncated; the horizon
      // checkpoint must carry the physical-name history
      assert(CommitLog.usedPhysicalNames(spark, t).contains("tag"),
        "vacuum forgot the retired physical names")
      val f = CommitLog.addColumnField(spark, t, "tag", StringType)
      assert(graft.operators.ColumnMapping.physical(f) !== "tag",
        "post-vacuum re-add reused the retired physical name")
      val cur = CommitLog.tableSchema(spark, t).get
      CommitLog.evolveSchema(spark, t, StructType(cur.fields :+ f))
      val r = CommitLog.read(spark, t).orderBy("id").collect()
      assert(r.forall(_.isNullAt(1)),
        s"dropped data resurrected after vacuum: ${r.toSeq}")
    } finally cleanup(t)
  }

  test("ledger legacy floor survives vacuum: live co-writer can't suppress new epochs") {
    val t = tempTable()
    try {
      import spark.implicits._
      // qualified writer appA commits epochs 0..2 (review r14 #3)
      (0L to 2L).foreach(i => CommitLog.appendStream(spark, t,
        Seq((i, s"a$i")).toDF("id", "s"), i, app = Some("appA")))
      // a live identity-free co-writer lands batchId 3
      CommitLog.appendStream(spark, t, Seq((100L, "bare")).toDF("id", "s"), 3L)
      // vacuum ABOVE every qualified entry: only the bare entry's
      // commit (v3) survives the truncation
      CommitLog.vacuum(spark, t, keepFrom = 3L)
      // appA's brand-new epoch 3 must still land — the checkpoint's
      // ledger keeps appA's entries, so the bare entry stays LIVE
      assert(CommitLog.appendStream(spark, t,
        Seq((3L, "a3")).toDF("id", "s"), 3L, app = Some("appA")).isDefined,
        "vacuum reclassified a live co-writer's entry as legacy")
      assert(CommitLog.read(spark, t).count() === 5)
      // and appA's own replay of epoch 3 is still recognized
      assert(CommitLog.appendStream(spark, t,
        Seq((3L, "a3")).toDF("id", "s"), 3L, app = Some("appA")).isEmpty)
    } finally cleanup(t)
  }

  test("vacuum keeps a pre-upgrade bare ledger entry classified as legacy") {
    // the checkpoint's ledger keeps each entry's
    // ORIGINAL version, so a pre-upgrade bare entry can never be
    // reclassified as a live co-writer by comparing against the first
    // qualified entry — a qualified writer's replay of that legacy
    // batchId must stay suppressed after any number of vacuums
    val t = tempTable()
    try {
      import spark.implicits._
      // pre-upgrade history: a bare batch commit at v0
      CommitLog.appendStream(spark, t, Seq((1L, "a")).toDF("id", "s"), 5L)
      // qualified writing begins at v1
      CommitLog.appendStream(spark, t, Seq((2L, "b")).toDF("id", "s"), 6L,
        app = Some("appA"))
      assert(CommitLog.replayedBatch(spark, t, "appA", 5L),
        "pre-upgrade legacy entry not honored before vacuum")
      CommitLog.vacuum(spark, t, keepFrom = 0L)
      assert(CommitLog.replayedBatch(spark, t, "appA", 5L),
        "vacuum rewrite reclassified the legacy bare entry as live")
      // idempotent under repeated vacuums (the ledger keeps the entry's
      // own version, never the checkpoint's)
      CommitLog.vacuum(spark, t, keepFrom = 0L)
      assert(CommitLog.replayedBatch(spark, t, "appA", 5L))
      // and the replay itself lands nothing
      assert(CommitLog.appendStream(spark, t,
        Seq((1L, "a")).toDF("id", "s"), 5L, app = Some("appA")).isEmpty,
        "legacy replay landed twice after vacuum")
      assert(CommitLog.read(spark, t).count() === 2)
    } finally cleanup(t)
  }

  test("SQL DDL: ALTER TABLE RENAME/DROP/ADD COLUMN through the catalog") {
    val t = tempTable()
    try {
      ensureCatalog()
      spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, score DOUBLE)")
      spark.sql(s"INSERT INTO graft.`$t` VALUES (1, 0.5), (2, 1.5)")
      spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN score TO quality")
      val got = spark.sql(s"SELECT id, quality FROM graft.`$t` ORDER BY id")
        .collect()
      assert(got.map(_.getDouble(1)).toSeq === Seq(0.5, 1.5))
      // INSERT + UPDATE + DELETE all speak the new name
      spark.sql(s"INSERT INTO graft.`$t` VALUES (3, 2.5)")
      spark.sql(s"UPDATE graft.`$t` SET quality = 9.0 WHERE id = 1")
      spark.sql(s"DELETE FROM graft.`$t` WHERE id = 2")
      val after = spark.sql(s"SELECT id, quality FROM graft.`$t` ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(after.toSeq === Seq((1L, 9.0), (3L, 2.5)))
      // DROP COLUMN then re-ADD: NULLs, not resurrected values
      spark.sql(s"ALTER TABLE graft.`$t` DROP COLUMN quality")
      assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq === Seq("id"))
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (quality DOUBLE)")
      val readded = spark.sql(s"SELECT id, quality FROM graft.`$t` ORDER BY id")
        .collect()
      assert(readded.forall(_.isNullAt(1)),
        s"dropped SQL column resurrected: ${readded.toSeq}")
      // SQL time travel below the rename serves the original name
      assert(spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1")
        .columns.toSeq === Seq("id", "score"))
    } finally cleanup(t)
  }

  test("zone + bloom pruning keep working through the DSv2 scan after a rename") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("k BIGINT, v STRING"))
      // one file per k-range, zones + blooms on k
      (0 to 3).foreach(i => CommitLog.appendWithBloom(spark, t,
        Seq.tabulate(10)(j => (i * 100L + j, s"r$i-$j")).toDF("k", "v")
          .coalesce(1), Seq("k"), Seq("k")))
      CommitLog.renameColumn(spark, t, "k", "key")
      // range filter on the NEW name must open only the matching file
      graft.sources.grafttable.GraftPartitionReader.filesOpened.set(0L)
      val q = spark.read.format("graft").load(t).filter(col("key") >= 300)
      assert(q.count() === 10)
      val opened = graft.sources.grafttable.GraftPartitionReader.filesOpened.get()
      assert(opened === 1, s"rename broke zone pruning: opened $opened of 4")
      // equality probe: bloom leg on the new name
      graft.sources.grafttable.GraftPartitionReader.filesOpened.set(0L)
      assert(spark.read.format("graft").load(t)
        .filter(col("key") === 105L).count() === 1)
      assert(graft.sources.grafttable.GraftPartitionReader.filesOpened.get() === 1)
      // metadata-served MIN/MAX/COUNT still push down post-rename
      val agg = spark.read.format("graft").load(t)
        .agg(min(col("key")), max(col("key")), count(lit(1)))
      assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      val r = agg.head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 309L, 40L)))
    } finally cleanup(t)
  }

  test("merge, scanRange and the change feed resolve the mapping") {
    val t = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, s STRING"))
      CommitLog.appendWithStats(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Seq("id"))
      CommitLog.renameColumn(spark, t, "id", "doc_id")
      // merge keyed on the NEW name (changes carry the op marker)
      CommitLog.merge(spark, t,
        Seq((2L, "B", "U"), (3L, "c", "I")).toDF("doc_id", "s", "op"),
        "doc_id")
      val rows = CommitLog.read(spark, t).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // scanRange on the new name (zones keyed by the old physical)
      assert(CommitLog.scanRange(spark, t, "doc_id", 2.0, 3.0).count() === 2)
      // the change feed serves logical names
      val ch = CommitLog.readChanges(spark, t, sinceVersion = 1L)
      assert(ch.columns.contains("doc_id") && !ch.columns.contains("id"))
      assert(ch.filter(col("_change_type") === "insert").count() > 0)
      // deleteWhere under the new name
      CommitLog.delete(spark, t, "doc_id = 1")
      assert(CommitLog.read(spark, t).count() === 2)
    } finally cleanup(t)
  }

  test("streaming reads resolve the mapping: change feed and table stream") {
    val t = tempTable()
    val ckpt1 = tempTable()
    val ckpt2 = tempTable()
    val out1 = tempTable()
    val out2 = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, score DOUBLE"))
      CommitLog.append(spark, t, Seq((1L, 0.5)).toDF("id", "score"))
      CommitLog.renameColumn(spark, t, "score", "quality")
      CommitLog.append(spark, t, Seq((2L, 1.5)).toDF("id", "quality"))
      // graft-changes stream: both eras' files serve the logical name
      val q1 = spark.readStream.format("graft-changes")
        .option("startingVersion", "0").load(t)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$ckpt1/cp")
        .option("path", out1).start()
      try q1.processAllAvailable() finally q1.stop()
      val ch = spark.read.parquet(out1).orderBy("id").collect()
      assert(spark.read.parquet(out1).columns.contains("quality"))
      assert(ch.map(_.getAs[Double]("quality")).toSeq === Seq(0.5, 1.5),
        "change feed lost renamed column values")
      // table stream (snapshot batch): renamed column serves old files
      val q2 = spark.readStream.format("graft").load(t)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$ckpt2/cp")
        .option("path", out2).start()
      try q2.processAllAvailable() finally q2.stop()
      val ts = spark.read.parquet(out2).orderBy("id").collect()
      assert(ts.map(_.getAs[Double]("quality")).toSeq === Seq(0.5, 1.5),
        "table stream lost renamed column values")
    } finally {
      Seq(t, ckpt1, ckpt2, out1, out2).foreach(cleanup)
    }
  }

  test("streaming DSv2 sink writes physical names after a rename") {
    val t = tempTable()
    val ckpt = tempTable()
    val in = tempTable()
    try {
      import spark.implicits._
      CommitLog.declareSchema(spark, t, StructType.fromDDL("id BIGINT, score DOUBLE"))
      CommitLog.append(spark, t, Seq((1L, 0.5)).toDF("id", "score"))
      CommitLog.renameColumn(spark, t, "score", "quality")
      val src = Seq((2L, 1.5)).toDF("id", "quality")
      src.write.mode("overwrite").parquet(in)
      val q = spark.readStream.schema(src.schema).parquet(in)
        .writeStream.format("graft")
        .option("checkpointLocation", s"$ckpt/cp")
        .option("path", t).start()
      try q.processAllAvailable() finally q.stop()
      // both eras' rows serve under the new logical name, both readers
      val viaLog = CommitLog.read(spark, t).orderBy("id").collect()
      assert(viaLog.map(_.getDouble(1)).toSeq === Seq(0.5, 1.5))
      val viaDsv2 = spark.read.format("graft").load(t).orderBy("id").collect()
      assert(viaDsv2.map(_.getDouble(1)).toSeq === Seq(0.5, 1.5))
      // the streamed file itself carries the PHYSICAL column name
      val streamed = CommitLog.snapshot(spark, t).last
      val raw = spark.read.parquet(s"$t/$streamed")
      assert(raw.columns.contains("score") && !raw.columns.contains("quality"),
        s"streamed file columns: ${raw.columns.toSeq}")
    } finally { cleanup(t); cleanup(ckpt); cleanup(in) }
  }
}
