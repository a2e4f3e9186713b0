package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** A minimal commit-log table format over raw parquet — the metadata
  * layer that turns a directory of files into a TABLE with atomic
  * multi-file commits, snapshot isolation, and time travel. This is
  * the missing backbone under the maintenance ops: [[Compaction]]'s
  * write-then-delete swap has a doubled-worst-case window, a reader
  * racing [[Similarity.appendIvfIndexBatch]] can see a half-landed
  * batch — with a log, readers resolve a VERSION first and only ever
  * see file sets some commit published, no matter what a concurrent
  * writer is mid-way through. The same design (scaled down) as every
  * lakehouse format's core: Delta's JSON actions, Iceberg's snapshot
  * manifests.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_log/00000000.json   {"version":0,"adds":[...],"removes":[]}
  *     _graft_log/00000001.json   ...
  *     data/<uuid>-<i>.parquet    immutable once committed
  * }}}
  *
  *  - one JSON line per commit; `adds`/`removes` are paths RELATIVE to
  *    the table root (the table can be moved/cloned wholesale);
  *  - data files are immutable: logical delete = a `removes` entry, so
  *    every prior version stays readable (time travel) until a future
  *    vacuum pass physically drops unreferenced files;
  *  - a crash before the commit rename leaves only invisible staging
  *    files — the log defines the table, orphans are garbage, never
  *    phantom rows;
  *  - commit claims version N by PUT-IF-ABSENT of the fully-written
  *    payload at N.json, retrying on the next number if N is taken —
  *    optimistic concurrency at the file-system level. On a local FS
  *    the primitive is a hard link (link(2) fails EEXIST atomically —
  *    safe across PROCESSES, not just threads; see
  *    [[publishIfAbsent]]); non-local deployments back it with the
  *    store's own conditional put (HDFS rename, S3 conditional put, a
  *    DynamoDB/ZK lock) — everything else is unchanged. */
object CommitLog {

  private[graft] val LogDir = "_graft_log"
  private[graft] val DataDir = "data"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def jarr(xs: Seq[String]): String =
    xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")

  /** Per-file column stats carried IN the commit (file -> column ->
    * [min, max] as doubles) — the lakehouse data-skipping design:
    * stats live in the log, so a range scan prunes files from
    * metadata it already read to resolve the snapshot, with no
    * separate manifest pass and no footer I/O for pruned files. */
  type FileStats = Map[String, Map[String, (Double, Double)]]

  /** Reserved stats key carrying a file's ROW COUNT as (n, n) inside
    * the ordinary zone map — no new log field, flows through commits
    * and checkpoints untouched; zone pruning never consults it (no
    * query column is named this). Published by every stats/bloom
    * staging path. */
  val RowCountStat: String = "__rows"

  /** Reserved stats-key PREFIX carrying a column's per-file NON-NULL
    * row count as (n, n) — same vehicle as [[RowCountStat]] (an
    * ordinary zone entry, flows through commits and checkpoints
    * untouched). `__nn_c == __rows` proves column c null-free in that
    * file, which is what lets a keyed scan report its constant-key
    * SORT ORDER (a point zone alone cannot: min/max ignore NULLs, so
    * a mixed NULL/key file still presents a point zone while its rows
    * are NOT ordered by the key). Published by every stats/bloom
    * staging path; files from before this stat existed simply lack it
    * and decline the proof. */
  val NonNullStatPrefix: String = "__nn_"
  def nonNullStat(c: String): String = NonNullStatPrefix + c

  private[graft] def jstats(stats: FileStats): String =
    stats.map { case (f, cols) =>
      "\"" + esc(f) + "\":{" + cols.map { case (c, (lo, hi)) =>
        "\"" + esc(c) + s"""":[$lo,$hi]"""
      }.mkString(",") + "}"
    }.mkString("{", ",", "}")

  /** Per-file Bloom filters carried IN the commit (file -> column ->
    * "k:base64(bitset)"; the bit count m is recovered from the decoded
    * bitset length, so it is not encoded) — the point-predicate complement of
    * [[FileStats]]: zone maps prune ranges on clustered columns, blooms
    * prune equality probes on high-cardinality UNCLUSTERED keys where
    * every file's [min, max] spans the domain. */
  type FileBlooms = Map[String, Map[String, String]]

  private def jblooms(blooms: FileBlooms): String =
    blooms.map { case (f, cols) =>
      "\"" + esc(f) + "\":{" + cols.map { case (c, enc) =>
        "\"" + esc(c) + "\":\"" + enc + "\""
      }.mkString(",") + "}"
    }.mkString("{", ",", "}")

  /** Per-file DELETION VECTORS carried in the commit (file ->
    * base64(bitset of deleted row indices)) — row-level delete as a
    * metadata-sized commit, Delta's DV design scaled down: the data
    * file stays immutable, the vector says which of its row positions
    * are logically gone, and every read masks with one bit probe per
    * row ([[graft.plans.DvTest]], codegen'd — no join). Entries are
    * complete per-file REPLACEMENTS (the writer unions with the prior
    * vector before committing), so resolution is "latest entry per
    * live file", the same rule as stats/blooms. Vectors die with
    * their file: any rewrite (compact/optimize/merge reads through
    * the mask) materializes the deletes and drops the DVs. */
  type FileDvs = Map[String, String]

  private def jdvs(dvs: FileDvs): String =
    dvs.toSeq.sortBy(_._1).map { case (f, enc) =>
      "\"" + esc(f) + "\":\"" + enc + "\""
    }.mkString("{", ",", "}")

  /** CHECK constraints carried in the log (name -> SQL boolean
    * expression). SQL-standard semantics: a row violates a constraint
    * only when the expression evaluates to FALSE (NULL passes). The
    * latest commit carrying a `constraints` field defines the COMPLETE
    * map — add/drop republish the whole (small) set, so replay needs
    * no per-entry merge. */
  type Constraints = Map[String, String]

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Expressions ride base64 so the commit line stays flat (no quotes
    * or braces inside values — the same property the brace-walk parser
    * relies on everywhere else). */
  private def jconstraints(cs: Constraints): String =
    cs.toSeq.sortBy(_._1).map { case (n, e) =>
      "\"" + esc(n) + "\":\"" + b64(e) + "\""
    }.mkString("{", ",", "}")

  /** Claim the next version atomically-enough (see class doc) and
    * publish this commit's add/remove sets. Returns the version.
    * `batchId` stamps a streaming micro-batch's identity into the
    * commit so a replay can recognize its own earlier publish;
    * `stats` records per-file zone maps for data skipping;
    * `dataChange = false` marks a pure REARRANGEMENT (compaction) whose
    * adds/removes carry no new logical rows — the change feed skips
    * such commits, exactly Delta's dataChange=false action flag. */
  /** `expectedVersion`: OPTIMISTIC CONCURRENCY for commits whose
    * adds/removes/dvs were COMPUTED FROM a snapshot — overwrite,
    * delete, merge, optimize, restore, replaceRange all resolve state
    * at some version V and publish a delta against it. If the log has
    * advanced past V by commit time, publishing anyway would base the
    * table on stale state (the classic lost update: a delete racing a
    * compaction resurrects rows; two overwrites both "win"). With
    * `expectedVersion = Some(V)` the commit claims ONLY version V+1,
    * by put-if-absent and without listing the log — any interleaved
    * commit makes it throw
    * [[java.util.ConcurrentModificationException]] instead of
    * publishing, and the caller re-reads and retries. Appends leave it
    * None: blind adds commute with everything (Delta's same conflict
    * matrix, reduced to its sound core). */
  def commit(spark: SparkSession, tablePath: String,
      adds: Seq[String], removes: Seq[String],
      batchId: Option[Long] = None,
      stats: FileStats = Map.empty,
      dataChange: Boolean = true,
      blooms: FileBlooms = Map.empty,
      schemaB64: Option[String] = None,
      constraintsField: Option[Constraints] = None,
      dvs: FileDvs = Map.empty,
      expectedVersion: Option[Long] = None,
      pins: Map[String, Long] = Map.empty,
      batchApp: Option[String] = None): Long = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    fs.mkdirs(log)
    val tmp = new Path(log, s".tmp-${java.util.UUID.randomUUID()}")
    // a snapshot-based commit claims V+1 directly and lets the
    // put-if-absent decide the race: only a blind append lists the log
    var v = expectedVersion.getOrElse(latestVersion(spark, tablePath)) + 1
    val batchField = batchId.fold("")(b => s""","batchId":$b""") +
      batchApp.fold("")(a => s""","batchApp":"${esc(a)}"""")
    val pinsField = if (pins.isEmpty) "" else
      pins.toSeq.sortBy(_._1).map { case (k, ver) => s""""${esc(k)}":$ver""" }
        .mkString(""","pins":{""", ",", "}")
    val statsField = if (stats.isEmpty) "" else s""","stats":${jstats(stats)}"""
    val bloomField = if (blooms.isEmpty) "" else s""","blooms":${jblooms(blooms)}"""
    val schemaField = schemaB64.fold("")(s => s""","schemaB64":"$s"""")
    val consField = constraintsField.fold("")(c => s""","constraints":${jconstraints(c)}""")
    val dvField = if (dvs.isEmpty) "" else s""","dvs":${jdvs(dvs)}"""
    val dcField = if (dataChange) "" else s""","dataChange":false"""
    val body = (version: Long, tsMillis: Long) =>
      s"""{"version":$version,"tsMillis":$tsMillis,"adds":${jarr(adds)},"removes":${jarr(removes)}$batchField$pinsField$statsField$bloomField$schemaField$consField$dvField$dcField}"""
    def conflict(): Nothing = {
      scala.util.Try(fs.delete(tmp, false))
      throw new java.util.ConcurrentModificationException(
        s"commit to $tablePath conflicts: expected to publish version " +
        s"${expectedVersion.get + 1} over snapshot v${expectedVersion.get}, " +
        s"but the log has advanced to v${latestVersion(spark, tablePath)} — " +
        "re-read the table and retry the operation")
    }
    // V itself must be in the log: a table dropped and re-created
    // below V would otherwise take V+1 over a gap
    expectedVersion.foreach(e =>
      if (e >= 0 && !fs.exists(new Path(log, f"$e%08d.json"))) conflict())
    var claimed = -1L
    while (claimed < 0) {
      // commit wall-time, forced strictly monotone against the previous
      // commit (Delta's clock-skew guard): TIMESTAMP AS OF binary-
      // searches these, so they must order like the versions do
      val prevTs =
        if (v == 0) 0L
        else commitTimestampMillis(spark, tablePath, v - 1).getOrElse(0L)
      val tsMillis = math.max(System.currentTimeMillis(), prevTs + 1)
      val out = fs.create(tmp, true)
      try out.write(body(v, tsMillis).getBytes("UTF-8")) finally out.close()
      val dst = new Path(log, f"$v%08d.json")
      val won = publishIfAbsent(fs, tmp, dst)
      if (won) claimed = v
      else {
        // lost the race: a snapshot-based commit must NOT silently
        // rebase onto state it never read — that is the lost update
        if (expectedVersion.isDefined) conflict()
        v += 1 // blind append: rewrite the body with the new number
      }
    }
    maybeCheckpoint(spark, tablePath, claimed)
    claimed
  }

  private val claimLock = new Object

  /** Atomic put-if-absent publish of a fully-written `tmp` at `dst` —
    * the one primitive optimistic concurrency rests on. On a LOCAL
    * filesystem it is a HARD LINK: link(2) fails with EEXIST when dst
    * exists, atomically, arbitrated by the kernel — a true
    * cross-PROCESS put-if-absent (the class doc's rename-TOCTOU caveat
    * applied only to multi-process local writers; this closes it).
    * Readers still never see a partial file: the payload was fully
    * written at the tmp name before the link publishes it. Elsewhere
    * (or on mounts without hard links) it falls back to the per-JVM
    * synchronized exists+rename; a production deployment backs that
    * path with the store's own conditional put (HDFS rename, S3
    * conditional put), as the class doc describes. */
  private[graft] def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dst: Path): Boolean = {
    def renameFallback(): Boolean = claimLock.synchronized {
      !fs.exists(dst) && fs.rename(tmp, dst)
    }
    // getUri never throws; FileSystem.getScheme's base implementation
    // does (UnsupportedOperationException) on connectors that predate it
    if (fs.getUri.getScheme != "file") renameFallback()
    else {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        // delete via the Hadoop fs so a checksum sidecar goes with it
        scala.util.Try(fs.delete(tmp, false))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => renameFallback()
        case _: java.io.IOException => renameFallback()
      }
    }
  }

  /** Incremental per-table ledger memo: commit files are immutable
    * and the log append-only above the vacuum horizon, so only NEW
    * versions need reading per call. Keyed by the FIRST retained
    * version's (number, mtime): vacuum's horizon rewrite and a table
    * dropped-and-recreated at the same path both change that identity
    * and force a clean rescan of the (then small) retained log. This is
    * not table state at one version, so it is not a [[Snapshot]]: the
    * ledger spans every retained version and grows with each new one. */
  private case class LedgerState(firstV: Long, firstMtime: Long,
      through: Long, ids: Set[(Option[String], Long, Long)],
      floorQual: Option[Long])
  private val ledgerCache =
    new java.util.concurrent.ConcurrentHashMap[String, LedgerState]()

  private val batchAppRe = """"batchApp":"((?:[^"\\]|\\.)*)"""".r
  // vacuum's horizon rewrite carries the pre-truncation "first
  // app-qualified entry" evidence forward under this field, so the
  // legacy-bare-entry rule ([[replayedBatch]]) stays vacuum-stable
  private val firstQualVRe = """"firstQualV":(\d+)""".r
  // a vacuum-rewritten ledger entry's ORIGINAL commit version — the
  // legacy-vs-live classification in [[replayedBatch]] compares entry
  // versions against the first app-qualified version, so a rewrite
  // inheriting the checkpoint's own version could reclassify a
  // pre-upgrade bare entry as a live co-writer (ADVICE r14 #3)
  private val batchVRe = """"batchV":(-?\d+)""".r

  /** (writer identity, batchId) pairs already committed — the
    * streaming sink's replay ledger, APP-QUALIFIED (Delta's txnAppId
    * shape): two different streaming queries both restart their
    * epochs at 0, so a bare-epoch ledger would silently discard the
    * second query's batches as replays of the first's. Entries from
    * writers that declared no identity carry None. O(new commits) per
    * call, not O(log): commit files are immutable and the log
    * append-only above the vacuum horizon, so only versions past the
    * cached watermark are read; the cache keys on the FIRST retained
    * version's (number, mtime) — vacuum's horizon rewrite and a table
    * dropped-and-recreated at the same path both change that identity
    * and force a clean rescan of the (then small) retained log. */
  private[graft] def committedBatches(spark: SparkSession,
      tablePath: String): Set[(Option[String], Long)] =
    committedBatchesVersioned(spark, tablePath).map(e => (e._1, e._2))

  /** [[committedBatches]] with each entry's commit VERSION attached —
    * (writer identity, batchId, version). The version is what lets
    * [[replayedBatch]] tell a pre-upgrade legacy bare entry (older
    * than the table's first app-qualified entry, still honored) from
    * a LIVE identity-free writer's entry (which must not suppress a
    * qualified writer's same-numbered epochs — ADVICE r13 #3). */
  private[graft] def committedBatchesVersioned(spark: SparkSession,
      tablePath: String): Set[(Option[String], Long, Long)] =
    ledgerState(spark, tablePath)._1

  /** The full ledger view: versioned (app, batchId, version) entries
    * plus the vacuum-carried "first qualified version" floor (see
    * [[replayedBatch]]). Incremental per-table memo as before. */
  private def ledgerState(spark: SparkSession,
      tablePath: String): (Set[(Option[String], Long, Long)], Option[Long]) = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    val vs = versions(spark, tablePath)
    if (vs.isEmpty) return (Set.empty, None)
    def lineOf(v: Long): String = {
      val in = fs.open(new Path(log, f"$v%08d.json"))
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    }
    def idOf(line: String, v: Long): Option[(Option[String], Long, Long)] = {
      val i = line.indexOf("\"batchId\":")
      if (i < 0) None
      else scala.util.Try(
        line.substring(i + 10).takeWhile(c => c.isDigit || c == '-').toLong)
        .toOption.map { id =>
          // a checkpoint line carries the entry's original version —
          // classification must see THAT, not the rewrite's version
          val entryV = batchVRe.findFirstMatchIn(line)
            .map(_.group(1).toLong).getOrElse(v)
          (batchAppRe.findFirstMatchIn(line).map(m => unescKey(m.group(1))), id, entryV)
        }
    }
    val firstV = vs.head
    val firstMtime = scala.util.Try(
      fs.getFileStatus(new Path(log, f"$firstV%08d.json")).getModificationTime)
      .getOrElse(0L)
    val cached = Option(ledgerCache.get(tablePath)).filter(s =>
      s.firstV == firstV && s.firstMtime == firstMtime && s.through <= vs.last)
    val base = cached.getOrElse(
      LedgerState(firstV, firstMtime, firstV - 1, Set.empty, None))
    var floor = base.floorQual
    val fresh = vs.filter(_ > base.through).flatMap { v =>
      val line = lineOf(v)
      firstQualVRe.findFirstMatchIn(line).foreach { m =>
        val fq = m.group(1).toLong
        floor = Some(floor.fold(fq)(math.min(_, fq)))
      }
      idOf(line, v)
    }
    val ids = base.ids ++ fresh
    ledgerCache.put(tablePath, LedgerState(firstV, firstMtime, vs.last, ids, floor))
    (ids, floor)
  }

  /** batchIds already committed, identity-blind — the foreachBatch
    * writers' ledger view (one single-writer stream per table by
    * construction, so any carrier of the id is that stream's own
    * earlier publish). */
  def committedBatchIds(spark: SparkSession, tablePath: String): Set[Long] =
    committedBatches(spark, tablePath).map(_._2)

  /** Replay check for an APP-QUALIFIED streaming writer: true when
    * `batchId` was already committed by THIS writer. An entry carrying
    * the same app matches outright. A bare (identity-free) entry
    * matches only as pre-upgrade legacy — i.e. when it predates the
    * table's first app-qualified entry. A bare entry committed AFTER
    * qualified writing began belongs to a live identity-free writer
    * (e.g. a foreachBatch job sharing the table) whose epoch numbering
    * is unrelated; matching it would permanently discard this writer's
    * same-numbered epochs (ADVICE r13 #3). */
  def replayedBatch(spark: SparkSession, tablePath: String,
      app: String, batchId: Long): Boolean = {
    val (entries, floorQual) = ledgerState(spark, tablePath)
    if (entries.exists(e => e._1.contains(app) && e._2 == batchId)) true
    else {
      // the floor carried by vacuum's horizon rewrite keeps the rule
      // stable when the qualified entries themselves were truncated —
      // without it a surviving LIVE bare co-writer entry would be
      // reclassified as pre-upgrade legacy and suppress a qualified
      // writer's brand-new epoch
      val firstQualifiedV =
        (entries.filter(_._1.isDefined).map(_._3) ++ floorQual).minOption
      entries.exists(e => e._1.isEmpty && e._2 == batchId &&
        firstQualifiedV.forall(e._3 < _))
    }
  }

  /** Exactly-once streaming append: the TRANSACTIONAL form of the
    * per-batch file-naming trick ([[Similarity.appendIvfIndexBatch]])
    * — a replayed micro-batch (restart between publish and offset
    * commit) finds its batchId already in the log and stages nothing;
    * a batch that crashed BEFORE its commit left only invisible
    * staging orphans, so re-running it is safe. Returns None on a
    * recognized replay. This is how every lakehouse streaming sink
    * gets exactly-once from an at-least-once engine contract. */
  def appendStream(spark: SparkSession, tablePath: String, df: DataFrame,
      batchId: Long, bloomCols: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      app: Option[String] = None): Option[Long] = {
    // identity-qualified writers use the legacy-aware replay rule
    // ([[replayedBatch]]); identity-free callers keep the blind check
    // (their contract remains one single-writer stream per table)
    val replayed = app match {
      case Some(a) => replayedBatch(spark, tablePath, a, batchId)
      case None    => committedBatchIds(spark, tablePath).contains(batchId)
    }
    if (replayed) None
    else if (bloomCols.isEmpty && statsCols.isEmpty)
      Some(commit(spark, tablePath, stage(spark, tablePath, df),
        Seq.empty, Some(batchId), batchApp = app))
    else {
      // segment-with-metadata form: the streamed batch publishes its
      // Bloom filters / zone maps in the SAME exactly-once commit, so
      // skipping works on streamed segments identically to batch ones
      val (files, stats, blooms) =
        stageWithMeta(spark, tablePath, df, statsCols, bloomCols)
      Some(commit(spark, tablePath, files, Seq.empty, Some(batchId),
        stats = stats, blooms = blooms, batchApp = app))
    }
  }

  // ---- cross-table transactions: the parent-commit manifest ----
  // Child tables commit independently (each exactly-once under its own
  // batchId ledger); a transaction becomes VISIBLE only when its parent
  // manifest entry lands, pinning (role -> child version). Readers
  // resolve the manifest first and serve every child AS OF its pinned
  // version — so a crash between child commits, or after the last
  // child but before the manifest, leaves the PREVIOUS transaction
  // serving and the half-landed one invisible until replay completes
  // it. The manifest is itself a (data-less) commit-log directory: the
  // same claim-by-rename atomicity, batchId ledger, monotone
  // timestamps, and time travel as any table.

  /** Publish the parent commit for one transaction: `pins` maps each
    * child ROLE to the version that child's batchId-stamped commit
    * landed at. Exactly-once per batchId (None on a recognized
    * replay). Call only after EVERY child commit has landed —
    * [[versionForBatchId]] recovers a replayed child's version. */
  def txnCommit(spark: SparkSession, manifestDir: String, batchId: Long,
      pins: Map[String, Long]): Option[Long] =
    if (committedBatchIds(spark, manifestDir).contains(batchId)) None
    else Some(commit(spark, manifestDir, Seq.empty, Seq.empty,
      Some(batchId), dataChange = false, pins = pins))

  private val pinColRe = """"((?:[^"\\]|\\.)+)":(-?\d+)""".r

  /** Manifest-resolve counter — test observability only (mirrors
    * GraftPartitionReader.filesOpened): pins the one-resolve-per-query
    * contract of the transaction-pinned serving paths. */
  val txnResolves = new java.util.concurrent.atomic.AtomicLong(0)

  /** The newest committed transaction's pins at `asOf` (latest when
    * None) — empty when no transaction has ever been published. */
  def txnPins(spark: SparkSession, manifestDir: String,
      asOf: Option[Long] = None): Map[String, Long] = {
    txnResolves.incrementAndGet()
    versions(spark, manifestDir).filter(v => asOf.forall(v <= _))
      .reverseIterator
      .map(v => extractSection(commitLine(spark, manifestDir, v), "pins"))
      .collectFirst { case Some(body) =>
        pinColRe.findAllMatchIn(body).map(m =>
          unescKey(m.group(1)) -> m.group(2).toLong).toMap }
      .getOrElse(Map.empty)
  }

  // pin keys pass through esc()/the JSON scanner unescaped-safe for
  // the role names the writers use; this un-escapes the two chars esc
  // escapes so a path-shaped key round-trips too
  private def unescKey(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** The version whose commit carries `batchId` — the ledger's inverse
    * lookup, how a replayed transaction recovers the child version its
    * earlier incarnation landed. Newest-first: a batchId appears at
    * most once per table by the [[appendStream]] contract. */
  def versionForBatchId(spark: SparkSession, tablePath: String,
      batchId: Long): Option[Long] =
    versions(spark, tablePath).reverseIterator.find { v =>
      val line = commitLine(spark, tablePath, v)
      val i = line.indexOf("\"batchId\":")
      i >= 0 && scala.util.Try(line.substring(i + 10)
        .takeWhile(c => c.isDigit || c == '-').toLong)
        .toOption.contains(batchId)
    }

  def latestVersion(spark: SparkSession, tablePath: String): Long = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    if (!fs.exists(log)) -1L
    else fs.listStatus(log).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  def versions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).map(_.getPath.getName).toSeq
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted
  }

  private val tsMillisRe = """"tsMillis":(\d+)""".r

  /** Epoch millis or ISO-8601 instant — the ONE accepted-instant
    * grammar, shared by the maintenance CLI's `version-at` and the
    * DSv2 source's `timestampAsOf` so the two surfaces cannot drift. */
  def parseInstantMillis(s: String): Option[Long] =
    scala.util.Try(s.toLong).toOption
      .orElse(scala.util.Try(java.time.Instant.parse(s).toEpochMilli).toOption)

  /** A commit's wall-clock time in epoch millis. Commits written since
    * the field existed carry `tsMillis` in their JSON line; older
    * commits (and foreign logs) fall back to the log file's
    * modification time — Delta's same fallback for un-stamped
    * commits. None only when the commit file is unreadable. */
  def commitTimestampMillis(spark: SparkSession, tablePath: String,
      v: Long): Option[Long] = {
    val p = new Path(new Path(tablePath, LogDir), f"$v%08d.json")
    val fs = fsOf(spark, p)
    scala.util.Try(commitLine(spark, tablePath, v)).toOption.flatMap { line =>
      tsMillisRe.findFirstMatchIn(line).map(_.group(1).toLong)
        .orElse(scala.util.Try(fs.getFileStatus(p).getModificationTime).toOption)
    }
  }

  /** TIMESTAMP AS OF resolution: the newest retained version whose
    * commit time is <= `tsMillis` — binary search over the (vacuum-
    * bounded) version list, O(log versions) commit-line reads.
    * Refuses a timestamp before the oldest retained commit (that
    * history is below the vacuum horizon — the same contract as
    * [[restore]]); a timestamp past the newest commit resolves to the
    * newest (the table simply hasn't changed since). */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val vs = versions(spark, tablePath)
    require(vs.nonEmpty, s"versionAtTimestamp: $tablePath has no commits")
    def tsOf(i: Int): Long =
      commitTimestampMillis(spark, tablePath, vs(i)).getOrElse(Long.MaxValue)
    require(tsMillis >= tsOf(0),
      s"timestamp $tsMillis predates the oldest retained commit " +
      s"(v${vs.head} at ${tsOf(0)}) — below the vacuum horizon")
    var lo = 0
    var hi = vs.length - 1
    var ans = 0
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tsOf(mid) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    vs(ans)
  }

  /** Snapshot read at a wall-clock instant — `TIMESTAMP AS OF` over
    * the commit timestamps. `ts` accepts epoch millis. */
  def readTimestampAsOf(spark: SparkSession, tablePath: String,
      tsMillis: Long): DataFrame =
    read(spark, tablePath, Some(versionAtTimestamp(spark, tablePath, tsMillis)))

  // ---- one Snapshot per table version --------------------------------

  /** The table at one committed version, resolved once and shared by
    * every metadata question about that version (Delta's Snapshot,
    * scaled down). A resolve reads only the pin, the newest checkpoint
    * id at or below it and the JSON tail after that checkpoint; every
    * other field is lazy, computed at most once and only when asked —
    * the commit path asks for `declared` and `constraints` and never
    * pays the checkpoint reads a scan needs:
    *  - `live`: the live data files, paths relative to the root;
    *  - `stats`, `blooms`, `dvRefs`: checkpoint rows plus the tail;
    *  - `declared`, `constraints`: the latest such field at or before
    *    the version;
    *  - `footerSchema`: the newest live file's footer — an undeclared
    *    table's schema (uniform by contract: evolution requires a
    *    declaration).
    *
    * Commits are published by put-if-absent and never rewritten, so the
    * state at a version is immutable, and pinned and "latest" reads of
    * it share one Snapshot. [[resolve]] caches it under (table path,
    * version, the pinned commit file's mtime and length): a table
    * dropped and re-created at the same path, or the horizon line
    * vacuum rewrites in place, resolves afresh. The cache keeps the
    * [[SnapshotKeepPins]] + 1 most recently used versions per table. */
  private[graft] final class Snapshot private[CommitLog] (
      spark: SparkSession, val tablePath: String, val version: Long,
      private[CommitLog] val identity: (Long, Long),
      val cp: Option[Long], val tail: Seq[(Long, String)]) {

    lazy val live: Seq[String] = replayable.replayLive()
    lazy val stats: FileStats = replayable.replay(
      cpMeta(_, "stats", parseStatsCols), extractStats)
    lazy val blooms: FileBlooms = replayable.replay(
      cpMeta(_, "blooms", parseBloomCols), extractBlooms)
    lazy val dvRefs: FileDvs = replayable.replay(cpDvs, extractDvs)
    lazy val declared: Option[StructType] = replayable.newest(line =>
      schemaFieldRe.findFirstMatchIn(line).map(m =>
        DataType.fromJson(unb64(m.group(1))).asInstanceOf[StructType]))
    lazy val constraints: Constraints = replayable.newest(line =>
      extractSection(line, "constraints").map(body =>
        bloomColRe.findAllMatchIn(body).map(m =>
          m.group(1) -> unb64(m.group(2))).toMap: Constraints))
      .getOrElse(Map.empty)
    lazy val footerSchema: Option[StructType] =
      live.lastOption.map(f => spark.read.parquet(s"$tablePath/$f").schema)

    /** This snapshot, or a fresh resolve of the same version when a
      * vacuum has since deleted its checkpoint (vacuum leaves one at its
      * horizon, at or below this version, and rewrites the horizon
      * line to carry the schema and constraints). */
    private[CommitLog] def replayable: Snapshot =
      if (cp.forall(c => fsOf(spark, cpPath(c)).exists(cpPath(c)))) this
      else resolveAt(spark, tablePath, version, identity)

    private[CommitLog] def checkpoint(c: Long): DataFrame =
      spark.read.parquet(cpPath(c).toString)

    private def cpPath(c: Long) = new Path(new Path(tablePath, LogDir), cpDirName(c))

    /** Order-aware: per version adds then removes, so a remove cancels
      * only earlier adds and a later re-add (restore) wins. */
    private def replayLive(): Seq[String] = {
      val acc = scala.collection.mutable.LinkedHashSet.empty[String]
      cp.foreach(c => acc ++= checkpoint(c).select("file").collect().map(_.getString(0)))
      tail.foreach { case (_, line) =>
        acc ++= extractArr(line, "adds")
        acc --= extractArr(line, "removes")
      }
      acc.toSeq
    }

    /** Latest entry per file: the checkpoint's, then each tail commit's
      * (entries are complete per-file replacements). */
    private def replay[V](fromCp: DataFrame => Seq[(String, V)],
        fromLine: String => Map[String, V]): Map[String, V] = {
      val acc = scala.collection.mutable.Map.empty[String, V]
      cp.foreach(c => acc ++= fromCp(checkpoint(c)))
      tail.foreach { case (_, line) => acc ++= fromLine(line) }
      acc.toMap
    }

    /** The newest value `field` finds in the commit lines at or below
      * this version: the tail in hand first, then (only when the tail
      * has none) the lines at or below the checkpoint. */
    private def newest[T](field: String => Option[T]): Option[T] =
      (tail.reverseIterator.map(_._2) ++ cp.iterator.flatMap(c =>
        versions(spark, tablePath).filter(_ <= c).reverseIterator
          .map(commitLine(spark, tablePath, _))))
        .map(field).collectFirst { case Some(t) => t }
  }

  /** Versions kept per table in the snapshot cache beyond the most
    * recently used one (older versions re-resolve on demand —
    * correctness is version-keyed, only latency changes). */
  private val SnapshotKeepPins = 4

  private val snapshots =
    new graft.AppScopedCache[java.util.Map[Long, Snapshot]]()

  /** Test observability: the versions of `tablePath` the cache holds. */
  private[graft] def cachedPins(spark: SparkSession, tablePath: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    val pins = pinsOf(spark, tablePath)
    pins.synchronized(pins.keySet.asScala.toSet)
  }

  private def pinsOf(spark: SparkSession, tablePath: String) =
    snapshots.getOrCompute(spark, tablePath)(java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Long, Snapshot](8, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Long, Snapshot]): Boolean =
          size() > SnapshotKeepPins + 1
      }))

  /** The [[Snapshot]] at `asOf`, latest when None (found by listing,
    * so a concurrent writer's new commit is seen). Version -1 is the
    * empty table before its first commit. A version the log does not
    * hold — past the newest commit, or below the vacuum horizon — is
    * refused, never served as some other version's state. */
  private[graft] def resolve(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Snapshot = {
    val pin = asOf.getOrElse(latestVersion(spark, tablePath))
    if (pin == -1L) return new Snapshot(spark, tablePath, -1L, (0L, 0L), None, Seq.empty)
    val p = new Path(new Path(tablePath, LogDir), f"$pin%08d.json")
    val st = try fsOf(spark, p).getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        val vs = versions(spark, tablePath)
        throw new IllegalArgumentException(s"no version $pin exists in $tablePath" +
          (if (vs.isEmpty) " (empty log)"
          else if (pin < vs.head)
            s" — oldest retained is v${vs.head} (below the vacuum horizon)"
          else s" — the log holds v${vs.head}..v${vs.last}"))
    }
    val id = (st.getModificationTime, st.getLen)
    val pins = pinsOf(spark, tablePath)
    Option(pins.get(pin)).filter(_.identity == id).getOrElse {
      val s = resolveAt(spark, tablePath, pin, id)
      pins.put(pin, s)
      s
    }
  }

  private def resolveAt(spark: SparkSession, tablePath: String, pin: Long,
      identity: (Long, Long)): Snapshot = {
    val cp = bestCheckpoint(spark, tablePath, Some(pin))
    val tail = versions(spark, tablePath).filter(v => cp.forall(v > _) && v <= pin)
      .map(v => v -> commitLine(spark, tablePath, v))
    new Snapshot(spark, tablePath, pin, identity, cp, tail)
  }

  /** The live file set at `asOf` (default: latest): the newest parquet
    * checkpoint at or below it plus the JSON tail after it —
    * O(checkpoint + tail), not O(versions). Paths relative to root. */
  def snapshot(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Seq[String] = resolve(spark, tablePath, asOf).live

  // controlled format written by commit(): values are uuid/part file
  // names (no quotes or commas inside), so a tiny scanner suffices
  private def extractArr(json: String, key: String): Seq[String] = {
    val start = json.indexOf("\"" + key + "\":[")
    if (start < 0) return Seq.empty
    val open = json.indexOf('[', start)
    val close = json.indexOf(']', open)
    val body = json.substring(open + 1, close).trim
    if (body.isEmpty) Seq.empty
    else body.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Zone maps replayed from the log: a file's stats ride the commit
    * that ADDED it (controlled format — see [[jstats]]); files
    * committed without stats simply never prune. Served from the
    * newest parquet checkpoint + JSON tail, like [[snapshot]]. */
  def fileStats(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): FileStats = resolve(spark, tablePath, asOf).stats

  private val statsFileRe = """"((?:[^"\\]|\\.)+)":\{([^}]*)\}""".r
  private val statsColRe = """"((?:[^"\\]|\\.)+)":\[([^,\]]+),([^\]]+)\]""".r
  private val bloomColRe = """"((?:[^"\\]|\\.)+)":"([^"]+)"""".r

  /** The body of `"key":{...}` by brace walk (values contain no
    * braces, so only the per-file objects nest — depth bookkeeping
    * suffices). */
  private def extractSection(json: String, keyName: String): Option[String] = {
    val key = "\"" + keyName + "\":{"
    val start = json.indexOf(key)
    if (start < 0) return None
    var i = start + key.length - 1
    var depth = 0
    var end = -1
    while (end < 0 && i < json.length) {
      json.charAt(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    if (end < 0) None else Some(json.substring(start + key.length, end))
  }

  // corrupt bounds parse to NaN, whose comparisons are all false — every
  // driver-side consumer (zone keep, replaceRange extents) then takes
  // its conservative branch instead of throwing or mis-pruning
  private def numOrNaN(s: String): Double =
    s.toDoubleOption.getOrElse(Double.NaN)

  private def extractStats(json: String): FileStats =
    extractSection(json, "stats").fold(Map.empty: FileStats) { body =>
      statsFileRe.findAllMatchIn(body).map { fm =>
        fm.group(1) -> statsColRe.findAllMatchIn(fm.group(2)).map { cm =>
          cm.group(1) -> (numOrNaN(cm.group(2)), numOrNaN(cm.group(3)))
        }.toMap
      }.toMap
    }

  private def extractBlooms(json: String): FileBlooms =
    extractSection(json, "blooms").fold(Map.empty: FileBlooms) { body =>
      statsFileRe.findAllMatchIn(body).map { fm =>
        fm.group(1) -> bloomColRe.findAllMatchIn(fm.group(2)).map { cm =>
          cm.group(1) -> cm.group(2)
        }.toMap
      }.toMap
    }

  /** Bloom filters replayed from the log, same contract as
    * [[fileStats]]: a file's filters ride the commit that ADDED it;
    * files committed without them simply never prune. */
  def fileBlooms(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): FileBlooms = resolve(spark, tablePath, asOf).blooms

  private def extractDvs(json: String): Map[String, String] =
    extractSection(json, "dvs").fold(Map.empty[String, String]) { body =>
      bloomColRe.findAllMatchIn(body).map(cm => cm.group(1) -> cm.group(2)).toMap
    }

  /** Deletion-vector REFERENCES in force at `asOf`: latest `dvs`
    * entry per file (each entry is a complete replacement), checkpoint
    * base + JSON tail like [[fileStats]]. An entry is either inline
    * base64 (small vectors) or `@<name>` — a sidecar file under the
    * log holding the raw bytes, written by [[delete]] when a vector
    * outgrows the inline threshold (Delta's sidecar-DV transport: the
    * commit stays metadata-sized; bytes are loaded where needed).
    * Entries for files no longer live may linger until a checkpoint
    * prunes them; callers filter by the snapshot's file set. */
  def deletionVectorRefs(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): FileDvs = resolve(spark, tablePath, asOf).dvRefs

  /** Decoded bytes behind one DV reference — inline base64, or a
    * driver-side sidecar read. Use per TOUCHED file (delete's prior
    * merge, the change feed's diff), never over a whole table. */
  private def dvBytesOf(spark: SparkSession, tablePath: String,
      enc: String): Array[Byte] =
    if (enc.startsWith("@")) {
      val p = new Path(new Path(tablePath, LogDir), enc.drop(1))
      val fs = fsOf(spark, p)
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    } else java.util.Base64.getDecoder.decode(enc)

  /** Deletion vectors in force at `asOf`, decoded to bytes on the
    * driver. Introspection/test surface — the scan path masks through
    * [[maskDvs]], which keeps sidecar bytes on the executors. */
  def deletionVectors(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Map[String, Array[Byte]] =
    deletionVectorRefs(spark, tablePath, asOf).map { case (f, enc) =>
      f -> dvBytesOf(spark, tablePath, enc)
    }

  /** Deleted-row count behind one decoded deletion vector: bits are
    * set only at real row ordinals (never padding), so the raw
    * popcount IS the cardinality. */
  def dvCardinality(bytes: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    while (i < bytes.length) {
      n += java.lang.Integer.bitCount(bytes(i) & 0xFF)
      i += 1
    }
    n
  }

  // ---- periodic parquet checkpoints (the Delta _last_checkpoint
  // design): every `checkpointInterval` commits the writer persists
  // the RESOLVED table state — one parquet row per live file carrying
  // that file's stats/blooms — plus a `_last_checkpoint` pointer.
  // Snapshot/stats/bloom resolution then reads checkpoint + JSON tail
  // instead of replaying O(versions) commits, and the payload is
  // columnar rows (never one driver-sized JSON string: a 100k-file
  // table's blooms are ~GBs — exactly what must not be a single
  // string). The checkpoint is built INCREMENTALLY: previous
  // checkpoint (parquet domain) minus the tail's removes plus the
  // tail's adds — only the bounded tail's metadata is ever
  // driver-resident. ----

  /** Commits between periodic checkpoints; configurable via
    * `spark.graft.commitlog.checkpointInterval` (<= 0 disables). */
  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.commitlog.checkpointInterval")
      .map(_.toInt).getOrElse(20)

  private def cpDirName(v: Long) = f"cp-$v%08d.parquet"
  private val cpNameRe = """cp-(\d+)\.parquet""".r

  /** Parquet checkpoint versions present, ascending. Discovery is by
    * listing (correct even if the `_last_checkpoint` pointer write was
    * lost); the pointer is the O(1) fast path for the latest. */
  def checkpointVersions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).map(_.getPath.getName).toSeq.collect {
      case cpNameRe(d) => d.toLong
    }.sorted
  }

  /** The newest checkpoint at or below `asOf` (latest when None). */
  private def bestCheckpoint(spark: SparkSession, tablePath: String,
      asOf: Option[Long]): Option[Long] =
    checkpointVersions(spark, tablePath).filter(v => asOf.forall(v <= _)).lastOption

  /** The `_last_checkpoint` pointer, when present and readable. */
  def lastCheckpointPointer(spark: SparkSession, tablePath: String): Option[Long] = {
    val p = new Path(new Path(tablePath, LogDir), "_last_checkpoint")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
      val i = s.indexOf("\"version\":")
      s.drop(i + 10).takeWhile(_.isDigit).toLong
    }.toOption
  }

  /** (file, parsed body) for a checkpoint's non-empty `stats` or
    * `blooms` column — only that column is read. Full materialization:
    * for callers that need every file's metadata; scan planning goes
    * through [[prunedFilesMulti]], which keeps it in the parquet domain. */
  private def cpMeta[V](df: DataFrame, column: String,
      parse: String => V): Seq[(String, V)] =
    df.select("file", column).collect().toSeq.flatMap(r =>
      Option(r.getString(1)).filter(_.nonEmpty).map(r.getString(0) -> parse(_)))

  /** (file, dv reference) pairs from a checkpoint; tolerant of
    * checkpoints written before the dv column existed. The
    * has-a-vector filter runs in the parquet domain, so only the
    * (rare) DV-carrying rows are ever collected — a 100k-file
    * checkpoint with a handful of deletes ships a handful of rows. */
  private def cpDvs(df: DataFrame): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.{col, length}
    if (!df.columns.contains("dv")) Seq.empty
    else df.select("file", "dv")
      .filter(col("dv").isNotNull && length(col("dv")) > 0)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
  }

  private def parseStatsCols(body: String): Map[String, (Double, Double)] =
    statsColRe.findAllMatchIn(body).map { cm =>
      cm.group(1) -> (numOrNaN(cm.group(2)), numOrNaN(cm.group(3)))
    }.toMap

  private def parseBloomCols(body: String): Map[String, String] =
    bloomColRe.findAllMatchIn(body).map(cm => cm.group(1) -> cm.group(2)).toMap

  private def statsBodyOf(cols: Map[String, (Double, Double)]): String =
    cols.map { case (c, (lo, hi)) => "\"" + esc(c) + s"""":[$lo,$hi]""" }.mkString(",")

  private def bloomsBodyOf(cols: Map[String, String]): String =
    cols.map { case (c, enc) => "\"" + esc(c) + "\":\"" + enc + "\"" }.mkString(",")

  /** Persist the resolved state at version `v` as a parquet
    * checkpoint. Incremental: previous checkpoint rows stay in the
    * parquet domain (anti-joined against the tail's removes); only the
    * tail commits — bounded by the checkpoint interval, except after a
    * full-table overwrite whose removes are naturally file-count-sized
    * name lists — are parsed on the driver. Crash-safe: written to a
    * temp dir, renamed into place (readers discover only complete
    * checkpoints), pointer updated last. */
  def writeCheckpoint(spark: SparkSession, tablePath: String, v: Long): Unit = {
    import spark.implicits._
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    val prev = bestCheckpoint(spark, tablePath, Some(v)).filter(_ < v)
    val tailVs = versions(spark, tablePath)
      .filter(x => prev.forall(x > _) && x <= v)
    val tailLines = tailVs.map(x => commitLine(spark, tablePath, x))
    // ORDER-AWARE tail replay (mirrors Snapshot.live: per version,
    // adds then removes): a remove cancels only EARLIER adds, and a
    // later re-add of the same name — restore() republishes
    // previously-removed files verbatim — wins. Set semantics here
    // would drop restored files from the checkpoint, and the next
    // vacuum would then delete their data.
    val liveAdds = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    val touched = scala.collection.mutable.Set.empty[String] // any tail add/remove: base row superseded
    val dvAcc = scala.collection.mutable.Map.empty[String, String]
    tailLines.foreach { l =>
      val st = extractStats(l)
      val bl = extractBlooms(l)
      extractArr(l, "adds").foreach { f =>
        liveAdds(f) = (st.get(f).map(statsBodyOf).getOrElse(""),
          bl.get(f).map(bloomsBodyOf).getOrElse(""))
        touched += f
      }
      extractArr(l, "removes").foreach { f =>
        liveAdds -= f
        touched += f
      }
      // `dvs` entries are latest-wins replacements, never cleared by a
      // remove (deletionVectorRefs replays the same way; a re-add that
      // needs a different vector republishes it — restore() does)
      dvAcc ++= extractDvs(l)
    }
    val tailDF = liveAdds.toSeq.map { case (f, (st, bl)) => (f, st, bl) }
      .toDF("file", "stats", "blooms")
      .withColumn("dv", org.apache.spark.sql.functions.lit(""))
    val merged = prev match {
      case None => tailDF
      case Some(c) =>
        import org.apache.spark.sql.functions.{coalesce, col, lit, when}
        val baseRaw = spark.read.parquet(new Path(log, cpDirName(c)).toString)
        val base = (if (baseRaw.columns.contains("dv")) baseRaw
          else baseRaw.withColumn("dv", org.apache.spark.sql.functions.lit("")))
          .select("file", "stats", "blooms", "dv")
        val touchedDF = touched.toSeq.toDF("file")
        // re-added base files keep their base-checkpoint metadata when
        // the re-add commit carried none (the file bytes are unchanged,
        // so the old stats/blooms/DV are still valid)
        val tailFilled = tailDF.as("t")
          .join(base.as("b"), Seq("file"), "left")
          .select(col("file"),
            when(col("t.stats") =!= "", col("t.stats"))
              .otherwise(coalesce(col("b.stats"), lit(""))).as("stats"),
            when(col("t.blooms") =!= "", col("t.blooms"))
              .otherwise(coalesce(col("b.blooms"), lit(""))).as("blooms"),
            coalesce(col("b.dv"), lit("")).as("dv"))
        base.join(touchedDF, Seq("file"), "left_anti").unionByName(tailFilled)
    }
    // deletion vectors: the tail's `dvs` replacements override any
    // base-checkpoint vector (each entry is complete); files can gain
    // a DV long after their add, so this applies to base rows too.
    // Entries whose file is net-removed in the tail are dead weight —
    // drop them; a re-added file's entry (restore) is kept.
    val tailDvs = dvAcc.toMap
      .filterNot { case (f, _) => touched.contains(f) && !liveAdds.contains(f) }
    val out =
      if (tailDvs.isEmpty) merged
      else {
        val dvDF = tailDvs.toSeq.toDF("file", "dv_new")
        merged.join(dvDF, Seq("file"), "left")
          .select(org.apache.spark.sql.functions.col("file"),
            org.apache.spark.sql.functions.col("stats"),
            org.apache.spark.sql.functions.col("blooms"),
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col("dv_new"),
              org.apache.spark.sql.functions.col("dv")).as("dv"))
      }
    val tmp = new Path(log, s".cptmp-${java.util.UUID.randomUUID().toString.take(8)}")
    out.write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(log, cpDirName(v))
    if (!fs.exists(dst) && fs.rename(tmp, dst)) {
      val lp = fs.create(new Path(log, "_last_checkpoint"), true)
      try lp.write(s"""{"version":$v}""".getBytes("UTF-8")) finally lp.close()
    } else {
      fs.delete(tmp, true) // lost a race to a concurrent checkpointer
      ()
    }
  }

  /** Post-commit hook: checkpoint on the cadence. Best-effort — a
    * failed checkpoint only means a longer JSON replay, never a failed
    * commit (the commit entry is already durable). */
  private def maybeCheckpoint(spark: SparkSession, tablePath: String,
      v: Long): Unit = {
    val n = checkpointInterval(spark)
    if (n > 0 && v > 0 && v % n == 0)
      scala.util.Try(writeCheckpoint(spark, tablePath, v))
    ()
  }

  // ---- declared schema + CHECK constraints (table-boundary gate) ----

  private val schemaFieldRe = """"schemaB64":"([^"]*)"""".r

  /** The declared schema in force at `asOf` (latest declaration at or
    * before it), replayed from the log. None = never declared: the
    * table behaves as raw parquet, schema inferred from footers. */
  def tableSchema(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Option[StructType] =
    resolve(spark, tablePath, asOf).declared

  /** The CHECK-constraint set in force at `asOf` — the latest
    * `constraints` field wins (each carries the complete map). */
  def constraints(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Constraints =
    resolve(spark, tablePath, asOf).constraints

  /** Declare (or replace) the table's schema in one metadata-only
    * commit (dataChange=false — invisible to the change feed). From
    * then on EVERY write path is gated at the staging choke point
    * ([[stageWithMeta]], which append / appendStream / overwrite /
    * merge / optimize all funnel through): a staged column absent from
    * the declared schema, or typed differently, refuses the whole
    * write before anything becomes visible. Staged columns MAY be a
    * subset — the reader applies the declared schema, so files written
    * before an evolution read back with NULLs in the new columns and
    * no footer-merge pass is ever needed. */
  def declareSchema(spark: SparkSession, tablePath: String,
      schema: StructType): Long =
    commit(spark, tablePath, Seq.empty, Seq.empty, dataChange = false,
      schemaB64 = Some(b64(schema.json)))

  /** Widen the declared schema: every currently-declared field must
    * survive with an identical type (a rename/retype/drop would orphan
    * existing files' data); brand-new columns read as NULL from files
    * written before the evolution. */
  def evolveSchema(spark: SparkSession, tablePath: String,
      schema: StructType): Long = {
    val cur = tableSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"evolveSchema: $tablePath has no declared schema (declareSchema first)"))
    val next = schema.fields.map(f => f.name -> f.dataType).toMap
    cur.fields.foreach { f =>
      next.get(f.name) match {
        case Some(dt) if dt == f.dataType => ()
        case Some(dt) => throw new IllegalArgumentException(
          s"evolveSchema: ${f.name} retyped ${f.dataType.catalogString} -> ${dt.catalogString}")
        case None => throw new IllegalArgumentException(
          s"evolveSchema: declared column ${f.name} missing from the new schema")
      }
    }
    // surviving fields KEEP their column-mapping physical names even
    // when the caller's schema was built without metadata — dropping a
    // mapping here would silently orphan every pre-rename file's data.
    // Brand-NEW fields go through the same resurrection guard as the
    // catalog ALTER path ([[applyAdd]]): a widened-in column whose name
    // matches a retired physical name must mint a fresh physical, or
    // every pre-drop file would serve the retired column's data
    // through it.
    var inFlight = StructType(schema.fields.flatMap { f =>
      cur.fields.find(_.name == f.name).map { c =>
        if (ColumnMapping.physical(c) != c.name)
          ColumnMapping.withPhysical(f, ColumnMapping.physical(c))
        else f
      }
    })
    schema.fields.filterNot(f => cur.fields.exists(_.name == f.name))
      .foreach { f =>
        inFlight = StructType(inFlight.fields :+
          applyAdd(spark, tablePath, inFlight, f.name, f.dataType))
      }
    // restore the caller's column order (applyAdd appended new fields)
    val byName = inFlight.fields.map(x => x.name -> x).toMap
    declareSchema(spark, tablePath,
      StructType(schema.fields.map(f => byName(f.name))))
  }

  // ---- column lifecycle: RENAME / DROP via column mapping ----------

  /** Every PHYSICAL column name any schema declaration in the log has
    * ever used — the resurrection guard's domain: a column ADDED with
    * a logical name matching one of these must mint a fresh physical
    * name ([[addColumnField]]), or files written under the retired
    * column would serve their old data through the new one. Bounded:
    * one regex probe per retained log entry, DDL-time only. */
  private val usedPhysRe = """"usedPhys":\[([^\]]*)\]""".r
  private val jsonStrRe = """"((?:[^"\\]|\\.)*)"""".r

  private[graft] def usedPhysicalNames(spark: SparkSession,
      tablePath: String): Set[String] =
    versions(spark, tablePath).flatMap { v =>
      val line = commitLine(spark, tablePath, v)
      val declared = schemaFieldRe.findFirstMatchIn(line).toSeq.flatMap(m =>
        DataType.fromJson(unb64(m.group(1))).asInstanceOf[StructType]
          .fields.map(ColumnMapping.physical))
      // names carried forward by vacuum's horizon rewrite — the
      // truncated declarations may have been their only carriers
      val carried = usedPhysRe.findFirstMatchIn(line).toSeq.flatMap(m =>
        jsonStrRe.findAllMatchIn(m.group(1)).map(x => unescKey(x.group(1))))
      declared ++ carried
    }.toSet

  /** Refuse column DDL on a CHECK-constrained column: the stored
    * expression references the LOGICAL name, and a rename/drop would
    * leave it unresolvable (or worse, silently resolving against a
    * later re-add). Delta refuses identically. */
  private def requireUnconstrained(spark: SparkSession, tablePath: String,
      colName: String, what: String): Unit =
    constraints(spark, tablePath).foreach { case (n, sql) =>
      val refs = scala.util.Try(
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.toSet).getOrElse(Set.empty[String])
      require(!refs.contains(colName),
        s"$what: column $colName is referenced by CHECK constraint " +
        s"'$n' ($sql) — drop the constraint first")
    }

  /** `ALTER TABLE RENAME COLUMN` as ONE metadata commit — no data
    * file rewritten: the field keeps its PHYSICAL name (the name it
    * was created under, which every existing file and zone/bloom
    * entry is keyed by) via [[ColumnMapping]] and only the LOGICAL
    * (user-visible) name changes. Reads before the rename's version
    * (time travel) serve the era's own declared name. */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Long = {
    val cur = tableSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn: $tablePath has no declared schema (declareSchema first)"))
    declareSchema(spark, tablePath, applyRename(spark, tablePath, cur, from, to))
  }

  /** Pure rename validation + schema rewrite — shared by
    * [[renameColumn]] and the catalog's multi-change ALTER (which
    * must validate EVERY change before committing anything). */
  private[graft] def applyRename(spark: SparkSession, tablePath: String,
      cur: StructType, from: String, to: String): StructType = {
    val f = cur.fields.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn: $tablePath declares no column $from"))
    require(!cur.fields.exists(_.name == to),
      s"renameColumn: $tablePath already declares a column $to")
    // a logical name must NEVER equal a DIFFERENT column's physical
    // name: files, zones and blooms are keyed physically, so the
    // crossing would make every name lookup ambiguous (which column
    // is 'y'?) — refuse, except for renaming a column BACK to its own
    // physical (original) name. Delta's column mapping draws the same
    // line via its globally-unique physical names.
    require(!cur.fields.exists(x =>
      x.name != from && ColumnMapping.physical(x) == to),
      s"renameColumn: '$to' is another column's physical (original) " +
      s"name in $tablePath — the crossing would make name resolution " +
      "ambiguous; pick a fresh name")
    requireUnconstrained(spark, tablePath, from, "renameColumn")
    StructType(cur.fields.map(x =>
      if (x.name == from)
        ColumnMapping.withPhysical(x.copy(name = to), ColumnMapping.physical(f))
      else x))
  }

  /** `ALTER TABLE DROP COLUMN` as ONE metadata commit — the data
    * stays in the files (and in time travel below this version) but
    * the declared schema no longer exposes it. A later ADD COLUMN of
    * the same name gets a FRESH physical name ([[addColumnField]]),
    * so the dropped data can never resurrect. */
  def dropColumn(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val cur = tableSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: $tablePath has no declared schema (declareSchema first)"))
    declareSchema(spark, tablePath, applyDrop(spark, tablePath, cur, name))
  }

  /** Pure drop validation + schema rewrite — [[dropColumn]]'s core,
    * shared with the catalog's atomic multi-change ALTER. */
  private[graft] def applyDrop(spark: SparkSession, tablePath: String,
      cur: StructType, name: String): StructType = {
    require(cur.fields.exists(_.name == name),
      s"dropColumn: $tablePath declares no column $name")
    require(cur.fields.length > 1,
      s"dropColumn: cannot drop $tablePath's only column")
    requireUnconstrained(spark, tablePath, name, "dropColumn")
    StructType(cur.fields.filterNot(_.name == name))
  }

  /** The field for a NEW column under the resurrection guard: when
    * the logical name collides with ANY physical name the log has
    * ever declared (a dropped column, or a renamed column's original
    * name), the field is minted a fresh physical name so old files'
    * data reads as NULL through it — never the retired column's
    * values. */
  def addColumnField(spark: SparkSession, tablePath: String,
      name: String, dt: DataType): StructField =
    applyAdd(spark, tablePath,
      tableSchema(spark, tablePath).getOrElse(new StructType()), name, dt)

  /** [[addColumnField]] validated against an IN-FLIGHT schema `cur`
    * (the catalog's multi-change ALTER folds its own earlier changes
    * into it), with the resurrection-guard mint drawn from the log's
    * full declaration history PLUS `cur`'s own physicals. */
  private[graft] def applyAdd(spark: SparkSession, tablePath: String,
      cur: StructType, name: String, dt: DataType): StructField = {
    // a same-named live column means this is a duplicate ADD, not an
    // add — Spark's SQL analyzer catches the catalog path upstream,
    // but a direct alterTable call must be refused here too
    require(!cur.fields.exists(_.name == name),
      s"addColumn: $tablePath already declares a column $name")
    // invariant shared with [[applyRename]]: a LIVE column's logical
    // name must never equal a different live column's physical name —
    // minting would fix the new column's physical but the logical
    // collision alone already makes name resolution ambiguous
    require(!cur.fields.exists(x =>
      x.name != name && ColumnMapping.physical(x) == name),
      s"addColumn: '$name' is a live column's physical (original) " +
      s"name in $tablePath — pick a different name")
    val used = usedPhysicalNames(spark, tablePath) ++
      cur.fields.map(ColumnMapping.physical)
    if (!used.contains(name)) StructField(name, dt, nullable = true)
    else {
      var i = latestVersion(spark, tablePath) + 1
      var phys = s"${name}__p$i"
      while (used.contains(phys)) { i += 1; phys = s"${name}__p$i" }
      ColumnMapping.withPhysical(StructField(name, dt, nullable = true), phys)
    }
  }

  /** Add a CHECK constraint (a SQL boolean expression over the
    * table's columns). Existing data is validated FIRST — a constraint
    * the table already violates is refused — so a published constraint
    * is a guarantee over every live row, past and future (Delta's
    * ALTER TABLE ADD CONSTRAINT contract). */
  def addConstraint(spark: SparkSession, tablePath: String,
      name: String, exprSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got $name")
    if (latestVersion(spark, tablePath) >= 0 &&
        snapshot(spark, tablePath).nonEmpty) {
      val bad = violationCounts(read(spark, tablePath), Map(name -> exprSql))
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"addConstraint $name: existing data violates it (${bad.head._2} rows)")
    }
    commit(spark, tablePath, Seq.empty, Seq.empty, dataChange = false,
      constraintsField = Some(constraints(spark, tablePath) + (name -> exprSql)))
  }

  def dropConstraint(spark: SparkSession, tablePath: String,
      name: String): Long =
    commit(spark, tablePath, Seq.empty, Seq.empty, dataChange = false,
      constraintsField = Some(constraints(spark, tablePath) - name))

  /** (name, violating-row count) for constraints with any violation —
    * ONE aggregate over one scan computes every rule (the [[Quality]]
    * indicator shape). SQL CHECK semantics: only FALSE violates, NULL
    * passes. */
  private[graft] def violationCounts(df: DataFrame, cs: Constraints): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{expr, lit, sum, when}
    val names = cs.keys.toSeq.sorted
    val aggs = names.map(n =>
      sum(when(expr(cs(n)) === lit(false), 1L).otherwise(0L)).as(n))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    names.flatMap { n => // null sum = zero rows staged: nothing violates
      Option(row.getAs[Any](n)).map(_.asInstanceOf[Long]).filter(_ > 0).map(n -> _)
    }
  }

  /** CHECK-constraint gate over already-staged (but uncommitted)
    * files — the shared refuse-before-visibility step of the DSv2
    * write paths (COW row-level ops, streaming sink). Reads the
    * staged files under the nullable-relaxed write schema, and on any
    * violation runs the caller's cleanup then throws with the
    * violation counts. stageWithMeta's batch path gates the same way
    * over its tmp directory before files ever reach the table. */
  private[graft] def gateStagedFiles(spark: SparkSession, tablePath: String,
      schema: StructType, relNames: Seq[String], what: String)(
      cleanup: => Unit): Unit = {
    val cs = constraints(spark, tablePath)
    if (cs.nonEmpty && relNames.nonEmpty) {
      // read under the DECLARED schema when one exists, not the
      // writer's: a legal subset-schema write (omitted columns
      // null-fill on read) must evaluate a constraint referencing an
      // omitted column against NULL — under the write schema the
      // expression fails to resolve, the epoch dies with an
      // AnalysisException, and the staged files leak (cleanup only
      // runs on a COUNTED violation); the batch path already reads
      // under the declared schema
      val gateSchema = tableSchema(spark, tablePath).getOrElse(schema)
      // staged files carry PHYSICAL names (column mapping); CHECK
      // expressions speak logical — read physical, alias back first
      val stagedDf = spark.read
        .schema(StructType(ColumnMapping.physicalSchema(gateSchema)
          .fields.map(_.copy(nullable = true))))
        .parquet(relNames.map(f => s"$tablePath/$f"): _*)
      val bad = violationCounts(
        ColumnMapping.toLogical(stagedDf, gateSchema), cs)
      if (bad.nonEmpty) {
        cleanup
        throw new IllegalArgumentException(
          s"constraint violation on $what — nothing committed: " +
          bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
      }
    }
  }

  /** The declared-schema WRITE gate shared by the batch staging path
    * and the streaming sink factory: staged columns must be a SUBSET
    * of the declared schema with identical types (absent columns
    * null-fill on read). One definition so the two paths can never
    * drift. */
  private[graft] def enforceSchemaSubset(tablePath: String,
      declared: StructType, staged: StructType): Unit = {
    val decl = declared.fields.map(f => f.name -> f.dataType).toMap
    staged.fields.foreach { f =>
      decl.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"schema enforcement: $tablePath declares no column ${f.name} " +
          "(evolveSchema to add it)")
        case Some(dt) if dt != f.dataType => throw new IllegalArgumentException(
          s"schema enforcement: ${f.name} is declared ${dt.catalogString}, " +
          s"staged ${f.dataType.catalogString}")
        case _ => ()
      }
    }
  }

  /** DataFrameReader in the shape of `schema` when given — the
    * declared schema, or an undeclared table's footer schema
    * (nullability relaxed: absent columns in pre-evolution files must
    * materialize as NULL, not fail); plain inference when None. */
  private def readerFor(spark: SparkSession, schema: Option[StructType]) =
    schema.fold(spark.read)(d =>
      // data files are written under PHYSICAL names (column mapping):
      // read in the physical shape; callers alias back to logical
      // AFTER anything needing `_metadata` ([[ColumnMapping]])
      spark.read.schema(nullableSchema(ColumnMapping.physicalSchema(d))))

  /** Alias a physical-shape DataFrame back to the declared logical
    * names — the companion every [[readerFor]] caller applies once
    * `_metadata` consultation (DV masking, provenance selects) is
    * done. Identity for unmapped tables. */
  private def logicalOf(s: Snapshot)(df: DataFrame): DataFrame =
    s.declared.fold(df)(d => ColumnMapping.toLogical(df, d))

  /** Apply the version's deletion vectors to a parquet scan over
    * `files`: look the row's file up in a (metadata-sized) literal
    * map, probe its vector at `_metadata.row_index` — one codegen'd
    * bit test per row, rows in no vector pay a null check only. Small
    * vectors ride the plan as inline byte literals; sidecar vectors
    * ride as PATH literals and are loaded on the executors
    * ([[graft.plans.DvLoad]], cached per JVM) — a delete touching 50k
    * files ships 50k paths through the plan, never GBs of bitmaps
    * through the driver. A no-DV table returns the frame untouched
    * (zero overhead). Must wrap the scan BEFORE projections:
    * `_metadata` is only resolvable on the file source relation. */
  private def maskDvs(s: Snapshot, files: Seq[String], df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, lit, map, not}
    val tablePath = s.tablePath
    val live = files.toSet
    val refs = s.dvRefs.filter { case (f, _) => live.contains(f) }
    if (refs.isEmpty) df
    else {
      // keyed by file NAME: staged files carry fresh uuid names, so
      // names are unique table-wide and _metadata.file_name is enough
      val (sidecar, inline) = refs.toSeq.partition(_._2.startsWith("@"))
      val fn = col("_metadata.file_name")
      val branches = Seq(
        Option.when(inline.nonEmpty) {
          val entries = inline.flatMap { case (f, enc) =>
            Seq(lit(new Path(f).getName),
              lit(java.util.Base64.getDecoder.decode(enc)))
          }
          element_at(map(entries: _*), fn)
        },
        Option.when(sidecar.nonEmpty) {
          val entries = sidecar.flatMap { case (f, enc) =>
            Seq(lit(new Path(f).getName),
              lit(new Path(new Path(tablePath, LogDir), enc.drop(1)).toString))
          }
          graft.plans.DeletionVector.dvLoad(element_at(map(entries: _*), fn))
        }).flatten
      val dv = if (branches.size == 1) branches.head else coalesce(branches: _*)
      df.filter(dv.isNull ||
        not(graft.plans.DeletionVector.dvTest(dv, col("_metadata.row_index"))))
    }
  }

  /** The parquet-domain zone predicate over a checkpoint's `stats`
    * column for "[lo, hi] might intersect `column`'s zone": extract
    * the column's [min,max] from the stats body with a codegen'd
    * regexp, keep when absent (conservative) or overlapping. The
    * CaseWhen keeps the ANSI double cast off the no-stats branch.
    * Package-visible so the spec can pin the plan shape. */
  private[graft] def zoneKeep(column: String, lo: Double, hi: Double): DataFrame => DataFrame =
    df => df.filter(zoneKeepCol(column, lo, hi))

  /** [[zoneKeep]]'s predicate as a boolean Column, so a multi-probe
    * resolve can evaluate many keeps in ONE checkpoint scan. */
  private[graft] def zoneKeepCol(column: String, lo: Double, hi: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, isnan, lit, regexp_extract, when}
    val pat = "\"" + java.util.regex.Pattern.quote(esc(column)) +
      "\":\\[([^,\\]]+),([^\\]]+)\\]"
    val mn = regexp_extract(col("stats"), pat, 1)
    val mx = regexp_extract(col("stats"), pat, 2)
    // Corruption-safe like bloomKeep: a non-empty but UNPARSABLE (or
    // NaN) bound must KEEP the file — try_cast nulls instead of
    // throwing (ANSI) and the null/NaN branch short-circuits to true,
    // so a damaged stats body degrades to no-skip, never to pruning
    // live rows
    val mnD = mn.try_cast("double")
    val mxD = mx.try_cast("double")
    when(mn === "" || mx === "" ||
        mnD.isNull || mxD.isNull || isnan(mnD) || isnan(mxD), lit(true))
      .otherwise(mxD >= lo && mnD <= hi)
  }

  /** A conjunctive file-skipping predicate: numeric zone ranges plus
    * bloom point probes, evaluated together over ONE snapshot resolve.
    * Each leg is individually conservative (absent or corrupt metadata
    * keeps the file), so the conjunction is too. This is the shared
    * spine under [[scanRange]], [[scanEquals]] and the `graft` DSv2
    * source's pushdown-driven planning. */
  private[graft] final case class SkipPreds(
      ranges: Seq[(String, Double, Double)] = Seq.empty,
      probes: Seq[(String, Long)] = Seq.empty,
      // IN-set legs (runtime filters / pushed IN): a file survives a
      // (column, hashes) entry when ANY hash might be present — OR
      // across the set, AND across entries
      probeSets: Seq[(String, Seq[Long])] = Seq.empty) {
    def isEmpty: Boolean = ranges.isEmpty && probes.isEmpty && probeSets.isEmpty
  }

  /** Driver-side per-file keep decision for a [[SkipPreds]] over
    * ALREADY-RESOLVED metadata maps — the runtime-filter twin of the
    * tail-walk keep check, for callers that must preserve a
    * precomputed file GROUPING (the keyed scan's storage-partitioned
    * contract) and therefore prune files WITHIN groups instead of
    * re-resolving the snapshot. Conservative like every leg: absent
    * or corrupt metadata keeps the file. */
  private[graft] def fileMightMatch(f: String, zones: FileStats,
      blooms: FileBlooms, preds: SkipPreds): Boolean = {
    val fst = zones.getOrElse(f, Map.empty[String, (Double, Double)])
    val fbl = blooms.getOrElse(f, Map.empty[String, String])
    preds.ranges.forall { case (c, lo, hi) =>
      fst.get(c).forall { case (mn, mx) =>
        mn.isNaN || mx.isNaN || !(mx < lo || mn > hi) } } &&
    preds.probes.forall { case (c, h) => addMightContain(fbl, c, h) } &&
    preds.probeSets.forall { case (c, hs) =>
      hs.exists(h => addMightContain(fbl, c, h)) }
  }

  /** Driver-side twin of [[bloomKeep]] for a tail add's parsed bloom
    * entry; any corrupt entry keeps the file (never throws). */
  private def addMightContain(bl: Map[String, String], column: String,
      h: Long): Boolean =
    bl.get(column) match {
      case Some(enc) => scala.util.Try {
        val Array(kStr, b64s) = enc.split(":", 2)
        graft.plans.BloomAggregate.mightContain(
          graft.plans.BloomAggregate.wordsOf(
            java.util.Base64.getDecoder.decode(b64s)), h, kStr.toInt)
      }.getOrElse(true)
      case None => true
    }

  /** The version's live files minus every file whose logged metadata
    * provably excludes ALL of `preds` — [[prunedFilesMulti]] for one
    * predicate. */
  private[graft] def prunedFilesFor(spark: SparkSession, tablePath: String,
      asOf: Option[Long], preds: SkipPreds): Seq[String] =
    prunedFilesMulti(resolve(spark, tablePath, asOf), Seq(preds)).head

  /** xxhash64 probe for `column = value`, hashed the way the stored
    * filter hashed the COLUMN — i.e. at the column's declared type's
    * bit width. An Int probe against a bigint column (or Long against
    * int) hashes differently and would prune files that DO match after
    * the filter's implicit cast, so the probe value is cast to the
    * column type first; None when the type can't be resolved or the
    * cast is lossy (no pruning — the re-applied predicate decides). */
  private[graft] def probeHashFor(spark: SparkSession, tablePath: String,
      asOf: Option[Long], column: String, value: Any): Option[Long] = {
    val s = resolve(spark, tablePath, asOf)
    probeHashOf(s.declared.orElse(s.footerSchema), column, value)
  }

  /** The probe-typing core of [[probeHashFor]] against an
    * already-resolved schema — the multi-probe path resolves the
    * schema ONCE and types every term against it. */
  private def probeHashOf(schema: Option[StructType], column: String,
      value: Any): Option[Long] = {
    // `column` may arrive as a LOGICAL name (user-facing probes) or a
    // PHYSICAL one (the scan's mapped filters) — resolve either; a
    // physical name is unique, so the disjunction is unambiguous
    val colType = schema.flatMap(_.fields.find(f =>
      f.name == column || ColumnMapping.physical(f) == column).map(_.dataType))
    val probe: Option[Any] = (colType, value) match {
      case (Some(LongType), i: Int) => Some(i.toLong)
      case (Some(LongType), l: Long) => Some(l)
      case (Some(IntegerType), l: Long) =>
        if (l.isValidInt) Some(l.toInt) else None // can still match via cast; don't prune
      case (Some(IntegerType), i: Int) => Some(i)
      case (Some(StringType), s: String) => Some(s)
      case _ => None // unknown/mismatched type: no pruning, filter decides
    }
    probe.map(graft.plans.BloomAggregate.hashOf)
  }

  /** Snapshot read WITH data skipping: resolve the version's file set,
    * then drop every file whose logged zone provably excludes
    * [lo, hi] on `column` — no listing, no footer reads for pruned
    * files, and the zone evaluation runs IN the checkpoint's parquet
    * domain (only surviving file names reach the driver; the tail's
    * adds, bounded by the checkpoint interval, are checked from their
    * parsed JSON). Conservative: un-statted files are kept, and the
    * predicate is re-applied, so the result is identical to an
    * unpruned scan-and-filter. */
  def scanRange(spark: SparkSession, tablePath: String, column: String,
      lo: Double, hi: Double, asOf: Option[Long] = None): DataFrame = {
    val s = resolve(spark, tablePath, asOf)
    // zones are keyed by PHYSICAL names (column mapping)
    val physCol = s.declared
      .fold(column)(ColumnMapping.physicalName(_, column))
    val files = prunedFilesMulti(s,
      Seq(SkipPreds(ranges = Seq((physCol, lo, hi))))).head
    val pred = org.apache.spark.sql.functions.col(column) >= lo &&
      org.apache.spark.sql.functions.col(column) <= hi
    if (files.isEmpty) read(spark, tablePath, asOf).filter(org.apache.spark.sql.functions.lit(false))
    // declared-schema read: a post-evolution scan over mixed-schema
    // survivors must null-fill, exactly like [[read]]
    else logicalOf(s)(maskDvs(s, files,
      readerOf(spark, s)
        .parquet(files.map(f => s"$tablePath/$f"): _*))).filter(pred)
  }

  /** Append publishing per-file zone maps for `statsCols` in the same
    * commit — the stats are computed over the staged files BEFORE the
    * move, so one commit carries data AND its skipping metadata. */
  def appendWithStats(spark: SparkSession, tablePath: String, df: DataFrame,
      statsCols: Seq[String]): Long = {
    val (files, stats, _) = stageWithMeta(spark, tablePath, df, statsCols, Seq.empty)
    commit(spark, tablePath, files, Seq.empty, stats = stats)
  }

  /** Append publishing per-file Bloom filters for `bloomCols` (and
    * optionally zone maps for `statsCols`) in the same commit. mBits
    * sizes each filter (default 2^16 bits = 8 KiB/file/column — ~1%
    * false positives at 6k distinct values with k=5; size up for
    * bigger files). */
  def appendWithBloom(spark: SparkSession, tablePath: String, df: DataFrame,
      bloomCols: Seq[String], statsCols: Seq[String] = Seq.empty,
      mBits: Int = 1 << 16, k: Int = 5): Long = {
    val (files, stats, blooms) =
      stageWithMeta(spark, tablePath, df, statsCols, bloomCols, mBits, k)
    commit(spark, tablePath, files, Seq.empty, stats = stats, blooms = blooms)
  }

  /** Snapshot read WITH Bloom skipping: resolve the version's file
    * set, then drop every file whose logged filter says `column =
    * value` definitively has no match — the point-predicate
    * complement of [[scanRange]], for high-cardinality keys where
    * zones can't help. Conservative exactly like scanRange: files
    * without a filter are kept, the predicate is re-applied, so the
    * result is identical to an unpruned scan-and-filter. Probe types:
    * integral or string (the columns `xxhash64` hashes portably). */
  def scanEquals(spark: SparkSession, tablePath: String, column: String,
      value: Any, asOf: Option[Long] = None): DataFrame =
    scanEqualsMulti(spark, tablePath, column, Seq(value), asOf).head

  /** ONE parquet-domain job, many probes: for each `preds(i)`, the
    * pinned version's live files NOT provably excluded by it — the
    * per-term pruning of [[scanEquals]] batched so a k-term query pays
    * one checkpoint scan and one tail walk instead of k full snapshot
    * resolutions. Each leg keeps its conservative posture (absent or
    * corrupt metadata keeps the file); an EMPTY SkipPreds yields the
    * full live set (the no-pruning fallback for unhashable probes).
    * Only rows some probe keeps are collected, each as (file, k keep
    * bits) — still O(survivors) driver traffic. */
  private[graft] def prunedFilesMulti(snap: Snapshot,
      preds: Seq[SkipPreds]): Seq[Seq[String]] = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snap.replayable
    val keepCols = preds.map { p =>
      (p.ranges.map { case (c, lo, hi) => zoneKeepCol(c, lo, hi) } ++
        p.probes.map { case (c, h) => bloomKeepCol(c, h) } ++
        p.probeSets.map { case (c, hs) =>
          hs.map(h => bloomKeepCol(c, h)).reduce(_ || _) })
        .reduceOption(_ && _).getOrElse(lit(true))
    }
    val out = preds.map(_ => scala.collection.mutable.LinkedHashSet.empty[String])
    s.cp.foreach { c =>
      s.checkpoint(c)
        .select(col("file") +: keepCols.zipWithIndex.map { case (k, i) =>
          // a NULL keep means "filtered out" under the single-probe
          // path's df.filter — coalesce to false for identical results
          org.apache.spark.sql.functions.coalesce(k, lit(false)).as(s"_k$i")
        }: _*)
        .filter(preds.indices.map(i => col(s"_k$i")).reduce(_ || _))
        .collect()
        .foreach { r =>
          var i = 0
          while (i < preds.length) {
            if (r.getBoolean(i + 1)) out(i) += r.getString(0)
            i += 1
          }
        }
    }
    s.tail.foreach { case (_, line) =>
      val st = extractStats(line)
      val bl = extractBlooms(line)
      val adds = extractArr(line, "adds")
      val removes = extractArr(line, "removes")
      preds.zipWithIndex.foreach { case (p, i) =>
        adds.foreach { f =>
          val fst = st.getOrElse(f, Map.empty[String, (Double, Double)])
          val fbl = bl.getOrElse(f, Map.empty[String, String])
          val keep = p.ranges.forall { case (c, lo, hi) =>
            fst.get(c).forall { case (mn, mx) => !(mx < lo || mn > hi) } } &&
            p.probes.forall { case (c, h) => addMightContain(fbl, c, h) } &&
            p.probeSets.forall { case (c, hs) =>
              hs.exists(h => addMightContain(fbl, c, h)) }
          if (keep) out(i) += f
        }
        out(i) --= removes
      }
    }
    out.map(_.toSeq)
  }

  /** [[scanEquals]] batched over many probe values with ONE metadata
    * resolve. A k-term index query (phrase intersect, BM25, AND
    * search) previously paid k independent snapshot resolutions — k
    * version listings, k checkpoint scans, k schema replays, k DV
    * replays — all of the SAME version: pure fixed cost that dominated
    * serve latency once the data work shrank to Bloom-pruned segment
    * reads. Here the version pins once, the schema and DV references
    * replay once (memoized app-wide per pinned version), and every
    * term's Bloom pruning runs in one parquet-domain job over the
    * checkpoint. Returns one DataFrame per value, each identical to
    * its [[scanEquals]] twin. */
  def scanEqualsMulti(spark: SparkSession, tablePath: String, column: String,
      values: Seq[Any], asOf: Option[Long] = None): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (values.isEmpty) return Seq.empty
    val s = resolve(spark, tablePath, asOf)
    // probe typing subtleties live in [[probeHashOf]]; None = no
    // pruning for this shape (conservative — identical results)
    // blooms are keyed by PHYSICAL names (column mapping); the probe
    // TYPE resolves through the declared (logical) schema
    val physCol = s.declared
      .fold(column)(ColumnMapping.physicalName(_, column))
    val preds = values.map(v => probeHashOf(s.declared.orElse(s.footerSchema), column, v)
      .fold(SkipPreds())(h => SkipPreds(probes = Seq((physCol, h)))))
    val filesPer = prunedFilesMulti(s, preds)
    val reader = readerOf(spark, s)
    values.zip(filesPer).map { case (v, files) =>
      if (files.isEmpty) {
        // same shape [[read]].filter(false) serves: the full live scan
        // under the empty filter (planner prunes it), or the declared
        // schema's empty relation for a file-less table
        if (s.live.nonEmpty)
          logicalOf(s)(
            reader.parquet(s.live.map(f => s"$tablePath/$f"): _*))
            .filter(lit(false))
        else {
          require(s.declared.isDefined,
            s"no live files in $tablePath" +
            asOf.fold("")(a => s" at version $a") + " and no declared schema")
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            s.declared.get)
        }
      } else logicalOf(s)(maskDvs(s, files,
        reader.parquet(files.map(f => s"$tablePath/$f"): _*)))
        .filter(col(column) === lit(v))
    }
  }

  /** The parquet-domain bloom probe over a checkpoint's `blooms`
    * column for "file might contain the value hashing to `h` in
    * `column`". The probe's k bit positions derive from driver
    * constants (Kirsch–Mitzenmacher g_i = h1 + i*h2 — the same
    * doubling [[graft.plans.BloomAggregate]] builds with); only the
    * modulus (the per-file filter's bit count) is per-row, so each
    * probe is pmod + one [[graft.plans.DvTest]] bit test — the
    * codegen'd bitset probe, whose big-endian word layout matches
    * BloomAggregate's exactly. Files without a filter, with an
    * unparseable entry, or with k beyond the probe fan-out are kept
    * (conservative). Package-visible so the spec can pin the plan. */
  private[graft] def bloomKeep(column: String, h: Long): DataFrame => DataFrame =
    df => df.filter(bloomKeepCol(column, h))

  /** [[bloomKeep]]'s predicate as a boolean Column — the multi-probe
    * twin of [[zoneKeepCol]]. */
  private[graft] def bloomKeepCol(column: String, h: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, get, lit, not, octet_length, pmod, regexp_extract, split, unbase64, when}
    val pat = "\"" + java.util.regex.Pattern.quote(esc(column)) + "\":\"([^\"]+)\""
    // probe positions' dividends: driver constants (h is the constant
    // probe's hash; truncation to Int mirrors BloomAggregate.positions)
    val h1 = (h & 0xffffffffL).toInt
    val h2 = ((h >>> 32).toInt << 1) | 1
    val kMax = 16
    val gs = Array.tabulate(kMax)(i => (h1 + i.toLong * h2).toInt)
    val enc = regexp_extract(col("blooms"), pat, 1)
    val parts = split(enc, ":", 2)
    val kCol = get(parts, lit(0)).cast("int")
    val b64 = get(parts, lit(1))
    val bin = unbase64(b64)
    // whole 64-bit words only, exactly like BloomAggregate.wordsOf —
    // a trailing partial word is never probed by the builder either
    val mBits = (octet_length(bin) - pmod(octet_length(bin), lit(8))) * 8
    val mightContain = (0 until kMax).map { i =>
      lit(i) >= kCol || graft.plans.DeletionVector.dvTest(
        bin, pmod(lit(gs(i)), mBits).cast("long"))
    }.reduce(_ && _)
    // a CORRUPT entry must keep the file, never throw: the digit
    // guard is LENGTH-bounded (an unbounded `[0-9]+` would let a
    // hostile k overflow the ANSI int cast) and the payload must be
    // shaped like base64 before unbase64 ever evaluates — the lazy
    // CaseWhen keeps both casts off the malformed branch
    val malformed = enc === "" ||
      not(enc.rlike("^[0-9]{1,3}:")) ||
      not(b64.rlike("^[A-Za-z0-9+/]+={0,2}$")) ||
      pmod(org.apache.spark.sql.functions.length(b64), lit(4)) =!= 0
    when(malformed, lit(true))
      .otherwise(when(kCol > kMax || mBits <= 0, lit(true))
        .otherwise(mightContain))
  }

  /** Snapshot read: resolve a version, hand exactly that commit's file
    * set to the reader. Concurrent writers are invisible — they only
    * publish by writing a NEW log entry this read never consults. */
  def read(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): DataFrame = {
    val s = resolve(spark, tablePath, asOf)
    if (s.live.isEmpty) {
      // a truncated/pre-first-append table still reads — as the empty
      // relation in its declared schema (without one there is no shape
      // to serve, and the old refusal stands)
      require(s.declared.isDefined,
        s"no live files in $tablePath" + asOf.fold("")(v => s" at version $v") +
        " and no declared schema")
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        s.declared.get)
    }
    logicalOf(s)(maskDvs(s, s.live,
      readerOf(spark, s).parquet(s.live.map(f => s"$tablePath/$f"): _*)))
  }

  /** [[readerFor]] under the declared schema, else the footer schema:
    * one footer read per version, not one inference pass per query
    * (undeclared tables are uniform-schema by contract: evolution
    * requires a declaration). */
  private def readerOf(spark: SparkSession, s: Snapshot) =
    readerFor(spark, s.declared.orElse(s.footerSchema))

  /** Stage `df` as new immutable data files and publish them in one
    * commit. Appends never rewrite existing files. */
  def append(spark: SparkSession, tablePath: String, df: DataFrame): Long =
    commit(spark, tablePath, stage(spark, tablePath, df), Seq.empty)

  /** Atomic full-table rewrite: stage the new content, then ONE commit
    * swaps it for every file live at the PINNED snapshot version.
    * Readers see the old or the new table, never a mixture — this is
    * what [[Compaction]]'s raw-parquet swap cannot promise. Conflicts
    * with any interleaved commit (the removes were computed from the
    * pinned snapshot): throws ConcurrentModificationException instead
    * of publishing a lost update. */
  def overwrite(spark: SparkSession, tablePath: String, df: DataFrame,
      dataChange: Boolean = true): Long = {
    val v0 = latestVersion(spark, tablePath)
    val old = if (v0 < 0) Seq.empty[String] else snapshot(spark, tablePath, Some(v0))
    commit(spark, tablePath, stage(spark, tablePath, df), old,
      dataChange = dataChange, expectedVersion = Some(v0))
  }

  /** RESTORE TABLE — Delta's revert-to-version as one NEW commit:
    * the live set becomes `version`'s snapshot (re-adding files that
    * were removed since, removing files added since), history stays
    * intact (the restore is itself time-travelable, and un-doable by
    * another restore). Deletion vectors are restored too: a file
    * whose vector changed since `version` gets its at-version vector
    * republished, and a file deleted-from since `version` gets an
    * explicit all-zero tombstone vector (entries are latest-wins, so
    * silence would leave the newer deletes in force). Refuses a
    * version below the vacuum horizon (its snapshot is no longer
    * resolvable) — the Delta RESTORE constraint. Change-feed note:
    * file-level adds/removes surface as inserts/deletes; rows
    * un-deleted purely by a DV rollback do not re-surface (document
    * consumers should re-seed after a restore, as with Delta CDF). */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    val vs = versions(spark, tablePath)
    require(vs.nonEmpty, s"restore: $tablePath has no commits")
    require(version >= vs.head && version <= vs.last,
      s"restore: version $version outside the resolvable log [${vs.head}, ${vs.last}]" +
        (if (version < vs.head) " (below the vacuum horizon)" else ""))
    val v0 = vs.last // the pinned "current" this revert is computed against
    val target = snapshot(spark, tablePath, Some(version))
    val current = snapshot(spark, tablePath, Some(v0))
    val fs = fsOf(spark, new Path(tablePath))
    target.foreach { f =>
      if (!fs.exists(new Path(tablePath, f))) throw new IllegalStateException(
        s"restore: data file $f of version $version no longer exists (vacuumed)")
    }
    val cur = current.toSet
    val tgt = target.toSet
    val adds = target.filterNot(cur)
    val removes = current.filterNot(tgt)
    val refsAt = deletionVectorRefs(spark, tablePath, Some(version))
    val refsNow = deletionVectorRefs(spark, tablePath, Some(v0))
    val dvs: FileDvs = target.flatMap { f =>
      (refsAt.get(f), refsNow.get(f)) match {
        case (Some(a), b) if !b.contains(a) => Some(f -> a)
        case (None, Some(_)) => Some(f ->
          java.util.Base64.getEncoder.encodeToString(Array[Byte](0)))
        case _ => None
      }
    }.toMap
    // carry the at-version stats/blooms for the re-added files into the
    // restore commit (the file bytes are unchanged, so the metadata is
    // still valid — Delta's RESTORE preserves add-action stats the same
    // way); without this a later checkpoint would permanently degrade
    // the restored files to conservative no-skip
    val addSet = adds.toSet
    val statsAt = fileStats(spark, tablePath, Some(version))
      .filter { case (f, cols) => addSet(f) && cols.nonEmpty }
    val bloomsAt = fileBlooms(spark, tablePath, Some(version))
      .filter { case (f, cols) => addSet(f) && cols.nonEmpty }
    commit(spark, tablePath, adds, removes, dvs = dvs,
      stats = statsAt, blooms = bloomsAt, expectedVersion = Some(v0))
  }

  /** DESCRIBE HISTORY — one row per commit still in the log: version,
    * add/remove counts, the streaming batchId when present, the
    * dataChange flag, whether the entry is a vacuum checkpoint, and
    * how many deletion-vector entries rode it. Driver-built from the
    * (vacuum-bounded) log — an admin surface, not a data-plane scan. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    versions(spark, tablePath).map { v =>
      val line = commitLine(spark, tablePath, v)
      val batchId: Option[Long] = {
        val i = line.indexOf("\"batchId\":")
        if (i < 0) None
        else scala.util.Try(
          line.drop(i + 10).takeWhile(c => c.isDigit || c == '-').toLong).toOption
      }
      // the wall-clock column an auditor reads first. Take tsMillis
      // from the line ALREADY in hand (commitTimestampMillis would
      // re-open the same file — 2N GETs on object storage); only the
      // pre-tsMillis mtime fallback pays a getFileStatus
      val ts = tsMillisRe.findFirstMatchIn(line).map(_.group(1).toLong)
        .orElse {
          val p = new Path(new Path(tablePath, LogDir), f"$v%08d.json")
          scala.util.Try(
            fsOf(spark, p).getFileStatus(p).getModificationTime).toOption
        }
        .map(m => new java.sql.Timestamp(m)).orNull
      (v, ts, extractArr(line, "adds").size, extractArr(line, "removes").size,
        batchId, !line.contains("\"dataChange\":false"),
        line.contains("\"checkpoint\":true"), extractDvs(line).size)
    }.toDF("version", "timestamp", "n_adds", "n_removes", "batch_id",
      "data_change", "checkpoint", "n_dvs")
  }

  /** Targeted range replacement — Delta's `replaceWhere` for one
    * numeric column, the day-partition rewrite shape: ONE commit adds
    * df's staged files (zone maps on `column` included) and removes
    * every live file whose logged [min, max] lies wholly inside
    * [lo, hi]. Files that STRADDLE the boundary — and files with no
    * logged stats for `column`, whose extent is unknown — are read,
    * their out-of-range survivors re-staged, and the originals
    * removed in the same commit, so the result is exact on ANY file
    * layout (a range-managed table writes range-aligned files and
    * never pays this; the rewrite is the safety net). Readers see the
    * old day or the new day, never a mixture, and a crash before the
    * commit leaves only invisible staging orphans.
    *
    * `batchId` makes the transaction exactly-once: a re-run that
    * finds its batchId already in the ledger stages nothing and
    * returns None — the ArchiveJob crash-between-write-and-watermark
    * contract (S14/S15) as a log guarantee instead of directory
    * choreography. The staged frame must itself lie inside [lo, hi]
    * (checked against its computed zones; violation throws, nothing
    * commits). */
  def replaceRange(spark: SparkSession, tablePath: String, df: DataFrame,
      column: String, lo: Double, hi: Double,
      batchId: Option[Long] = None): Option[Long] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (batchId.exists(committedBatchIds(spark, tablePath).contains)) return None
    // pinned snapshot: removes and straddling-survivor reads below are
    // computed against THIS version; interleaved commits conflict
    val s0 = resolve(spark, tablePath)
    val v0 = s0.version
    val live = s0.live
    // zones + staged-file stats are keyed by PHYSICAL names
    val physCol = s0.declared.fold(column)(ColumnMapping.physicalName(_, column))
    def extent(f: String) = s0.stats.get(f).flatMap(_.get(physCol))
    val inside = live.filter(extent(_).exists { case (mn, mx) => mn >= lo && mx <= hi })
    val straddling = live.filter { f =>
      extent(f) match {
        case Some((mn, mx)) if !mn.isNaN && !mx.isNaN =>
          mx >= lo && mn <= hi && !(mn >= lo && mx <= hi)
        case _ => true // unknown/corrupt extent: must be rewritten to be safe
      }
    }
    val (survFiles, survStats) =
      if (straddling.isEmpty) (Seq.empty[String], Map.empty: FileStats)
      else {
        // survivors read in the physical shape; alias back to logical
        // before re-staging (stageWithMeta speaks logical names)
        val surv = logicalOf(s0)(
          readerFor(spark, s0.declared)
            .parquet(straddling.map(f => s"$tablePath/$f"): _*)
            .filter(col(physCol) < lit(lo) || col(physCol) > lit(hi)))
        val (fs0, st0, _) = stageWithMeta(spark, tablePath, surv, Seq(column), Seq.empty)
        (fs0, st0)
      }
    val (newFiles, newStats, _) =
      stageWithMeta(spark, tablePath, df, Seq(column), Seq.empty)
    newStats.foreach { case (f, cols) =>
      cols.get(physCol).foreach { case (mn, mx) =>
        require(mn >= lo && mx <= hi,
          s"replaceRange: staged file $f carries $column in [$mn, $mx], " +
          s"outside the declared range [$lo, $hi] — nothing committed")
      }
    }
    Some(commit(spark, tablePath, newFiles ++ survFiles, inside ++ straddling,
      batchId, stats = newStats ++ survStats, expectedVersion = Some(v0)))
  }

  /** Row-level DELETE as one metadata commit — no data file is
    * rewritten: rows matching `predicate` are marked in per-file
    * deletion vectors built ON THE EXECUTORS (grouped by file,
    * [[graft.plans.BitsetAggregate]] over `_metadata.row_index`; only
    * the finished vectors — (deleted rows)/8 bytes each — reach the
    * driver), unioned with any prior vector for the file, and
    * published as complete per-file replacements. Every subsequent
    * read/scan masks them; [[readChanges]] surfaces exactly the
    * newly-deleted rows; the next compact/optimize/merge reads
    * through the mask and so MATERIALIZES the deletes, retiring the
    * vectors with the files. Time travel below the commit still sees
    * the rows.
    *
    * `batchId` gives the delete the ledger's exactly-once contract (a
    * replayed delete is recognized and skipped — important because
    * re-evaluating the predicate later could match different rows).
    * Returns None when nothing matched (or on a recognized replay):
    * the table is unchanged and no commit is written. */
  def delete(spark: SparkSession, tablePath: String, predicate: String,
      batchId: Option[Long] = None): Option[Long] =
    deleteWhere(spark, tablePath,
      org.apache.spark.sql.functions.expr(predicate), batchId)

  /** [[delete]] with the predicate as a [[Column]] — the SQL DML
    * surface ([[graft.sources.grafttable.GraftTable]] `DELETE FROM`)
    * builds its predicate structurally from Catalyst's pushed v2
    * filters, so no string round-trip (with its quoting pitfalls)
    * sits between the user's WHERE clause and the vectors. */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      batchId: Option[Long] = None): Option[Long] = {
    import org.apache.spark.sql.functions.col
    if (batchId.exists(committedBatchIds(spark, tablePath).contains)) return None
    // pin the snapshot: the vectors below are unions against THIS
    // version's state, so an interleaved commit must conflict
    val s0 = resolve(spark, tablePath)
    val v0 = s0.version
    val files = s0.live
    if (files.isEmpty) return None
    // mask existing DVs so an already-deleted row can't be "re-deleted"
    // into a vector diff the change feed would then re-emit
    // materialize the `_metadata` fields BEFORE the logical aliasing
    // (a projection loses hidden file-source metadata), so the user's
    // logical-named predicate and the file/row provenance coexist
    val scan = ColumnMapping.toLogical(
      maskDvs(s0, files,
        readerFor(spark, s0.declared)
          .parquet(files.map(f => s"$tablePath/$f"): _*))
        .select(col("_metadata.file_name").as("__graft_fname"),
          col("_metadata.row_index").as("__graft_ri"), col("*")),
      s0.declared.getOrElse(new StructType()))
    val matched = scan.filter(predicate)
      .select(col("__graft_fname").as("fname"),
        col("__graft_ri").as("ri"))
      .groupBy(col("fname"))
      .agg(graft.plans.DeletionVector.bitset(col("ri")).as("dv"))
      .collect()
    if (matched.isEmpty) return None
    // prior vectors: refs for everything, bytes only for TOUCHED files
    // (the driver's transit is ∝ this delete's blast radius, not the
    // table's accumulated delete state)
    val priorRefs = s0.dvRefs
    val byName = files.map(f => new Path(f).getName -> f).toMap
    val newDvs: FileDvs = matched.map { r =>
      val f = byName.getOrElse(r.getString(0),
        sys.error(s"delete matched rows in unknown file ${r.getString(0)}"))
      val merged = priorRefs.get(f).map(dvBytesOf(spark, tablePath, _))
        .fold(r.getAs[Array[Byte]]("dv"))(
          graft.plans.BitsetAggregate.union(_, r.getAs[Array[Byte]]("dv")))
      f -> publishDv(spark, tablePath, merged)
    }.toMap
    Some(commit(spark, tablePath, Seq.empty, Seq.empty, batchId, dvs = newDvs,
      expectedVersion = Some(v0)))
  }

  /** TRUNCATE TABLE — every live file removed in ONE metadata commit
    * (no deletion vectors: marking every row would write bitmap bytes
    * proportional to the table for a result the remove list states in
    * file names). History stays time-travelable until vacuum; the
    * change feed sees one delete generation per removed file's rows.
    * Returns None when the table is already empty. */
  def truncate(spark: SparkSession, tablePath: String): Option[Long] = {
    val v0 = latestVersion(spark, tablePath)
    if (v0 < 0) return None
    val files = snapshot(spark, tablePath, Some(v0))
    if (files.isEmpty) return None
    Some(commit(spark, tablePath, Seq.empty, files, expectedVersion = Some(v0)))
  }

  /** Vectors at or below this raw-byte size ride the commit JSON
    * inline (base64); larger ones become sidecar files. Delta-style
    * split: the log stays metadata-sized however big the delete. */
  private def dvInlineThreshold(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.commitlog.dvInlineThreshold")
      .map(_.toInt).getOrElse(2048)

  /** Encode a finished vector for the commit: inline base64 when
    * small, else write `dv-<uuid>.bin` under the log (immutable,
    * uuid-named — never rewritten) and return its `@` reference. */
  private def publishDv(spark: SparkSession, tablePath: String,
      bytes: Array[Byte]): String =
    if (bytes.length <= dvInlineThreshold(spark))
      java.util.Base64.getEncoder.encodeToString(bytes)
    else {
      val name = s"dv-${java.util.UUID.randomUUID().toString.take(12)}.bin"
      val p = new Path(new Path(tablePath, LogDir), name)
      val fs = fsOf(spark, p)
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
      "@" + name
    }

  /** Atomic compaction: bin-pack the live set into `targetFiles` and
    * swap in one commit. Old versions remain time-travelable. The
    * commit is dataChange=false: the same logical rows in fewer files,
    * so a change-feed consumer sees NOTHING — maintenance must not
    * masquerade as churn downstream. Content and removes are pinned to
    * ONE snapshot version, so a delete racing the compaction conflicts
    * instead of being silently resurrected. */
  def compact(spark: SparkSession, tablePath: String, targetFiles: Int): Long = {
    val v0 = latestVersion(spark, tablePath)
    val old = snapshot(spark, tablePath, Some(v0))
    commit(spark, tablePath,
      stage(spark, tablePath, read(spark, tablePath, Some(v0)).coalesce(targetFiles)),
      old, dataChange = false, expectedVersion = Some(v0))
  }

  /** Compaction that RE-PUBLISHES skipping metadata: plain [[compact]]
    * commits the merged files with no zones/Blooms, which is
    * conservative-correct but turns every point probe into
    * open-all-files — on an index table that silently forfeits the
    * segment-skipping the Blooms existed for. This variant stages with
    * [[stageWithMeta]] so the compacted files carry fresh Bloom words
    * for `bloomCols` (and zones for `statsCols`) in the SAME
    * dataChange=false commit. */
  def compactWithBloom(spark: SparkSession, tablePath: String,
      targetFiles: Int, bloomCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    val v0 = latestVersion(spark, tablePath)
    val old = snapshot(spark, tablePath, Some(v0))
    val (files, stats, blooms) = stageWithMeta(spark, tablePath,
      read(spark, tablePath, Some(v0)).coalesce(targetFiles),
      statsCols, bloomCols)
    commit(spark, tablePath, files, old, stats = stats, blooms = blooms,
      dataChange = false, expectedVersion = Some(v0))
  }

  /** OPTIMIZE — compaction's generalization: same logical rows, a new
    * physical arrangement chosen by `reshape`, published as ONE
    * dataChange=false commit carrying the rewritten files' zone maps
    * for `statsCols`. Readers never see a half-rewritten table, the
    * change feed sees nothing, and [[scanRange]] prunes on the freshly
    * clustered dimensions from the commit it just read. */
  def optimize(spark: SparkSession, tablePath: String,
      reshape: DataFrame => DataFrame, statsCols: Seq[String]): Long = {
    val v0 = latestVersion(spark, tablePath)
    val old = snapshot(spark, tablePath, Some(v0))
    val (files, stats, _) =
      stageWithMeta(spark, tablePath, reshape(read(spark, tablePath, Some(v0))),
        statsCols, Seq.empty)
    commit(spark, tablePath, files, old, stats = stats, dataChange = false,
      expectedVersion = Some(v0))
  }

  /** Z-order OPTIMIZE: cluster the table on the space-filling curve
    * of N columns into `files` files ([[Layout]]'s range-partition +
    * in-file sort), zone maps on EVERY clustered dim in the same
    * commit — after this, a range scan on ANY of the columns prunes:
    * the Delta OPTIMIZE ZORDER BY composition, N-ary like Delta's. */
  def optimizeZOrderBy(spark: SparkSession, tablePath: String,
      cols: Seq[String], files: Int): Long = {
    import org.apache.spark.sql.functions.col
    optimize(spark, tablePath,
      df => Layout.withZValueN(df, cols)
        .repartitionByRange(files, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z"),
      cols)
  }

  def optimizeZOrder(spark: SparkSession, tablePath: String,
      a: String, b: String, files: Int): Long =
    optimizeZOrderBy(spark, tablePath, Seq(a, b), files)

  /** CLUSTER-BY OPTIMIZE: rewrite the table so that every data file
    * holds exactly ONE distinct value tuple of `cols` — the layout
    * under which each file's zone for those columns is a POINT
    * (min == max), which is what unlocks the metadata-served GROUP BY
    * ([[GraftTableSource]] grouped aggregates) and storage-partitioned
    * joins (`clusterBy` reads). Published as ONE dataChange=false
    * commit like every OPTIMIZE: readers never see a half-reclustered
    * table and the change feed sees nothing.
    *
    * Bounded by design: the cluster columns must be LOW-cardinality
    * (partition-like) — cardinality above `maxKeys` refuses loudly.
    * Rows where any cluster column is NULL also refuse (a NULL has no
    * zone and would silently break the point-zone contract).
    *
    * ONE data pass: each row is tagged with its key tuple's dense
    * index (broadcast map join over the ≤ maxKeys collected tuples)
    * and moved to exactly that partition by an EXACT partitioner —
    * partition i holds precisely tuple i, which neither hash
    * repartitioning (two tuples can collide into one partition and
    * span the file's zone) nor range partitioning (sampling can merge
    * small adjacent keys) guarantees. That exactness is genuinely
    * per-partition-imperative, so this is the engine's one RDD
    * partitioner hop. At scale the old shape — one full filtered scan
    * + staging job PER distinct tuple — read the table up to maxKeys
    * times; this reads it once and shuffles it once. Bloom filters
    * the OLD files carried are recomputed on the rewritten files
    * (same columns), so equality pruning never regresses across an
    * OPTIMIZE. */
  def optimizeClusterBy(spark: SparkSession, tablePath: String,
      cols: Seq[String], maxKeys: Int = 1024): Long = {
    require(cols.nonEmpty, "clusterBy needs at least one column")
    val v0 = latestVersion(spark, tablePath)
    val old = snapshot(spark, tablePath, Some(v0))
    reclusterBy(spark, tablePath, read(spark, tablePath, Some(v0)),
      cols, maxKeys, v0, old)
  }

  /** HASH-BUCKET tier of cluster-by for HIGH-cardinality keys:
    * [[optimizeClusterBy]] refuses past `maxKeys` distinct tuples
    * (one file per tuple stops scaling), so this materializes a
    * derived `<column>_bucket` = pmod(xxhash64(column), n) column —
    * NULL keys land in the RESERVED bucket `n` (a real value, so the
    * point-zone contract holds; NULL never equi-joins anyway) — and
    * reclusters on it: one file per bucket, each bucket's zone a
    * point. Grouped aggregates BY BUCKET then serve from metadata and
    * a co-bucketed join reading `clusterBy=<column>_bucket` runs
    * storage-partitioned (join on (bucket, column): equal column
    * values hash to equal buckets, so adding the bucket key never
    * changes results). The bucket column is evolved into the declared
    * schema when one exists; older snapshots read it as NULL. This is
    * the Iceberg/Delta bucket-transform shape expressed through the
    * engine's zone machinery. */
  def clusterByBucket(spark: SparkSession, tablePath: String,
      column: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.functions.{col, lit, pmod, when, xxhash64}
    require(nBuckets > 0 && nBuckets <= 4096,
      s"clusterByBucket: nBuckets $nBuckets out of (0, 4096]")
    val bName = s"${column}_bucket"
    // the declared schema (when present) must admit the new column
    // BEFORE staging, or the schema gate refuses the rewrite
    tableSchema(spark, tablePath).foreach { cur =>
      require(cur.fields.exists(_.name == column),
        s"clusterByBucket: $tablePath declares no column $column")
      if (!cur.fields.exists(_.name == bName))
        evolveSchema(spark, tablePath,
          StructType(cur.fields :+ StructField(bName, IntegerType, nullable = true)))
    }
    val v0 = latestVersion(spark, tablePath)
    val old = snapshot(spark, tablePath, Some(v0))
    val base = read(spark, tablePath, Some(v0))
    require(base.columns.contains(column),
      s"clusterByBucket: no column $column in $tablePath")
    val bucket = when(col(column).isNull, lit(nBuckets))
      .otherwise(pmod(xxhash64(col(column)), lit(nBuckets.toLong)).cast("int"))
      .cast("int")
    reclusterBy(spark, tablePath, base.withColumn(bName, bucket),
      Seq(bName), nBuckets + 1, v0, old)
  }

  private def reclusterBy(spark: SparkSession, tablePath: String,
      df: org.apache.spark.sql.DataFrame, cols: Seq[String], maxKeys: Int,
      v0: Long, old: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val keyCols = cols.map(col)
    // one distinct scan finds the key tuples AND any NULL violation (a
    // NULL-bearing tuple surfaces as a distinct row — no separate scan)
    val keys = df.select(keyCols: _*).distinct().limit(maxKeys + 1).collect()
    require(!keys.exists(r => cols.indices.exists(r.isNullAt)),
      s"clusterBy: NULL values in ${cols.mkString(",")} have no zone")
    // NaN keys must refuse like NULLs: distinct GROUPS NaN rows (so
    // they surface here) but equality JOINS/filters never match NaN —
    // proceeding would silently DROP those rows from the rewrite (a
    // latent bug in the pre-r12 per-key filtered scans too); a NaN
    // zone also cannot be a point, so the layout couldn't serve anyway
    require(!keys.exists(r => cols.indices.exists { i =>
      r.get(i) match {
        case d: java.lang.Double => d.isNaN
        case f: java.lang.Float => f.isNaN
        case _ => false
      }
    }), s"clusterBy: NaN values in ${cols.mkString(",")} have no point zone")
    require(keys.length <= maxKeys,
      s"clusterBy: more than $maxKeys distinct ${cols.mkString(",")} tuples — " +
        "cluster on a lower-cardinality (partition-like) column")
    // zones for the cluster cols AND every other numeric column — the
    // rewrite touches every row anyway, so the stats are free, and a
    // grouped MIN/MAX over any numeric column can then serve from
    // metadata too. DateType is NOT auto-included: the staging stats
    // aggregate computes min/max via cast("double"), which Spark
    // refuses for DATE — a date column would fail the whole OPTIMIZE
    // with an AnalysisException rather than skip its zone
    val statCols = (cols ++ df.schema.fields.collect {
      case f if Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType)
        .contains(f.dataType) => f.name
    }).distinct
    // bloom columns the outgoing files carried, recomputed below
    val bloomCols = fileBlooms(spark, tablePath, Some(v0)).values
      .flatMap(_.keys).toSeq.distinct.sorted
    val (adds, stats, blooms) =
      if (keys.isEmpty) (Seq.empty[String], Map.empty: FileStats, Map.empty: FileBlooms)
      else {
        val kidx = "_graft_kidx"
        require(!df.columns.contains(kidx), s"clusterBy: column $kidx is reserved")
        val keySchema = org.apache.spark.sql.types.StructType(
          df.select(keyCols: _*).schema.fields :+
            org.apache.spark.sql.types.StructField(kidx,
              org.apache.spark.sql.types.IntegerType, nullable = false))
        val idxDf = spark.createDataFrame(
          java.util.Arrays.asList(keys.zipWithIndex.map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }: _*), keySchema)
        val tagged = df.join(broadcast(idxDf), cols)
          .select(df.columns.map(col) :+ col(kidx): _*)
        val schema = tagged.schema
        val iK = schema.fieldIndex(kidx)
        val n = keys.length
        val parted = tagged.rdd
          .map(r => (r.getInt(iK), r))
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = n
            override def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .map(_._2)
        stageWithMeta(spark, tablePath,
          spark.createDataFrame(parted, schema).drop(kidx), statCols, bloomCols)
      }
    commit(spark, tablePath, adds, old, stats = stats, blooms = blooms,
      dataChange = false, expectedVersion = Some(v0))
  }

  /** CDC merge as copy-on-write at FILE granularity: only files that
    * actually contain a changed key are rewritten; every other live
    * file survives the commit untouched — work (and the change feed's
    * churn) is proportional to the merge's blast radius, not the
    * table. The touched set is found by one key-column semi-join from
    * the pinned snapshot's (file_name, key) projection to the change
    * keys (column-pruned scan; the result is a metadata-sized name
    * list), rows are read THROUGH the DV masks so deleted rows never
    * resurrect into the rewrite, and [[Changes.mergeApply]] semantics
    * apply over exactly the touched slice: surviving rows + U/I change
    * rows, published with the touched files' removal in ONE commit.
    * Conflicts with any interleaved commit (pinned snapshot). */
  def merge(spark: SparkSession, tablePath: String, changes: DataFrame,
      key: String): Long = {
    import org.apache.spark.sql.functions.col
    val s0 = resolve(spark, tablePath)
    val v0 = s0.version
    val files = s0.live
    require(files.nonEmpty, s"merge: no live files in $tablePath")
    val keys = changes.select(col(key)).distinct()
    // zones + file columns are keyed by PHYSICAL names (column mapping)
    val physKey = s0.declared
      .fold(key)(ColumnMapping.physicalName(_, key))
    // data-skipping pre-prune: on a zone-statted key, files whose
    // logged [min, max] cannot intersect the changes' key range hold
    // no changed key and are skipped before the detection scan — on a
    // range-clustered table the scan touches the blast radius, not
    // the table
    val candidates = mergeCandidates(spark, tablePath, v0, files, keys, key, physKey)
    val touchedNames =
      if (candidates.isEmpty) Set.empty[String]
      else maskDvs(s0, candidates,
        readerFor(spark, s0.declared)
          .parquet(candidates.map(f => s"$tablePath/$f"): _*))
        .select(col("_metadata.file_name").as("_fn"), col(physKey).as(key))
        .join(keys, Seq(key), "left_semi")
        .select(col("_fn")).distinct()
        .collect().map(_.getString(0)).toSet
    val touched = files.filter(f => touchedNames.contains(new Path(f).getName))
    // base slice: the touched files' LIVE rows (mask applied); when no
    // file holds a changed key the base is the empty table shape and
    // the merge is pure insert
    val base =
      if (touched.isEmpty)
        read(spark, tablePath, Some(v0)).filter(org.apache.spark.sql.functions.lit(false))
      else logicalOf(s0)(
        maskDvs(s0, touched,
          readerFor(spark, s0.declared)
            .parquet(touched.map(f => s"$tablePath/$f"): _*)))
    val content = Changes.mergeApply(base, changes, key)
    commit(spark, tablePath, stage(spark, tablePath, content), touched,
      expectedVersion = Some(v0))
  }

  /** The files that MIGHT hold a changed key: zone-pruned when both
    * the table logs [min, max] stats on `key` and the changes' key
    * range casts to double (one tiny aggregate over the change set);
    * conservative everywhere else — un-statted or NaN-bounded files
    * are kept, a non-castable key keeps everything. Sound because a
    * file whose logged extent misses the changes' [lo, hi] cannot
    * contain any changed key. Package-visible so the spec can pin the
    * pruning. */
  private[graft] def mergeCandidates(spark: SparkSession, tablePath: String,
      v0: Long, files: Seq[String], keys: DataFrame, key: String,
      physKey: String = null): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    // zones are keyed by the PHYSICAL name; the change set's column is
    // the LOGICAL one (identical unless the table maps the column)
    val pk = Option(physKey).getOrElse(key)
    val zones = fileStats(spark, tablePath, Some(v0))
    if (!files.exists(f => zones.get(f).exists(_.contains(pk)))) return files
    val range = scala.util.Try {
      val r = keys.agg(
        min(col(key).try_cast("double")).as("lo"),
        max(col(key).try_cast("double")).as("hi")).head
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((r.getDouble(0), r.getDouble(1)))
    }.toOption.flatten
    range match {
      case None => files // non-numeric / empty change set: no pruning
      case Some((lo, hi)) =>
        files.filter { f =>
          zones.get(f).flatMap(_.get(pk)) match {
            case Some((mn, mx)) if !mn.isNaN && !mx.isNaN => mx >= lo && mn <= hi
            case _ => true // unknown/corrupt extent: conservative keep
          }
        }
    }
  }

  /** Change feed (CDC read): every logical row change published in
    * versions (sinceVersion, untilVersion], tagged `_change_type`
    * ('insert' | 'delete') and `_commit_version`. A commit's `adds`
    * surface as inserts and its `removes` as deletes — removed files
    * stay on disk until vacuum, so the pre-image is readable straight
    * from the log's own file lists. Skipped: dataChange=false commits
    * (compaction — a rearrangement is not churn) and vacuum's
    * checkpoint entry (a replay artifact, not a change). Copy-on-write
    * granularity note: [[merge]] rewrites only the TOUCHED files, so
    * its feed entry is those files' delete images plus the rewritten
    * inserts — churn proportional to the merge's blast radius, like a
    * production format. */
  /** One planned unit of the change feed: a file to read, the change
    * kind its rows surface as, the commit that published it, and — for
    * DV-delete slices — the vector DIFF whose set rows are the
    * deletes. The ONE definition both the batch [[readChanges]] and
    * the streaming source (graft.sources.changes) plan from, so the
    * two surfaces cannot drift. */
  private[graft] final case class ChangeSlice(file: String, kind: String,
      version: Long, dvDiff: Option[Array[Byte]])

  /** Completeness gate (Delta CDF behavior): once vacuum has rewritten
    * the retention horizon as a checkpoint, the changes BEFORE it are
    * gone — its line summarizes cumulative state, not churn. A
    * consumer asking to start below that horizon (including a fresh
    * syncIncremental/maintainAggregate consumer, from = -1) would get
    * a silently-incomplete feed and then permanently record the gap in
    * its batchId ledger. Fail loudly instead. */
  private[graft] def assertChangesAvailable(spark: SparkSession,
      tablePath: String, sinceVersion: Long): Unit =
    versions(spark, tablePath).headOption.foreach { oldest =>
      if (sinceVersion < oldest &&
          commitLine(spark, tablePath, oldest).contains("\"checkpoint\":true"))
        throw new IllegalStateException(
          s"change feed from version $sinceVersion is no longer available: " +
          s"$tablePath was vacuumed and version $oldest is now a checkpoint " +
          "(cumulative state, not churn). Re-seed the consumer from a full " +
          s"snapshot (read at version $oldest) and continue from there.")
    }

  /** Change slices for versions (sinceVersion, untilVersion]. Skipped:
    * dataChange=false commits (compaction — a rearrangement is not
    * churn) and vacuum's checkpoint entry (a replay artifact). Work is
    * metadata-sized: commit lines plus DV bytes for the files those
    * commits touched — never a base-table scan. */
  private[graft] def changeSlices(spark: SparkSession, tablePath: String,
      sinceVersion: Long, untilVersion: Long): Seq[ChangeSlice] = {
    assertChangesAvailable(spark, tablePath, sinceVersion)
    versions(spark, tablePath)
      .filter(v => v > sinceVersion && v <= untilVersion)
      .flatMap { v =>
        val line = commitLine(spark, tablePath, v)
        if (line.contains("\"checkpoint\":true") ||
            line.contains("\"dataChange\":false")) Seq.empty
        else {
          val fileSlices =
            extractArr(line, "adds").map(f => ChangeSlice(f, "insert", v, None)) ++
            extractArr(line, "removes").map(f => ChangeSlice(f, "delete", v, None))
          // a DV commit's churn is the vector DIFF: rows set at v but
          // not at v-1 surface as deletes, read straight from the
          // still-on-disk file (the pre-image, same as removes)
          val dvEntries = extractDvs(line)
          val dvSlices =
            if (dvEntries.isEmpty) Seq.empty
            else {
              // bytes only for the files THIS commit touched — the
              // diff's driver transit is ∝ the commit, not the table
              val beforeRefs = deletionVectorRefs(spark, tablePath, Some(v - 1))
              dvEntries.toSeq.flatMap { case (f, enc) =>
                val now = dvBytesOf(spark, tablePath, enc)
                val fresh = beforeRefs.get(f).map(dvBytesOf(spark, tablePath, _))
                  .fold(now)(graft.plans.BitsetAggregate.minus(now, _))
                if (graft.plans.BitsetAggregate.cardinality(fresh) == 0L) None
                else Some(ChangeSlice(f, "delete", v, Some(fresh)))
              }
            }
          fileSlices ++ dvSlices
        }
      }
  }

  def readChanges(spark: SparkSession, tablePath: String,
      sinceVersion: Long, untilVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val hi = untilVersion.getOrElse(latestVersion(spark, tablePath))
    val slices = changeSlices(spark, tablePath, sinceVersion, hi)
    // plain slices batch into ONE multi-path read per (version, kind) —
    // a 1000-file commit is one scan, not a 1000-way union
    val (dvSlices, plain) = slices.partition(_.dvDiff.isDefined)
    val latest = resolve(spark, tablePath)
    val plainDfs = plain.groupBy(s => (s.version, s.kind)).toSeq
      .sortBy { case ((v, kind), _) => (v, kind) }
      .map { case ((v, kind), ss) =>
        // declared-schema read keeps slices uniform across a schema
        // evolution (pre-evolution files null-fill)
        logicalOf(latest)(
          readerFor(spark, latest.declared).parquet(ss.map(s => s"$tablePath/${s.file}"): _*))
          .withColumn("_change_type", lit(kind))
          .withColumn("_commit_version", lit(v))
      }
    val dvDfs = dvSlices.map { s =>
      // the DV bit test consumes `_metadata` BEFORE the logical alias
      logicalOf(latest)(
        readerFor(spark, latest.declared).parquet(s"$tablePath/${s.file}")
          .filter(graft.plans.DeletionVector.dvTest(
            lit(s.dvDiff.get),
            org.apache.spark.sql.functions.col("_metadata.row_index"))))
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(s.version))
    }
    val dfs = plainDfs ++ dvDfs
    if (dfs.nonEmpty) dfs.reduce(_ unionByName _)
    else read(spark, tablePath, Some(hi))
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(-1L))
      .filter(lit(false))
  }

  /** Exactly-once incremental table-to-table propagation — the
    * bronze→silver hop of a medallion pipeline, built from two log
    * primitives and nothing else: the SOURCE log says what changed
    * (the insert slice of [[readChanges]]), the DESTINATION log's
    * batchId ledger says how far this consumer already got (batchId =
    * source version, the same replay ledger the streaming sink uses).
    * A crash between publish and the caller observing it replays into
    * [[appendStream]]'s dedup and lands nothing; a no-change call is a
    * no-op. Returns the destination's new version, None when already
    * caught up. The destination's batchId space belongs to its ONE
    * consumer identity — don't mix with a streaming sink on the same
    * table. */
  def syncIncremental(spark: SparkSession, srcPath: String, dstPath: String,
      transform: DataFrame => DataFrame = identity): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val srcV = latestVersion(spark, srcPath)
    val applied = committedBatchIds(spark, dstPath)
    val from = if (applied.isEmpty) -1L else applied.max
    if (srcV <= from) None
    else {
      val delta = readChanges(spark, srcPath, from, Some(srcV))
        .filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      appendStream(spark, dstPath, transform(delta), batchId = srcV)
    }
  }

  /** Exactly-once atomic REPLACE for a consumer-owned table: same
    * ledger contract as [[appendStream]] but the commit swaps the full
    * content — the publish primitive incremental view maintenance
    * needs (its state table is replaced, not appended, each advance). */
  def overwriteStream(spark: SparkSession, tablePath: String, df: DataFrame,
      batchId: Long): Option[Long] =
    if (committedBatchIds(spark, tablePath).contains(batchId)) None
    else {
      val v0 = latestVersion(spark, tablePath)
      val old = if (v0 < 0) Seq.empty[String] else snapshot(spark, tablePath, Some(v0))
      Some(commit(spark, tablePath, stage(spark, tablePath, df), old,
        batchId = Some(batchId), expectedVersion = Some(v0)))
    }

  /** Incremental view maintenance: keep `dstPath` equal to
    * `SELECT key, count(*), sum(value) FROM src GROUP BY key` by
    * consuming the source's CHANGE FEED instead of rescanning the
    * source — work per advance is O(changed rows), not O(table), the
    * materialized-view algebra every warehouse implements (inserts
    * add (+1, +v), deletes add (-1, -v), groups at count 0 vanish;
    * count/sum are self-invertible so no per-group rescan is ever
    * needed). Exactly-once by the same two-log contract as
    * [[syncIncremental]]: the destination's batchId ledger records the
    * last source version applied, and a crash replay lands nothing.
    * Returns the destination's new version, None when caught up. */
  def maintainAggregate(spark: SparkSession, srcPath: String, dstPath: String,
      keyCol: String, valueCol: String): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    val srcV = latestVersion(spark, srcPath)
    val applied = committedBatchIds(spark, dstPath)
    val from = if (applied.isEmpty) -1L else applied.max
    if (srcV <= from) return None
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val delta = readChanges(spark, srcPath, from, Some(srcV))
      .groupBy(col(keyCol))
      .agg(sum(sign).as("d_cnt"),
        sum(sign.cast("double") * col(valueCol)).as("d_sum"))
    val state =
      if (latestVersion(spark, dstPath) < 0) delta
        .select(col(keyCol), col("d_cnt").as("cnt"), col("d_sum").as("total"))
      else read(spark, dstPath).as("s")
        .join(delta.as("d"), Seq(keyCol), "full_outer")
        .select(col(keyCol),
          (coalesce(col("s.cnt"), lit(0L)) + coalesce(col("d.d_cnt"), lit(0L))).as("cnt"),
          (coalesce(col("s.total"), lit(0.0)) + coalesce(col("d.d_sum"), lit(0.0))).as("total"))
    overwriteStream(spark, dstPath, state.filter(col("cnt") > 0), batchId = srcV)
  }

  private def commitLine(spark: SparkSession, tablePath: String,
      v: Long): String = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    val in = fs.open(new Path(log, f"$v%08d.json"))
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
  }

  /** Retention pass bounding time-travel storage: physically delete
    * files no retained version references and drop the log entries
    * before the horizon. Because replay starts from the oldest
    * RETAINED entry, that entry is first REWRITTEN as a CHECKPOINT
    * carrying the full cumulative snapshot at its version — without
    * this, files added before the horizon (and never removed since)
    * would survive on disk yet vanish from every replay. The same
    * reason Delta pairs log truncation with checkpoint files.
    *
    * Vacuum is a single-writer maintenance op (it rewrites one log
    * entry in place). Checkpointing drops the truncated commits'
    * batchIds, so the retention horizon must exceed the streaming
    * engine's replay horizon — as in any lakehouse format. */
  def vacuum(spark: SparkSession, tablePath: String, keepFrom: Long): Unit = {
    val latest = latestVersion(spark, tablePath)
    require(keepFrom >= 0 && keepFrom <= latest,
      s"keepFrom $keepFrom outside the log's versions [0, $latest]")
    val fs = fsOf(spark, new Path(tablePath))
    val retained = versions(spark, tablePath).filter(_ >= keepFrom)
    val keep = retained.flatMap(v => snapshot(spark, tablePath, Some(v))).toSet
    // checkpoint the horizon entry BEFORE truncating anything: its
    // replay-visible state must equal the cumulative snapshot
    val horizonState = snapshot(spark, tablePath, Some(keepFrom))
    // surviving files' skipping metadata and deletion vectors ride a
    // PARQUET checkpoint at the horizon, not the JSON line: truncated
    // commits were their only carriers, but jamming 100k files'
    // stats + 8 KiB blooms into one driver-built JSON string is
    // exactly the scale wrongness the parquet checkpoints exist to
    // avoid. The checkpoint build stays in the parquet domain
    // (previous checkpoint anti-joined against the tail); the slim
    // JSON below keeps only names + table metadata. Pre-checkpoint
    // tables vacuumed by older builds still resolve (JSON fallback).
    writeCheckpoint(spark, tablePath, keepFrom)
    if (!checkpointVersions(spark, tablePath).contains(keepFrom))
      throw new IllegalStateException(
        s"vacuum: horizon checkpoint at $keepFrom failed to publish; " +
        "aborting before any truncation (stats/blooms/DVs would be lost)")
    // schema/constraints declared at or before the horizon ride the
    // checkpoint too — truncated commits may have been their only
    // carriers, and the table's gate must survive retention
    val schemaField = tableSchema(spark, tablePath, Some(keepFrom))
      .fold("")(s => s""","schemaB64":"${b64(s.json)}"""")
    val horizonCons = constraints(spark, tablePath, Some(keepFrom))
    val consField =
      if (horizonCons.isEmpty) "" else s""","constraints":${jconstraints(horizonCons)}"""
    // the keepFrom commit is the ONE retained entry being rewritten:
    // if it was a streaming batch, its batchId must survive into the
    // checkpoint line or a replay inside the engine's horizon would no
    // longer be recognized by committedBatchIds and land twice. (The
    // TRUNCATED commits' batchIds are still dropped — that is the
    // documented retention-vs-replay-horizon contract above.)
    val keepFromLine = commitLine(spark, tablePath, keepFrom)
    val batchField = {
      val i = keepFromLine.indexOf("\"batchId\":")
      if (i < 0) ""
      else {
        val rest = keepFromLine.drop(i + 10).takeWhile(c => c.isDigit || c == '-')
        // the writer identity qualifying the batchId survives too —
        // the app-scoped ledger must recognize the replay after vacuum
        val app = batchAppRe.findFirstMatchIn(keepFromLine)
          .map(m => s""","batchApp":"${m.group(1)}"""").getOrElse("")
        // the entry's ORIGINAL commit version rides every rewrite
        // (including re-vacuums of an already-rewritten line), so the
        // bare-entry legacy rule stays version-faithful after
        // retention — without it a carried pre-upgrade bare entry
        // would inherit keepFrom (>= the firstQualV floor) and be
        // reclassified as a live co-writer, un-suppressing a
        // qualified writer's replay of that legacy batchId
        val origV = batchVRe.findFirstMatchIn(keepFromLine)
          .map(_.group(1).toLong).getOrElse(keepFrom)
        s""","batchId":$rest$app,"batchV":$origV"""
      }
    }
    // the ORIGINAL commit's wall time survives the rewrite, so
    // TIMESTAMP AS OF stays monotone across the horizon
    val tsField = tsMillisRe.findFirstMatchIn(keepFromLine)
      .map(m => s""""tsMillis":${m.group(1)},""").getOrElse("")
    // COLUMN-MAPPING + LEDGER evidence the truncated commits may have
    // been the only carriers of (computed BEFORE truncation):
    //  - every physical column name any declaration ever used — the
    //    ADD-after-DROP resurrection guard's domain must survive
    //    retention, or a re-added name could serve retired data;
    //  - the first app-qualified ledger version — the bare-entry
    //    legacy rule must not reclassify a live co-writer's surviving
    //    entry as pre-upgrade history once the qualified entries
    //    below it are truncated.
    val usedPhysField = {
      val used = usedPhysicalNames(spark, tablePath)
      if (used.isEmpty) ""
      else s""","usedPhys":[${used.toSeq.sorted
        .map(n => "\"" + esc(n) + "\"").mkString(",")}]"""
    }
    val firstQualField = {
      val (entries, floor) = ledgerState(spark, tablePath)
      (entries.filter(_._1.isDefined).map(_._3) ++ floor).minOption
        .fold("")(v => s""","firstQualV":$v""")
    }
    // the newest pinned TRANSACTION at-or-before the horizon must
    // survive the rewrite too: a truncated manifest commit may have
    // been its only carrier, and txnPins() scanning a pins-free log
    // would silently serve UNPINNED state to transaction-pinned
    // readers — the mixed-visibility failure the manifest exists to
    // prevent
    val horizonPins = versions(spark, tablePath).filter(_ <= keepFrom)
      .reverseIterator
      .map(v => extractSection(commitLine(spark, tablePath, v), "pins"))
      .collectFirst { case Some(body) => s""","pins":{$body}""" }
      .getOrElse("")
    val log = new Path(tablePath, LogDir)
    val cp = new Path(log, f"$keepFrom%08d.json")
    val out = fs.create(cp, true)
    try out.write(
      s"""{"version":$keepFrom,$tsField"adds":${jarr(horizonState)},"removes":[]$schemaField$consField$batchField$horizonPins$usedPhysField$firstQualField,"checkpoint":true}"""
        .getBytes("UTF-8"))
    finally out.close()
    val dataDir = new Path(tablePath, DataDir)
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { f =>
      if (!keep.contains(s"$DataDir/${f.getPath.getName}"))
        fs.delete(f.getPath, false)
    }
    versions(spark, tablePath).filter(_ < keepFrom).foreach { v =>
      fs.delete(new Path(log, f"$v%08d.json"), false)
    }
    // parquet checkpoints below the horizon are stale: a snapshot
    // seeded from one would replay a tail whose remove entries were
    // just truncated — resurrecting deleted files. Drop them, and a
    // pointer referring below the horizon with them.
    checkpointVersions(spark, tablePath).filter(_ < keepFrom).foreach { c =>
      fs.delete(new Path(log, cpDirName(c)), true)
    }
    if (lastCheckpointPointer(spark, tablePath).exists(_ < keepFrom))
      fs.delete(new Path(log, "_last_checkpoint"), false)
    // orphan sweep: sidecar DV files referenced by no surviving commit
    // or parquet checkpoint are unreachable (their commits were just
    // truncated, or a later delete replaced their vector). References
    // are collected AFTER truncation, from the retained JSON lines and
    // — parquet-domain — from surviving checkpoints' dv columns.
    import org.apache.spark.sql.functions.col
    val referenced: Set[String] =
      versions(spark, tablePath).flatMap(v =>
        extractDvs(commitLine(spark, tablePath, v)).values).toSet ++
      checkpointVersions(spark, tablePath).flatMap { c =>
        val df = spark.read.parquet(new Path(log, cpDirName(c)).toString)
        if (!df.columns.contains("dv")) Seq.empty[String]
        else df.select("dv").filter(col("dv").startsWith("@"))
          .collect().map(_.getString(0)).toSeq
      }
    val referencedNames = referenced.filter(_.startsWith("@")).map(_.drop(1))
    // grace period (Delta's vacuum-style age gate, here for sidecars):
    // publishDv writes dv-*.bin BEFORE the commit JSON referencing it
    // exists, so a sweep racing a concurrent delete() could reap the
    // sidecar in that window and break the just-committed delete's
    // scans. Skip young sidecars; a crashed delete's orphan is swept by
    // the NEXT vacuum once it ages past the grace window.
    val graceMs = spark.conf
      .getOption("spark.graft.commitlog.dvSweepGraceMs")
      .map(_.toLong).getOrElse(10 * 60 * 1000L)
    val now = System.currentTimeMillis()
    fs.listStatus(log)
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith("dv-") && n.endsWith(".bin") &&
          now - s.getModificationTime >= graceMs
      }
      .filterNot(s => referencedNames.contains(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, false))
    // crashed-write staging sweep: a writer that died between
    // `df.write` and the rename pass leaves its `_staging_<stamp>`
    // directory behind — invisible to every reader (no commit ever
    // references it; the rename emptied committed ones) but leaked
    // disk forever. The same age gate protects an IN-FLIGHT write's
    // staging dir from a racing vacuum; a crashed write's orphan is
    // swept once it ages past the grace window.
    val root2 = new Path(tablePath)
    // staging grace defaults to 6x the sidecar grace (60 min): the
    // writer refreshes a .heartbeat marker BETWEEN its phases
    // (stageWithMeta), but a single phase — the stats/bloom
    // aggregation on a very large batch — can itself run long with no
    // new children, so the sweep's own window must comfortably exceed
    // any plausible single-phase duration; a crashed write's orphan
    // still reclaims within the hour
    val stagingGraceMs = spark.conf
      .getOption("spark.graft.commitlog.stagingSweepGraceMs")
      .map(_.toLong).getOrElse(6 * graceMs)
    fs.listStatus(root2)
      .filter { s =>
        s.isDirectory && s.getPath.getName.startsWith("_staging_") && {
          // age by the NEWEST entry inside, not the dir inode: a slow
          // in-flight write keeps creating part files (and touching
          // its heartbeat), so its newest child stays young while a
          // crashed write's never moves
          val newest = (s.getModificationTime +: scala.util.Try(
            fs.listStatus(s.getPath).map(_.getModificationTime).toSeq)
            .getOrElse(Seq.empty)).max
          now - newest >= stagingGraceMs
        }
      }
      .foreach(s => fs.delete(s.getPath, true))
    ()
  }

  /** Write df's files under data/ with a fresh uuid prefix; return the
    * relative paths. Staging is invisible until commit publishes it. */
  private def stage(spark: SparkSession, tablePath: String,
      df: DataFrame): Seq[String] =
    stageWithMeta(spark, tablePath, df, Seq.empty, Seq.empty)._1

  /** Stage plus per-staged-file skipping metadata — [min, max] zones
    * for `statsCols`, their non-null counts, the row count and Bloom
    * filters for `bloomCols` — computed over the staged part files
    * BEFORE the move and keyed by the files' FINAL relative names.
    * The parquet footers the write just produced answer what they hold
    * exactly (row and non-null counts, min/max of integral columns), so
    * a range-managed append such as an ArchiveJob day costs the write
    * and nothing more; one data pass grouped by input_file_name answers
    * only the rest ([[stagedMeta]]). */
  private def stageWithMeta(spark: SparkSession, tablePath: String,
      df: DataFrame, statsCols: Seq[String], bloomCols: Seq[String],
      mBits: Int = 1 << 16, k: Int = 5): (Seq[String], FileStats, FileBlooms) = {
    val root = new Path(tablePath)
    val fs = fsOf(spark, root)
    // schema gate BEFORE any work: staged columns must be a subset of
    // the declared schema with identical types (absent columns are
    // fine — the reader null-fills them from the declared schema)
    val declared = tableSchema(spark, tablePath)
    declared.foreach(d => enforceSchemaSubset(tablePath, d, df.schema))
    // COLUMN MAPPING boundary: from here down the staging runs in the
    // PHYSICAL name domain — files, zone/bloom keys and the stats
    // aggregate all use physical names, so files written before a
    // rename and after it are indistinguishable on disk
    val dfP = declared.fold(df)(ColumnMapping.toPhysical(df, _))
    val statsColsP = declared.fold(statsCols)(d =>
      statsCols.map(ColumnMapping.physicalName(d, _)))
    val bloomColsP = declared.fold(bloomCols)(d =>
      bloomCols.map(ColumnMapping.physicalName(d, _)))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(root, s"_staging_$stamp")
    dfP.write.mode("overwrite").parquet(tmp.toString)
    // the staged part files, listed once: the re-reads below name them
    // directly — handed the `_staging_` directory itself, Spark drops it
    // as a hidden path and logs "All paths were ignored" — and the
    // rename pass moves exactly these
    val parts = fs.listStatus(tmp).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath)
    // heartbeat: the staging sweep (vacuum) ages a _staging_ dir by
    // its NEWEST child — which stops moving once the last part file
    // lands, even though the write is still mid-flight (constraint
    // re-read, stats/bloom aggregation, rename pass can together
    // outlast the sweep grace on a large batch). Touching a marker
    // between the phases restarts the clock, so a concurrent vacuum
    // never reaps an in-flight write mid-commit.
    def heartbeat(): Unit = scala.util.Try {
      val hb = fs.create(new Path(tmp, ".heartbeat"), true)
      try hb.write('1') finally hb.close()
    }
    heartbeat()
    // CHECK-constraint gate over the STAGED files (input computed
    // once; columnar re-read is cheap): any violation deletes the
    // staging dir and refuses the whole write — nothing was committed,
    // so readers never see a partially-validated batch
    val cs = constraints(spark, tablePath)
    if (cs.nonEmpty && parts.nonEmpty) {
      // staged files carry physical names; CHECK expressions speak
      // logical — read physical, alias back before evaluating
      val staged = spark.read.schema(nullableSchema(
          declared.fold(dfP.schema)(ColumnMapping.physicalSchema)))
        .parquet(parts.map(_.toString): _*)
      val stagedL = declared.fold(staged)(ColumnMapping.toLogical(staged, _))
      val bad = violationCounts(stagedL, cs)
      if (bad.nonEmpty) {
        fs.delete(tmp, true)
        throw new IllegalArgumentException(
          s"constraint violation on write to $tablePath — nothing committed: " +
          bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
      }
    }
    heartbeat() // fresh grace window for the footer reads and data pass
    val (tmpStats, tmpBlooms) =
      if ((statsCols.nonEmpty || bloomCols.nonEmpty) && parts.nonEmpty)
        stagedMeta(spark, parts, dfP.schema, statsColsP, bloomColsP, mBits, k)
      else (Map.empty: FileStats, Map.empty: FileBlooms)
    heartbeat() // fresh grace window for the rename pass
    val dataDir = new Path(root, DataDir)
    fs.mkdirs(dataDir)
    val moved = parts.zipWithIndex.map { case (f, i) =>
      val name = s"$stamp-$i.parquet"
      require(fs.rename(f, new Path(dataDir, name)), s"stage rename failed: $f")
      (s"$DataDir/$name", f.getName)
    }
    fs.delete(tmp, true)
    val stats = moved.flatMap { case (rel, tmpName) =>
      tmpStats.get(tmpName).filter(_.nonEmpty).map(rel -> _)
    }.toMap
    val blooms = moved.flatMap { case (rel, tmpName) =>
      tmpBlooms.get(tmpName).filter(_.nonEmpty).map(rel -> _)
    }.toMap
    (moved.map(_._1).toSeq, stats, blooms)
  }

  /** A read schema for files written with `schema`: every field
    * nullable, so a re-read names its columns and types instead of
    * starting a footer job to infer them. */
  private def nullableSchema(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Columns a parquet footer can give a [min, max] zone for exactly:
    * the integral ones. Parquet orders floating columns without NaN
    * (Spark orders NaN last), stores timestamps as INT96 and strings
    * as bytes, so the data pass answers every other type. */
  private def footerZone(written: StructType, c: String): Boolean =
    written.fields.find(_.name == c).exists(f =>
      f.dataType == ByteType || f.dataType == ShortType ||
        f.dataType == IntegerType || f.dataType == LongType)

  /** Skipping metadata of freshly written part files, keyed by part
    * file name, in the one shape every staging path publishes: per
    * stats column its [min, max] (absent when the file holds no
    * non-null value) and its non-null count under [[nonNullStat]], plus
    * the file's [[RowCountStat]]; Bloom filters for `bloomCols`. A file
    * without rows gets nothing. `written` is the schema the files were
    * written with.
    *
    * One source answers a commit. When every stats column is integral,
    * no Bloom filter is asked for and the stage wrote at most
    * [[FooterStatsMaxFiles]] files, the footers the write just produced
    * answer it exactly ([[footerStats]]), so a range-managed append such
    * as an ArchiveJob day costs the write and nothing more. Otherwise,
    * or when a footer lacks a statistic, one data pass grouped by
    * input_file_name answers everything ([[dataPassMeta]]). */
  private[graft] def stagedMeta(spark: SparkSession, parts: Seq[Path],
      written: StructType, statsCols: Seq[String], bloomCols: Seq[String],
      mBits: Int, k: Int): (FileStats, FileBlooms) = {
    // per-file ROW COUNT under the reserved [[RowCountStat]] key
    // (Delta's numRecords): COUNT(*) then answers from the log with
    // zero file opens. Skipped (collision safety) in the pathological
    // case of a data column by that name; a column named like a
    // column's reserved non-null key skips that column's count alike
    val publishRows = !written.fieldNames.contains(RowCountStat)
    val nnCols = statsCols.filter(c => !written.fieldNames.contains(nonNullStat(c)))
    val footer =
      if (bloomCols.isEmpty && parts.length <= FooterStatsMaxFiles &&
          statsCols.forall(footerZone(written, _)))
        footerStats(spark.sessionState.newHadoopConf(), parts, statsCols, nnCols, publishRows)
      else None
    footer.map(stats => (stats, Map.empty: FileBlooms)).getOrElse(dataPassMeta(
      spark, parts, written, statsCols, nnCols, publishRows, bloomCols, mBits, k))
  }

  /** The most part files whose footers [[stagedMeta]] reads. They are
    * read one after another on the driver, each one open of the file
    * (a few round trips on an object store), so a stage that wrote
    * more, such as a large optimize or merge, takes the distributed
    * data pass instead. */
  private val FooterStatsMaxFiles = 16

  /** Row count, non-null counts of `nnCols` and zones of `zoneCols`
    * (integral columns, see [[footerZone]]) per part file, from the
    * parquet footers alone, combined over the files' row groups.
    * Files without rows are left out. None when a footer holds no
    * single parquet column for one of them, or it lacks that column's
    * statistics or null count. */
  private[graft] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      parts: Seq[Path], zoneCols: Seq[String], nnCols: Seq[String],
      rows: Boolean): Option[FileStats] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val perFile = parts.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      val n = blocks.map(_.getRowCount).sum
      // one top-level primitive column's statistics in every row
      // group, or None
      def colStats(c: String): Option[Seq[Statistics[_]]] = {
        val found = blocks.map(_.getColumns.asScala.find(_.getPath.toArray.toSeq == Seq(c))
          .flatMap(ch => Option(ch.getStatistics)).filter(_.isNumNullsSet))
        if (found.forall(_.isDefined)) Some(found.flatten) else None
      }
      def zone(c: String) = colStats(c).map { ss =>
        val vs = ss.filter(_.hasNonNullValue)
        if (vs.isEmpty) None
        else Some(c -> (vs.map(_.genericGetMin.asInstanceOf[Number].longValue).min.toDouble,
          vs.map(_.genericGetMax.asInstanceOf[Number].longValue).max.toDouble))
      }
      def nonNull(c: String) = colStats(c).map { ss =>
        val nn = (n - ss.map(_.getNumNulls).sum).toDouble
        nonNullStat(c) -> (nn, nn)
      }
      val zones = zoneCols.map(zone)
      val nns = nnCols.map(nonNull)
      val rowStat = if (rows) Seq(RowCountStat -> (n.toDouble, n.toDouble)) else Seq.empty
      if (zones.exists(_.isEmpty) || nns.exists(_.isEmpty)) None
      else Some((p.getName, n, (zones.flatten.flatten ++ nns.flatten ++ rowStat).toMap))
    }
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.collect { case (f, n, m) if n > 0 => f -> m }.toMap)
  }

  /** The data pass over staged part files: one aggregate grouped by
    * input_file_name (the ZoneMaps.write shape) giving per file the
    * zones of `zoneCols` (cast to double, Spark's ordering), the
    * non-null counts of `nnCols`, the row count when `rows`, and Bloom
    * filters of `bloomCols`. Runs no job when asked for nothing. */
  private[graft] def dataPassMeta(spark: SparkSession, parts: Seq[Path],
      written: StructType, zoneCols: Seq[String], nnCols: Seq[String],
      rows: Boolean, bloomCols: Seq[String], mBits: Int, k: Int)
      : (FileStats, FileBlooms) = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, xxhash64}
    val aggs = zoneCols.flatMap(c =>
        Seq(min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c"))) ++
      bloomCols.map(c =>
        graft.plans.BloomAggregate.bloom(xxhash64(col(c)), mBits, k).as(s"bloom_$c")) ++
      nnCols.map(c => count(col(c)).cast("double").as(s"nn_$c")) ++
      (if (rows) Seq(count(lit(1)).cast("double").as("__nrows")) else Seq.empty)
    if (aggs.isEmpty) return (Map.empty, Map.empty)
    val out = spark.read.schema(nullableSchema(written))
      .parquet(parts.map(_.toString): _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0).split('/').last -> r)
    val stats = out.map { case (name, r) =>
      val zones = zoneCols.flatMap { c =>
        val lo = r.getAs[Any](s"min_$c")
        val hi = r.getAs[Any](s"max_$c")
        if (lo == null || hi == null) None
        else Some(c -> (lo.asInstanceOf[Double], hi.asInstanceOf[Double]))
      }
      val nns = nnCols.map { c =>
        val n = r.getAs[Double](s"nn_$c")
        nonNullStat(c) -> (n, n)
      }
      val rowStat =
        if (rows) {
          val n = r.getAs[Double]("__nrows")
          Seq(RowCountStat -> (n, n))
        } else Seq.empty
      name -> (zones ++ nns ++ rowStat).toMap
    }.toMap
    val blooms = out.map { case (name, r) =>
      name -> bloomCols.map { c =>
        c -> (k.toString + ":" + java.util.Base64.getEncoder
          .encodeToString(r.getAs[Array[Byte]](s"bloom_$c")))
      }.toMap
    }.toMap
    (stats, blooms)
  }
}
