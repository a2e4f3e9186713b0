package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ArchiveJob, Watermark, WviewSchema}

/** The JVM side of the benchmark: runs one workload in this (fresh) JVM
  * and writes its raw measurements as JSON for `run.py`, which checks
  * them and turns them into metrics.
  *
  * Usage: perfbench.Main key=value... with keys workload, trace (0/1),
  * work, out, and per workload: inputs, stations, first, last, ticks,
  * python, gen (archive_daily); data, builds, queries, served_passes
  * (query_suite).
  *
  * Every timed operation is one call into the program by one caller;
  * results are consumed whole through Spark's `noop` sink. A workload is
  * a fixed set of operations, so that two versions of the program are
  * measured over the same operations however fast each one is. With
  * trace=1 the run also registers the listeners in [[Probes]] and, after
  * the timed loop, times the layer-decomposition calls on the same inputs.
  */
object Main {
  private val Day = DateTimeFormatter.BASIC_ISO_DATE

  final class Ctx(val spark: SparkSession, val trace: Boolean) {
    val spans = new Spans
    val workloadSpan: Long = spans.nextId()
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val probes = ArrayBuffer.empty[Map[String, Any]]
    var timedStartMs: Double = -1
    private var obsSeq = 0L

    /** Runs one timed operation and records it; failures are recorded,
      * not thrown. `extra` turns the result into fields of the record. */
    def op[A](kind: String, name: String)(body: => A)(extra: A => Map[String, Any]): Option[A] = {
      if (timedStartMs < 0) timedStartMs = Clock.nowMs
      record(kind, name, ops)(body)(extra)
    }

    /** Like [[op]], for the untimed decomposition calls of a traced run. */
    def probe[A](name: String)(body: => A)(extra: A => Map[String, Any]): Option[A] =
      record("probe", name, probes)(body)(extra)

    private def record[A](kind: String, name: String, into: ArrayBuffer[Map[String, Any]])(
        body: => A)(extra: A => Map[String, Any]): Option[A] = {
      val id = spans.nextId()
      spark.sparkContext.setLocalProperty(TaskProbe.OpKey, id.toString)
      val startMs = Clock.nowMs
      val t0 = System.nanoTime()
      val cpu0 = Main.processCpuNs()
      val (jit0, gc0) = (Main.jitMs(), Main.gcMs())
      val result = try Right(body) catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuSecs = (Main.processCpuNs() - cpu0) / 1e9
      val (jitMs, gcMs) = (Main.jitMs() - jit0, Main.gcMs() - gc0)
      val endMs = Clock.nowMs
      spark.sparkContext.setLocalProperty(TaskProbe.OpKey, null)
      if (trace) spans.add(Span(id, workloadSpan, "op", s"$kind $name", id, startMs, endMs))
      val base = Map[String, Any]("id" -> id, "kind" -> kind, "name" -> name, "s" -> secs,
        "cpu_s" -> cpuSecs, "jit_ms" -> jitMs, "gc_ms" -> gcMs,
        "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> result.isRight)
      into += (result match {
        case Right(a) => base ++ extra(a)
        case Left(e) =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          base + ("error" -> String.valueOf(e))
      })
      result.toOption
    }

    /** Consumes every column and row of `df` through the noop sink and
      * returns the row count, observed on the way. */
    def consume(df: DataFrame): Long = {
      obsSeq += 1
      val obs = Observation(s"perfbench_rows_$obsSeq")
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      obs.get("rows").asInstanceOf[Long]
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val trace = args("trace") == "1"
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[4]").appName(s"perfbench-$workload")
        .config("spark.local.dir", s"${args("work")}/spark-local"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, trace)
    val taskProbe = new TaskProbe(ctx.spans)
    val logCounter = new LogCounter
    if (trace) {
      spark.sparkContext.addSparkListener(taskProbe)
      spark.listenerManager.register(new PlanProbe(ctx.spans))
      logCounter.install()
    }

    val extra: Map[String, Any] = workload match {
      case "archive_daily" => archiveDaily(ctx, args)
      case "query_suite" => querySuite(ctx, args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val endMs = Clock.nowMs
    PerfbenchBus.drain(spark.sparkContext)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    if (trace) ctx.spans.add(Span(ctx.workloadSpan, 0L, "workload", workload, 0L,
      ctx.timedStartMs, endMs))

    val out = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> (ctx.timedStartMs - jvmStartMs) / 1000,
      "ops" -> ctx.ops.toSeq,
      "probes" -> ctx.probes.toSeq,
      "retained_heap_mb" -> retainedHeapMb(),
      "counters" -> {
        import scala.jdk.CollectionConverters._
        taskProbe.byOp.asScala.map { case (k, v) => k.toString -> v.toMap }.toMap
      },
      "log" -> logCounter.toMap,
      "spans" -> ctx.spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))) ++ extra
    Files.writeString(Paths.get(args("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }

  /** Time the JIT compilers have spent compiling, summed over them. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Time the collectors have spent collecting, summed over them. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** CPU time of every thread of this JVM: the Spark driver, its local
    * executor's tasks, the JIT and the collector. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Driver heap still in use after full collections, with the session
    * and everything the workload left cached still alive. Collections
    * repeat while the heap still shrinks, since Spark's cleaner releases
    * the blocks of collected datasets only after a collection finds them. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Double = {
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur) = (usedAfterGc(), usedAfterGc())
    var rounds = 2
    while (rounds < 10 && cur < prev - 0.1) {
      prev = cur; cur = usedAfterGc(); rounds += 1
    }
    cur
  }

  private def day(s: String): LocalDate = LocalDate.parse(s, Day)

  private def jobConfig(args: Map[String, String], stationDir: String, archive: String,
      state: String, sink: String): ArchiveJob.JobConfig =
    ArchiveJob.JobConfig(statePath = state, archivePath = archive, instrument = "perfbench",
      stations = args("stations").split(',').toSeq.map(n =>
        ArchiveJob.StationSource(n, s"$stationDir/$n.sdb")),
      metricsPath = Some(s"${args("work")}/aristoteles.prom"), sinkFormat = sink)

  private def copyStations(args: Map[String, String], to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    args("stations").split(',').foreach { n =>
      Files.copy(Paths.get(args("inputs"), s"$n.sdb"), Paths.get(to, s"$n.sdb"))
    }
  }

  /** Per-day row counts and per-column sums of an archive, for the
    * manifest check in run.py. */
  private def archiveDays(df: DataFrame): Map[String, Any] = {
    val aggs = count(lit(1)).as("rows") +: WviewSchema.sensorNames.map(c => sum(col(c)).as(c))
    df.groupBy(col("day").cast("string").as("day")).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        r.getString(0) -> Map("rows" -> r.getLong(1),
          "sum" -> WviewSchema.sensorNames.zipWithIndex.map { case (c, i) =>
            c -> (if (r.isNullAt(i + 2)) 0.0 else r.getDouble(i + 2)) }.toMap)
      }.toMap
  }

  /** Bytes of archived data files under `root` and their count. */
  private def dataFiles(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      val files = s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
        && !p.toString.contains("/_")).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  private def runResult(r: ArchiveJob.RunResult): Map[String, Any] =
    Map("status" -> r.status, "days_written" -> r.daysWritten)

  /** The decomposition calls of a traced archive run: the station scan,
    * the conversion over [from, to], and the gate's day count for `to`,
    * each on the same inputs as the timed operations and after them. */
  private def decompose(ctx: Ctx, cfg: ArchiveJob.JobConfig, from: LocalDate, to: LocalDate): Unit = {
    val spark = ctx.spark
    ctx.probe("sqlite.scan")(ctx.consume(ArchiveJob.unionStations(spark, cfg)))(n => Map("rows" -> n))
    val cached = ArchiveJob.unionStations(spark, cfg).cache()
    try {
      cached.count()
      val lo = from.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      val hi = to.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond + 86399
      // alternate the two calls so neither is the only one to run warm
      (1 to 3).foreach { _ =>
        ctx.probe("pipeline.filter")(ctx.consume(cached.filter(col("dateTime").between(lo, hi))))(
          n => Map("rows" -> n))
        ctx.probe("pipeline.output")(ctx.consume(ArchiveJob.outputFor(cached, from, to)))(
          n => Map("rows" -> n))
      }
    } finally cached.unpersist()
    ctx.probe("pipeline.gate")(ArchiveJob.dayCounts(ArchiveJob.unionStations(spark, cfg), to)
      .collect().length)(n => Map("rows" -> n))
  }

  /** archive_daily: set-up pre-fills a commit-log archive with the
    * history by one backfill (`ArchiveJob.run(perDayCommit = false)` in
    * the fresh JVM, timed for the report); each operation is then one
    * cron tick, one per day in `ticks`, after the day it archives has
    * been appended to the station files. */
  private def archiveDaily(ctx: Ctx, args: Map[String, String]): Map[String, Any] = {
    val work = args("work")
    val stations = s"$work/stations"
    copyStations(args, stations)
    val cfg = jobConfig(args, stations, s"$work/archive", s"$work/state", "commitlog")
    val (first, last) = (day(args("first")), day(args("last")))
    Watermark.writeNext(cfg.statePath, first)
    val t0 = System.nanoTime()
    val prefill = ArchiveJob.run(ctx.spark, cfg, today = last.plusDays(1), perDayCommit = false)
    val prefillS = (System.nanoTime() - t0) / 1e9
    require(prefill.status == 1, s"pre-fill ended with status ${prefill.status}")
    val prefillBytes = dataFiles(cfg.archivePath)._1

    val ticks = args("ticks").split(',').toSeq.map(day)
    val checks = ArrayBuffer.empty[Map[String, Any]]
    ticks.foreach { d =>
      appendDay(args, stations, d)
      ctx.op("tick", d.format(Day))(
        ArchiveJob.run(ctx.spark, cfg, today = d.plusDays(1), perDayCommit = true))(runResult)
      val prom = new String(Files.readAllBytes(Paths.get(cfg.metricsPath.get)), "UTF-8")
      checks += Map("yesterday" -> d.format(Day),
        "watermark" -> Watermark.read(cfg.statePath).map(_.format(Day)).getOrElse(""),
        "prom_status" -> prom.linesIterator.collectFirst {
          case l if l.startsWith("aristoteles_status ") => l.stripPrefix("aristoteles_status ").trim
        }.getOrElse(""))
      if (ctx.trace) {
        val v = graft.operators.CommitLog.latestVersion(ctx.spark, cfg.archivePath)
        ctx.probe("commitlog.snapshot")(graft.operators.CommitLog.snapshot(
          ctx.spark, cfg.archivePath, Some(v)).size)(n => Map("files" -> n, "version" -> v))
      }
    }
    if (ctx.trace) decompose(ctx, cfg, first, ticks.last)
    Map("checks" -> checks.toSeq, "prefill_s" -> prefillS, "prefill_bytes" -> prefillBytes,
      "archive" -> archiveDays(ctx.spark.read.format("graft").load(cfg.archivePath)),
      "files" -> dataFiles(cfg.archivePath)._2,
      "commitlog_versions" -> (graft.operators.CommitLog.latestVersion(ctx.spark, cfg.archivePath) + 1))
  }

  /** Appends one day to every station file with the generator's helper,
    * outside the timed operation. */
  private def appendDay(args: Map[String, String], stations: String, d: LocalDate): Unit =
    args("stations").split(',').foreach { n =>
      val p = new ProcessBuilder(args("python"), args("gen"), "append",
        s"$stations/$n.sdb", s"${args("inputs")}/$n.pending.sdb", d.format(Day))
        .inheritIO().start()
      require(p.waitFor() == 0, s"appending $d to $n failed")
    }

  /** The artifact builders the sampled queries serve from; `graft.Bench`
    * warms these and seven more. */
  private val builders: Map[String, (SparkSession, String) => Any] = Map(
    "catalog" -> { (s, d) =>
      graft.sources.GraftCatalog.register(s, d)
      graft.sources.GraftCatalog.analyze(s, Seq("customer", "nation"))
    },
    "html_fixture" -> ((s, d) => graft.operators.Html.htmlFixturePath(s, d)))

  private val WarmupQuery = "q1_pricing_summary"

  /** query_suite: set-up warms the tables; the timed part builds the
    * artifacts, then calls each query once cold, then makes
    * `served_passes` served passes over the queries. */
  private def querySuite(ctx: Ctx, args: Map[String, String]): Map[String, Any] = {
    val spark = ctx.spark
    val data = args("data")
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach(t => graft.Tables(spark, data, t).count())
    graft.Tables.events(spark, data).count()
    // one untimed query outside the sample, as graft.Bench's warm-up does,
    // so the cold calls do not also pay for first-use JIT of the engine
    val registry = graft.SparkEntry.queries
    ctx.consume(registry(WarmupQuery)(spark, data))

    val queries = args("queries").split(',').toSeq
    args("builds").split(',').filter(_.nonEmpty).foreach { b =>
      ctx.op("build", b)(builders(b)(spark, data))(_ => Map.empty)
    }
    def pass(kind: String): Unit = queries.foreach { q =>
      ctx.op(kind, q)(ctx.consume(registry(q)(spark, data)))(n => Map("rows" -> n))
    }
    pass("cold")
    (1 to args("served_passes").toInt).foreach(_ => pass("served"))
    Map("registered" -> registry.keys.toSeq.sorted)
  }
}
