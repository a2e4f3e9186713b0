package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Diagnostic profiling entry point; nothing reads its output but people:
  * {{{
  *   runMain graft.Profile time   <name> [reps]
  *   runMain graft.Profile stages <name>[,name...] [reps]
  *   runMain graft.Profile plan   <outDir> <suffix> <name>[,name...]|all
  *   runMain graft.Profile decode [reps]
  * }}}
  * Every mode runs in one session configured like [[Bench]]'s
  * (`GraftSession.configure`, SPARK_GRAFT_CPUS cores) over the data at
  * SPARK_GRAFT_SF_DIR, so what it shows is what the bench runs.
  *
  *  - `time`: wall time of each rep of one registered query, plus
  *    min/median. No warmup: rep 0 pays the artifact builds and memos
  *    the later reps are served from.
  *  - `stages`: builds the bench warmup's artifacts ([[warmArtifacts]]),
  *    runs each query `reps` times and prints, for the last rep, the
  *    plan phases and every job/stage with its task count and duration
  *    (the Spark UI's stage table; the UI is off in bench sessions).
  *  - `plan`: writes each query's `.explain("formatted")` to
  *    `<outDir>/<name>_<suffix>.txt`, the plan evidence files that make
  *    Exchange counts, join strategies and PushedFilters checkable
  *    without running Spark.
  *  - `decode`: times the static decode entry points (JpegPixels.parse,
  *    GzipMeta.parse) over the media fixture in a driver-side loop, the
  *    per-byte CPU floor of the mm_ decode family without Spark
  *    scheduling. */
object Profile {
  private val usage =
    "usage: Profile time <name> [reps] | stages <name>[,name...] [reps] | " +
      "plan <outDir> <suffix> <name>[,name...]|all | decode [reps]"

  def main(args: Array[String]): Unit = {
    def intArg(i: Int, default: Int) = if (args.length > i) args(i).toInt else default
    val run: Option[(SparkSession, String) => Unit] = args.headOption.collect {
      case "time" if args.length > 1 =>
        (spark, sfDir) => time(spark, sfDir, args(1), intArg(2, 5))
      case "stages" if args.length > 1 =>
        (spark, sfDir) => stages(spark, sfDir, args(1).split(',').toSeq, intArg(2, 3))
      case "plan" if args.length > 2 =>
        (spark, sfDir) => plan(spark, sfDir, args(1), args(2),
          if (args.length > 3 && args(3) != "all") args(3).split(',').toSeq
          else SparkEntry.queries.keys.toSeq.sorted)
      case "decode" => (spark, sfDir) => decode(spark, sfDir, intArg(1, 20))
    }
    if (run.isEmpty) {
      System.err.println(usage)
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated data directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run.get(spark, sfDir) finally spark.stop()
  }

  /** The bench warmup's fixed-cost artifacts, each best-effort. */
  private def warmArtifacts(spark: SparkSession, sfDir: String): Unit = {
    def attempt(build: => Any): Unit = try build catch { case _: Throwable => }
    attempt(graft.operators.Similarity.ivfIndexPath(spark, sfDir))
    attempt(graft.operators.Similarity.warmCodebooks(spark, sfDir))
    attempt(graft.operators.Multimodal.mediaFixturePath(spark, sfDir))
    attempt(graft.operators.Html.htmlFixturePath(spark, sfDir))
    attempt(graft.operators.Dedup.dedupClusters(spark, sfDir).count())
    attempt(graft.operators.Dedup.dedupIndexPath(spark, sfDir))
    attempt(graft.operators.TextAnalysis.bpeMergeList(spark, sfDir))
  }

  private def time(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    val fn = SparkEntry.queries(name)
    val times = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name rep$i: $t%.3f s")
      t
    }
    val sorted = times.sorted
    println(f"[time] $name min=${sorted.head}%.3f median=${sorted(reps / 2)}%.3f")
  }

  private def stages(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Unit = {
    warmArtifacts(spark, sfDir)
    case class StageRec(jobId: Int, stageId: Int, nTasks: Int,
      durMs: Long, name: String)
    val recorded = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageIds.foreach(s => jobOfStage.put(s, js.jobId))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (record) {
          val si = sc.stageInfo
          val dur = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          recorded.add(StageRec(jobOfStage.getOrDefault(si.stageId, -1),
            si.stageId, si.numTasks, dur, si.name.take(60)))
        }
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (0 until reps - 1).foreach { _ => try fn(spark, sfDir).count() catch { case _: Throwable => } }
      recorded.clear()
      record = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val cnt = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(200) // let listener drain
      val phases = df.queryExecution.tracker.phases
        .map { case (p, s) => s"$p=${s.endTimeMs - s.startTimeMs}ms" }
        .mkString(" ")
      println(f"[prof] $name wall=$wall%.3f s rows=$cnt  [$phases]")
      import scala.jdk.CollectionConverters._
      val recs = recorded.asScala.toSeq.sortBy(r => (r.jobId, r.stageId))
      val totalStage = recs.map(_.durMs).sum
      recs.foreach { r =>
        println(f"[prof]   job=${r.jobId}%3d stage=${r.stageId}%4d tasks=${r.nTasks}%4d ${r.durMs}%6d ms  ${r.name}")
      }
      println(f"[prof]   stage-time sum=${totalStage} ms jobs=${recs.map(_.jobId).distinct.size} stages=${recs.size}")
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          text.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
  }

  private def decode(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    val fix = graft.operators.Multimodal.mediaFixturePath(spark, sfDir)

    def bytesOf(kind: String): Array[Array[Byte]] =
      spark.read.parquet(s"$fix/$kind").collect()
        .map(r => r.getAs[Array[Byte]](1)).filter(_ != null)

    def timeLoop(label: String, payloads: Array[Array[Byte]])(f: Array[Byte] => AnyRef): Unit = {
      val total = payloads.map(_.length.toLong).sum
      var best = Double.MaxValue
      var decoded = 0
      (0 until reps).foreach { _ =>
        val t0 = System.nanoTime()
        var i = 0
        var ok = 0
        while (i < payloads.length) {
          if (f(payloads(i)) != null) ok += 1
          i += 1
        }
        decoded = ok
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
      }
      println(f"[decprof] $label%-14s n=${payloads.length}%5d ok=$decoded%5d " +
        f"bytes=$total%9d best=${best * 1000}%8.1f ms  ${total / best / 1e6}%7.1f MB/s  " +
        f"${best * 1e9 / math.max(1, total)}%6.2f ns/B")
    }

    Seq("jpgpx", "jpgcol", "jpgprog").foreach { k =>
      try timeLoop(k, bytesOf(k))(graft.plans.JpegPixels.parse)
      catch { case e: Throwable => println(s"[decprof] $k skipped: ${e.getMessage}") }
    }
    try timeLoop("gzip", bytesOf("gzip"))(graft.plans.GzipMeta.parse)
    catch { case e: Throwable => println(s"[decprof] gzip skipped: ${e.getMessage}") }
  }
}
