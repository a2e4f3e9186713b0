package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one registry of build-once artifacts: pair sets, gram
  * tables, quantizers, persisted indexes, fixtures, footer schemas.
  *
  * '''Key.''' An entry is keyed on (application, artifact name, params,
  * corpus dir) and stamped with the FINGERPRINT of its inputs: the
  * (path, length, mtime) of every file under the input paths the build
  * reads. A commit-log table's log files (`_graft_log`) are among its
  * files, so each commit changes its fingerprint as a new version does.
  * A lookup whose fingerprint matches is served; one that finds an
  * older fingerprint releases that entry and builds anew, so a corpus
  * rewritten in place is never served from its old state.
  *
  * '''Kinds.''' How an entry is released follows from its kind:
  *  - a [[scratchDir]] is deleted on release, at app end too, along
  *    with any entry keyed on a path under it (its footer schemas);
  *  - a [[frame]] (a checkpointed DataFrame) is unpersisted on release;
  *    at app end its reference is only dropped, because the stopping
  *    SparkContext frees every block itself and unpersist RPCs issued
  *    then race the executor pools' shutdown;
  *  - a [[value]] on the driver is dropped.
  * Frames a build checkpoints on the side (band tables) are handed to
  * [[own]] and released with the entry being built.
  *
  * '''Release.''' Besides supersession and app end, [[evict]] releases
  * every entry of one corpus dir, whatever its params.
  *
  * Builds run under a per-key lock, never inside a map update, so one
  * build may look up another artifact (the pair set asks for the vocab).
  */
object Artifacts {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Artifacts")

  private final case class Key(app: String, name: String, params: Seq[Any], dir: String)

  private sealed trait Kind
  private case object DriverValue extends Kind
  private case object Frame extends Kind
  private case object ScratchDir extends Kind

  private final class Entry(val fingerprint: Seq[(String, Long, Long)], val value: Any,
      val kind: Kind, val owned: Seq[DataFrame])

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val locks = new ConcurrentHashMap[Key, AnyRef]()
  private val hookedApps = ConcurrentHashMap.newKeySet[String]()

  /** The side frames of the builds running on this thread, innermost
    * first. */
  private val building = new ThreadLocal[List[java.util.List[DataFrame]]] {
    override def initialValue(): List[java.util.List[DataFrame]] = Nil
  }

  /** Lookup counters per artifact name, for tests and logs. */
  private[graft] final case class Stats(hits: Long, misses: Long, builds: Long, buildMs: Long)

  private final class Counters {
    val hits, misses, builds, buildMs = new AtomicLong
  }

  private val counters = new ConcurrentHashMap[String, Counters]()

  private[graft] def stats(name: String): Stats = {
    val c = counters.computeIfAbsent(name, _ => new Counters)
    Stats(c.hits.get, c.misses.get, c.builds.get, c.buildMs.get)
  }

  /** A driver-side value (quantizer, vocabulary, schema, count). */
  def value[V](spark: SparkSession, name: String, dir: String, inputs: Seq[String],
      params: Any*)(build: => V): V =
    lookup(spark, name, dir, inputs, params, DriverValue)(build)

  /** A checkpointed frame, unpersisted when released. */
  def frame(spark: SparkSession, name: String, dir: String, inputs: Seq[String],
      params: Any*)(build: => DataFrame): DataFrame =
    lookup(spark, name, dir, inputs, params, Frame)(build)

  /** A fresh `graft_<name>_` scratch directory that `write` fills;
    * deleted when released and at app end. */
  def scratchDir(spark: SparkSession, name: String, dir: String, inputs: Seq[String],
      params: Any*)(write: String => Unit): String =
    lookup(spark, name, dir, inputs, params, ScratchDir) {
      val path = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toString
      try write(path) catch { case e: Throwable => deleteLocalDir(path); throw e }
      path
    }

  /** Hand a side checkpoint to the entry being built on this thread, to
    * be unpersisted with it. Outside any build the frame is left to
    * Spark's ContextCleaner, which frees it once unreachable. */
  def own(df: DataFrame): DataFrame = {
    building.get.headOption.foreach(_.add(df))
    df
  }

  /** Release every artifact built from `dir` in this application. */
  def evict(spark: SparkSession, dir: String): Unit = {
    val app = spark.sparkContext.applicationId
    entries.keySet.asScala.filter(k => k.app == app && k.dir == dir)
      .foreach(k => remove(k, atAppEnd = false))
  }

  /** Unpersist every RDD a frame's plan pins in the block manager: the
    * LogicalRDD leaves that `localCheckpoint` materializes to. No-op on
    * frames that were never materialized (lazy checkpoints). */
  def unpersistPlanRDDs(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  private def lookup[V](spark: SparkSession, name: String, dir: String,
      inputs: Seq[String], params: Seq[Any], kind: Kind)(build: => V): V = {
    val sc = spark.sparkContext
    val app = sc.applicationId
    if (hookedApps.add(app)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        hookedApps.remove(app)
        entries.keySet.asScala.filter(_.app == app).foreach(remove(_, atAppEnd = true))
        locks.keySet.removeIf(_.app == app)
      }
    })
    val key = Key(app, name, params, dir)
    val c = counters.computeIfAbsent(name, _ => new Counters)
    val fp = fingerprint(spark, inputs)
    def current: Option[V] = Option(entries.get(key))
      .filter(_.fingerprint == fp).map(_.value.asInstanceOf[V])
    current match {
      case Some(v) => c.hits.incrementAndGet(); v
      case None => locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
        current match {
          case Some(v) => c.hits.incrementAndGet(); v
          case None =>
            c.misses.incrementAndGet()
            // superseded: its inputs changed since it was built
            remove(key, atAppEnd = false)
            val side = new java.util.concurrent.CopyOnWriteArrayList[DataFrame]()
            building.set(side :: building.get)
            val t0 = System.nanoTime()
            val v = try build catch {
              case e: Throwable => side.forEach(unpersistPlanRDDs(_)); throw e
            } finally building.set(building.get.tail)
            val ms = (System.nanoTime() - t0) / 1000000
            c.builds.incrementAndGet()
            c.buildMs.addAndGet(ms)
            log.info(s"artifact $name built for $dir in $ms ms")
            entries.put(key, new Entry(fp, v, kind, side.asScala.toSeq))
            v
        }
      }
    }
  }

  private def remove(key: Key, atAppEnd: Boolean): Unit = {
    val e = entries.remove(key)
    if (e != null) scala.util.Try {
      e.kind match {
        case ScratchDir =>
          val path = e.value.asInstanceOf[String]
          deleteLocalDir(path)
          entries.keySet.asScala
            .filter(k => k.app == key.app && (k.dir == path || k.dir.startsWith(path + "/")))
            .foreach(remove(_, atAppEnd))
        case Frame if !atAppEnd => unpersistPlanRDDs(e.value.asInstanceOf[DataFrame])
        case _ => ()
      }
      if (!atAppEnd) e.owned.foreach(unpersistPlanRDDs)
    }
  }

  /** (path, length, mtime) of every file under each input path, in a
    * stable order; a missing input reads as (path, -1, -1). */
  private def fingerprint(spark: SparkSession, inputs: Seq[String]): Seq[(String, Long, Long)] =
    if (inputs.isEmpty) Nil
    else {
      val conf = spark.sessionState.newHadoopConf()
      inputs.flatMap { in =>
        val p = new Path(in)
        val fs = p.getFileSystem(conf)
        try {
          val it = fs.listFiles(p, true)
          val files = Seq.newBuilder[(String, Long, Long)]
          while (it.hasNext) {
            val s = it.next()
            files += ((s.getPath.toString, s.getLen, s.getModificationTime))
          }
          files.result().sortBy(_._1)
        } catch { case _: java.io.FileNotFoundException => Seq((in, -1L, -1L)) }
      }
    }

  private def deleteLocalDir(path: String): Unit = {
    import java.nio.file.{Files, Path => NioPath}
    val root = NioPath.of(path)
    if (Files.exists(root)) {
      // Files.walk holds directory handles until closed: leaked
      // streams exhaust fds in a session that releases many dirs
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
