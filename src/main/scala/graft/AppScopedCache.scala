package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memo cache scoped to a Spark application: entries are keyed by
  * (applicationId, caller key) and evicted - with a per-value cleanup -
  * when the owning SparkContext stops, via a listener registered on
  * first use per application.
  *
  * This is the lifetime discipline for every build-once-serve-many
  * artifact in the engine (dedup cluster assignments, near-dup pair
  * sets, IVF indexes, catalog registrations): a long-lived session
  * serving many corpora can also release one corpus's storage
  * explicitly through [[evict]], and nothing outlives its
  * SparkContext - neither block-manager storage pinned by checkpointed
  * frames nor driver-heap references to dead sessions' DataFrames.
  */
final class AppScopedCache[V](onEvict: V => Unit = (_: V) => (),
    cleanupOnAppEnd: Boolean = false) {

  private val entries = new ConcurrentHashMap[String, V]()
  private val hookedApps = ConcurrentHashMap.newKeySet[String]()

  // local appIds ("local-<ts>") and cluster appIds ("app-...") never
  // contain ':', so prefix matching on "appId:" is unambiguous
  private def fullKey(appId: String, key: String): String = appId + ":" + key

  def getOrCompute(spark: SparkSession, key: String)(compute: => V): V = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    if (hookedApps.add(appId)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          hookedApps.remove(appId)
          dropApp(appId)
        }
      })
    }
    entries.computeIfAbsent(fullKey(appId, key), _ => compute)
  }

  /** Release one entry now (e.g. "this corpus is done") - runs the
    * cleanup so checkpointed blocks / scratch files go with it. */
  def evict(spark: SparkSession, key: String): Unit =
    remove(fullKey(spark.sparkContext.applicationId, key))

  /** App-end teardown. By default it drops references WITHOUT running
    * cleanups: the stopping SparkContext releases every block itself,
    * and issuing unpersist RPCs here races the executor pools'
    * shutdown — the rejected promise continuations spray
    * RejectedExecutionException stack traces onto stderr after the
    * app's own output (which broke the bench driver's output-tail
    * parse in round 3). That rationale applies ONLY to block-manager
    * cleanups: caches whose cleanup is a FILESYSTEM delete (the
    * scratch-dir fixtures and persisted-index caches) opt into
    * `cleanupOnAppEnd = true`, or every Bench/Verify/test JVM leaks a
    * multi-dataset parquet tree under /tmp per run. */
  private def dropApp(appId: String): Unit = {
    import scala.jdk.CollectionConverters._
    entries.keySet().asScala.toList
      .filter(_.startsWith(appId + ":"))
      .foreach(k =>
        if (cleanupOnAppEnd) remove(k) else entries.remove(k))
  }

  private def remove(k: String): Unit = {
    val v = entries.remove(k)
    if (v != null) scala.util.Try(onEvict(v))
  }

  private[graft] def liveEntryCount: Int = entries.size
}

object AppScopedCache {

  /** Unpersist every RDD a frame's plan pins in the block manager -
    * the LogicalRDD leaves that `localCheckpoint` materializes to.
    * No-op on frames that were never materialized (lazy checkpoints). */
  def unpersistPlanRDDs(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** A tracked-scratch variant: frames appended under a scope key and
    * unpersisted together on eviction - for per-call checkpoints (band
    * signature tables) that aren't themselves memo values. */
  final class ScratchFrames {
    private val lists = new AppScopedCache[java.util.List[DataFrame]](
      l => l.forEach(unpersistPlanRDDs(_)))
    def track(spark: SparkSession, scope: String, df: DataFrame): DataFrame = {
      lists.getOrCompute(spark, scope)(
        new java.util.concurrent.CopyOnWriteArrayList[DataFrame]()).add(df)
      df
    }
    def evict(spark: SparkSession, scope: String): Unit = lists.evict(spark, scope)
    private[graft] def liveEntryCount: Int = lists.liveEntryCount
  }
}
