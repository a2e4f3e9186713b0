package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Memo cache scoped to a Spark application: entries are keyed by
  * (applicationId, caller key) and dropped when the owning SparkContext
  * stops, via a listener registered on first use per application, so
  * nothing outlives its SparkContext. The commit log's version-keyed
  * snapshot cache is its user; build-once artifacts live in
  * [[Artifacts]], which also releases what they hold.
  */
final class AppScopedCache[V] {

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
          entries.keySet().removeIf(_.startsWith(appId + ":"))
        }
      })
    }
    entries.computeIfAbsent(fullKey(appId, key), _ => compute)
  }
}
