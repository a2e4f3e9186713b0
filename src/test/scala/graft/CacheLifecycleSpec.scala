package graft

import graft.operators.{Dedup, Multimodal, Similarity}

/** Storage-lifetime hygiene: memoized build-once artifacts (near-dup
  * pair sets, cluster assignments, band-table checkpoints, IVF
  * indexes) are released on explicit corpus eviction, so a long-lived
  * session serving many corpora does not accumulate block-manager
  * storage — the failure mode is invisible at bench scale and an OOM
  * at 100 TB serving scale. */
class CacheLifecycleSpec extends SparkSpec {

  private def persistentCount = spark.sparkContext.getPersistentRDDs.size

  test("evictCorpus releases the blocks the dedup family pinned") {
    Dedup.minhashLshPairs(spark, sf).count()
    Dedup.dedupClusters(spark, sf).count()
    // the round-5 memo scopes too: paragraph chunks, simhash
    // signatures — their checkpoints must ride the same eviction
    Dedup.paragraphFlags(spark, sf).count()
    Dedup.simhashPairs(spark, sf).count()
    val before = persistentCount
    assert(before > 0, "expected checkpointed blocks after the cluster build")
    Artifacts.evict(spark, sf)
    val after = persistentCount
    assert(after < before, s"eviction released nothing ($before -> $after)")
    // post-eviction use rebuilds fresh rather than serving a dead frame
    assert(Dedup.dedupClusters(spark, sf).count() > 0)
    Artifacts.evict(spark, sf)
  }

  test("repeated memoized dedup calls serve one checkpoint, not one per call") {
    Artifacts.evict(spark, sf)
    Dedup.simhashPairs(spark, sf).count()
    Dedup.paragraphFlags(spark, sf).count()
    val afterFirst = persistentCount
    // N further calls must not pin new blocks (the pre-fix behavior
    // tracked a fresh checkpoint per call — unbounded storage growth
    // in a long-lived serving session)
    (1 to 3).foreach { _ =>
      Dedup.simhashPairs(spark, sf).count()
      Dedup.paragraphFlags(spark, sf).count()
      Dedup.paragraphDedup(spark, sf).count()
    }
    assert(persistentCount === afterFirst,
      s"repeat calls accumulated blocks ($afterFirst -> $persistentCount)")
    Artifacts.evict(spark, sf)
  }

  test("a second corpus does not accumulate the first corpus's blocks") {
    val sf2 = "/root/testdata/sf0.01"
    Dedup.dedupClusters(spark, sf).count()
    Artifacts.evict(spark, sf)
    val baseline = persistentCount
    Dedup.dedupClusters(spark, sf2).count()
    Artifacts.evict(spark, sf2)
    assert(persistentCount <= baseline,
      s"second corpus leaked blocks past eviction ($baseline -> $persistentCount)")
  }

  test("gram-table eviction releases contamination's checkpointed blocks") {
    import graft.operators.TextAnalysis
    TextAnalysis.contamination(spark, sf).count()
    val before = persistentCount
    assert(before > 0, "expected a checkpointed gram table after contamination")
    Artifacts.evict(spark, sf)
    assert(persistentCount < before,
      s"gram eviction released nothing ($before -> $persistentCount)")
    // post-eviction use rebuilds fresh
    assert(TextAnalysis.contamination(spark, sf).count() >= 0)
    Artifacts.evict(spark, sf)
  }

  test("knn_ivf serving reuses one materialized index per corpus") {
    val p1 = Similarity.ivfIndexPath(spark, sf)
    val p2 = Similarity.ivfIndexPath(spark, sf)
    assert(p1 === p2, "index rebuilt for the same corpus")
    val served = Similarity.knnIvfServed(spark, sf).collect()
    val inMem = Similarity.knnIvf(spark, sf).collect()
    assert(served.map(_.toString).toSeq === inMem.map(_.toString).toSeq)
  }

  test("evicting a corpus's ANN state deletes its index scratch dir") {
    val p = Similarity.ivfIndexPath(spark, sf)
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(p)))
    Artifacts.evict(spark, sf)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(p)),
      "evicted index directory still on disk")
    // next serve rebuilds a fresh index and works end to end
    val p2 = Similarity.ivfIndexPath(spark, sf)
    assert(p2 !== p)
    assert(Similarity.knnIvfServed(spark, sf).count() > 0)
  }

  test("evicting a corpus's html fixture deletes its scratch dir and link memo") {
    val p = graft.operators.Html.htmlFixturePath(spark, sf)
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(p)))
    Artifacts.evict(spark, sf)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(p)),
      "evicted html fixture still on disk")
    val p2 = graft.operators.Html.htmlFixturePath(spark, sf)
    assert(p2 !== p)
    assert(graft.operators.Html.htmlExtract(spark, sf).count() > 0)
  }

  test("evicting a corpus's media fixture deletes its scratch dir") {
    val p = Multimodal.mediaFixturePath(spark, sf)
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(p)))
    Artifacts.evict(spark, sf)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(p)),
      "evicted media fixture still on disk")
    // next decode rebuilds a fresh fixture and works end to end
    val p2 = Multimodal.mediaFixturePath(spark, sf)
    assert(p2 !== p)
    assert(Multimodal.audioMeta(spark, sf).count() > 0)
  }
}
