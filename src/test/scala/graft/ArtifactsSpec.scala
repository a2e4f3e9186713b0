package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Lake, TextAnalysis}

/** The artifact registry: entries are served while their inputs'
  * fingerprint holds, rebuilt after a rewrite in place, and released by
  * one per-corpus evict whatever params they were built with. */
class ArtifactsSpec extends SparkSpec {

  private def persistentCount = spark.sparkContext.getPersistentRDDs.size

  /** A private copy of the sf corpus, so tests can rewrite its files. */
  private def corpusCopy(): String = {
    val dir = Files.createTempDirectory("graft_corpus_copy_")
    Files.list(Path.of(sf)).forEach { f =>
      Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
      dir.resolve(f.getFileName).toFile.setWritable(true)
    }
    dir.toString
  }

  /** Replace `<dir>/<name>.parquet` with `df`'s rows. */
  private def rewrite(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val staged = s"$dir/$name.staged"
    df.write.parquet(staged)
    Files.delete(Path.of(Tables.path(dir, name)))
    Files.move(Path.of(staged), Path.of(Tables.path(dir, name)))
  }

  test("a corpus rewritten in place is rebuilt, not served from its old state") {
    val dir = corpusCopy()
    try {
      val nOrders = Tables.orders(spark, dir).count()
      assert(Lake.aggPushdown(spark, dir).first().getAs[Long]("n_orders") === nOrders)
      val docCols = Tables.documents(spark, dir).columns.toSeq
      Dedup.minhashLshPairs(spark, dir).count()
      val pairsBefore = Artifacts.stats("dedup_masked_pairs").builds +
        Artifacts.stats("dedup_banded_pairs").builds

      rewrite(dir, "orders",
        spark.read.parquet(s"$sf/orders.parquet").filter(col("o_orderkey") % 2 === 0))
      rewrite(dir, "documents",
        spark.read.parquet(s"$sf/documents.parquet").withColumn("extra", lit(1)))

      val fewer = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderkey") % 2 === 0).count()
      assert(fewer < nOrders)
      assert(Lake.aggPushdown(spark, dir).first().getAs[Long]("n_orders") === fewer)
      assert(Tables.documents(spark, dir).columns.toSeq === docCols :+ "extra")
      Dedup.minhashLshPairs(spark, dir).count()
      val pairsAfter = Artifacts.stats("dedup_masked_pairs").builds +
        Artifacts.stats("dedup_banded_pairs").builds
      assert(pairsAfter === pairsBefore + 1, "the pair set was served from the old corpus")
    } finally {
      Artifacts.evict(spark, dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("counters: miss+build, hit, miss after a rewrite, miss after evict") {
    val dir = corpusCopy()
    try {
      def regionRows = Artifacts.value(spark, "test_region_rows", dir,
        Seq(Tables.path(dir, "region")))(Tables.region(spark, dir).count())
      val s0 = Artifacts.stats("test_region_rows")
      assert(regionRows === 5)
      val s1 = Artifacts.stats("test_region_rows")
      assert((s1.misses, s1.builds, s1.hits) === ((s0.misses + 1, s0.builds + 1, s0.hits)))
      assert(regionRows === 5)
      val s2 = Artifacts.stats("test_region_rows")
      assert((s2.misses, s2.builds, s2.hits) === ((s1.misses, s1.builds, s1.hits + 1)))
      rewrite(dir, "region", spark.read.parquet(s"$sf/region.parquet").limit(2))
      assert(regionRows === 2)
      val s3 = Artifacts.stats("test_region_rows")
      assert((s3.misses, s3.builds, s3.hits) === ((s2.misses + 1, s2.builds + 1, s2.hits)))
      Artifacts.evict(spark, dir)
      assert(regionRows === 2)
      val s4 = Artifacts.stats("test_region_rows")
      assert((s4.misses, s4.builds, s4.hits) === ((s3.misses + 1, s3.builds + 1, s3.hits)))
    } finally {
      Artifacts.evict(spark, dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("evict releases a paragraph table built at a non-default k") {
    Artifacts.evict(spark, sf)
    val baseline = persistentCount
    Dedup.paragraphFlags(spark, sf, k = 10).count()
    assert(persistentCount > baseline, "expected a checkpointed paragraph table")
    Artifacts.evict(spark, sf)
    assert(persistentCount <= baseline,
      s"k = 10 paragraph blocks outlived evict ($baseline -> $persistentCount)")
  }

  test("evict releases a gram table built at a non-default n") {
    Artifacts.evict(spark, sf)
    val baseline = persistentCount
    TextAnalysis.contamination(spark, sf, n = 3).count()
    assert(persistentCount > baseline, "expected a checkpointed gram table")
    Artifacts.evict(spark, sf)
    assert(persistentCount <= baseline,
      s"n = 3 gram blocks outlived evict ($baseline -> $persistentCount)")
  }
}
