package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Correctness of the approximate (non-oracled) extension operators,
  * checked against exact computations on sf0.001. */
class ExtensionsSpec extends SparkSpec {

  test("rolling hash is order-sensitive where the set fingerprint is not") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val r = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
      .select(TextFunctions.fingerprint(col("text")).as("fs"),
              TextFunctions.rollingHash(col("text")).as("fr"))
      .collect()
    assert(r(0).getString(0) === r(1).getString(0)) // same bag of words
    assert(r(0).getLong(1) !== r(1).getLong(1))     // different order
  }

  test("nanos rewrite: epoch lower bound keeps negative-nanos rows") {
    import spark.implicits._
    // parquet-backed (a local relation would be constant-folded away
    // before the optimizer rule has anything to rewrite)
    val p = java.nio.file.Files.createTempDirectory("graft-nanos").toString + "/t"
    Seq(-500L, 500L, 1500L).toDF("ts_ns").write.parquet(p)
    val df = spark.read.parquet(p)
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    // -500 ns truncates toward zero to the epoch, so it satisfies
    // ts >= epoch; an m = 0 bound rewrite (ts_ns >= 0) would drop it
    val got = df.filter(col("ts") >= "1970-01-01 00:00:00")
      .select(col("ts_ns")).collect().map(_.getLong(0)).sorted
    assert(got === Array(-500L, 500L, 1500L))
    // at m >= 1 the implied bound still rewrites (rule stays active)
    val plan = df.filter(col("ts") >= "1970-01-01 00:00:00.001")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("1000000"), s"expected rewritten nanos bound:\n$plan")
  }

  test("legacy nanos events layout end-to-end: footer-gated loader branch + pushed ts_ns bounds") {
    // A REAL TIMESTAMP(NANOS) parquet footer (written with parquet-java
    // directly — Spark cannot write nanos), so this exercises the whole
    // legacy chain on the layout the driver once shipped: eventsRaw's
    // nanosAsLong conf -> LongType footer branch -> ts_ns rebuild ->
    // NanosRangeRewrite conjoining pushable raw bounds. Without this
    // fixture the rule's trigger condition exists in no test's data.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy-events").toString
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts"))
      .addField(Types.required(PrimitiveTypeName.INT64).named("user_id"))
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-00000.parquet"), conf))
      .withConf(conf).build()
    // session-TZ-robust base: derive the nanos epoch the same way the
    // query-side literals will be parsed
    val baseNs = spark.sql(
      "SELECT unix_micros(to_timestamp('2024-01-05 00:00:00'))").head.getLong(0) * 1000L
    val gf = new SimpleGroupFactory(schema)
    (0 until 10).foreach { i =>
      val g = gf.newGroup()
      g.add("ts", baseNs + i * 3600L * 1000000000L + 123L) // sub-us tail
      g.add("user_id", i.toLong)
      writer.write(g)
    }
    writer.close()
    val ev = Tables.events(spark, dir)
    // loader branch: ts rebuilt as a session-TZ timestamp, raw kept as ts_ns
    assert(ev.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(ev.schema("ts_ns").dataType === org.apache.spark.sql.types.LongType)
    val q = ev.filter(Tables.tsGte("2024-01-05 03:00:00")).select("user_id")
    assert(q.collect().map(_.getLong(0)).sorted === (3L to 9L).toArray)
    // THE pin: the rewritten raw nanos bound reaches the parquet scan
    // (the scan sees the file's own column name `ts`, an int64)
    val boundNs = baseNs + 3L * 3600L * 1000000000L
    val plan = q.queryExecution.executedPlan.toString
    assert(
      s"PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,$boundNs\\)".r
        .findFirstIn(plan).isDefined,
      s"legacy layout lost its nanos-bound pushdown:\n$plan")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("simhash: identical token sets -> identical signature (hamming 0)") {
    val sh = Dedup.simhashes(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fingerprint groups = same bag of words -> same simhash by construction
    val groups = Dedup.fingerprintGroups(spark, sf).collect()
    assert(groups.nonEmpty, "fixture should contain bag-of-words dupes")
    // every fingerprint-dup pair must appear in simhashPairs with hamming 0
    val pairs = Dedup.simhashPairs(spark, sf)
      .filter(col("hamming") === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = graft.operators.TextAnalysis.fingerprints(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expectPairs = fps.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    assert(expectPairs.subsetOf(pairs),
      s"missing simhash pairs: ${expectPairs -- pairs}")
    expectPairs.foreach { case (a, b) => assert(sh(a) === sh(b)) }
  }

  test("minhash LSH recall vs exact jaccard >= 0.8 is total on fixture") {
    val lsh = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact: brute-force pairs via the sampled-jaccard machinery on all docs
    val t = graft.operators.TextAnalysis.fingerprints(spark, sf) // warm plan
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.TextFunctions.distinctTokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val exact = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      j = ta.intersect(tb).size.toDouble / ta.union(tb).size
      if math.rint(j * 10000) / 10000 >= 0.8
    } yield (a, b)).toSet
    assert(exact === lsh, s"missed: ${exact -- lsh}, spurious: ${lsh -- exact}")
  }

  test("shingle LSH recall vs exact shingle jaccard >= 0.8 is total on fixture") {
    val lsh = Dedup.shingleLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = Dedup.shingleSets(spark, sf, 3)
      .filter(size(col("toks")) > 0).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val exact = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if math.rint(j * 10000) / 10000 >= 0.8
    } yield (a, b)).toSet
    assert(exact.nonEmpty, "fixture should contain sequential near-dups")
    assert(exact === lsh, s"missed: ${exact -- lsh}, spurious: ${lsh -- exact}")
  }

  test("banded LSH path (general-vocab plan) agrees with adaptive plan") {
    val adaptive = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.minhashLshPairsBanded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(adaptive === banded)
  }

  test("dedup clusters equal union-find over the LSH pair graph") {
    val pairs = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sf).select(col("doc_id")).collect().map(_.getLong(0))
    // reference union-find on the driver
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.map(d => d -> find(d)).toMap
    val got = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    assert(got.length === docs.length)
    got.foreach { case (d, (cluster, canonical)) =>
      assert(cluster === expected(d), s"doc $d")
      assert(canonical === (cluster == d))
    }
    // sanity: the fixture has real multi-doc clusters
    assert(got.count(!_._2._2) > 0, "expected at least one non-canonical doc")

    // the distributed residual solver (loop branch) must agree with the
    // driver union-find branch — force it by zeroing the local threshold
    val distributed = Dedup.dedupClusters(spark, sf, localThreshold = -1L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    assert(distributed.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("knn_ivf: reported neighbors carry true cosine (precision)") {
    // IVF is approximate in recall but must never misreport a similarity:
    // every (query, neighbor, cos) it returns must equal the brute-force
    // cosine for that pair.
    val brute = Similarity.knnBruteForce(spark, sf, k = 2000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.knnIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && math.abs(brute(key) - r.getDouble(2)) < 1e-9,
        s"IVF pair $key cosine mismatch")
    }
  }

  test("graft_topk heap aggregate is row-identical to the window form") {
    val scored = Similarity.bruteScores(spark, sf)
    val viaHeap = Similarity.knnBruteForce(spark, sf, k = 7).collect()
    val viaWindow = Similarity.topKPerQueryWindow(scored, 7).collect()
    assert(viaHeap.nonEmpty)
    assert(viaHeap.map(_.toString).toSeq === viaWindow.map(_.toString).toSeq)
  }

  test("graft_topk plan: partial aggregation before the probe-key exchange") {
    val plan = Similarity.knnBruteForce(spark, sf).queryExecution.executedPlan.toString
    val partial = plan.indexOf("ObjectHashAggregate")
    val shuffle = plan.indexOf("Exchange hashpartitioning(query_id")
    val finalAgg = plan.lastIndexOf("ObjectHashAggregate")
    // plan prints top-down: final agg ... exchange ... partial agg —
    // i.e. the map-side heap runs BEFORE rows cross the wire
    assert(partial >= 0 && shuffle > partial && finalAgg > shuffle,
      s"expected partial ObjectHashAggregate above and below the exchange:\n$plan")
    assert(!plan.contains("Window"), "row_number funnel should be gone")
  }

  test("graft_bloom: no false negatives across partial-merge; FP rate sane") {
    import spark.implicits._
    import graft.plans.BloomAggregate
    // 8 partitions force the partial/merge path (word-wise OR) — a
    // single-partition build would leave merge() untested
    val built = spark.range(0, 5000).repartition(8)
      .agg(BloomAggregate.bloom(xxhash64(col("id")), 1 << 16, 5).as("b"))
      .head.getAs[Array[Byte]]("b")
    val words = BloomAggregate.wordsOf(built)
    // zero false negatives is the bloom CONTRACT, not a statistic
    (0L until 5000L).foreach { v =>
      assert(BloomAggregate.mightContain(words, BloomAggregate.hashOf(v), 5),
        s"false negative for $v")
    }
    // absent probes: the 1%-regime filter must say no almost always
    val fp = (100000L until 110000L)
      .count(v => BloomAggregate.mightContain(words, BloomAggregate.hashOf(v), 5))
    info(s"false positives: $fp / 10000")
    assert(fp < 300, s"false-positive rate implausibly high: $fp / 10000")
  }

  test("diversity sample: per-cell quotas, exact md5 priority, deterministic") {
    import graft.operators.Similarity
    val rows = Similarity.diversitySample(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCell = rows.groupBy(_.getInt(0))
    // every populated quantizer cell is represented with <= perCell
    // members whose picks are dense ranks 1..n — the balance contract
    val index = spark.read.parquet(Similarity.ivfIndexPath(spark, sf))
    val populated = index.select("cell").distinct().collect()
      .map(_.get(0).toString.toInt).toSet
    assert(byCell.keySet === populated,
      s"sampled cells ${byCell.keySet} != populated $populated")
    byCell.foreach { case (c, g) =>
      assert(g.length <= 8, s"cell $c over quota")
      assert(g.map(_.getInt(2)).sorted.toSeq === (1 to g.length), s"cell $c ranks")
      // picks follow the md5-uniform priority: u non-decreasing in rank
      val us = g.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(us.zip(us.tail).forall { case (a, b) => a <= b }, s"cell $c priority order")
    }
    // a cell with more than perCell members must be CUT to the quota
    // (non-vacuous: the fixture corpus has a dominant cell)
    val cellSizes = index.groupBy("cell").count().collect()
      .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    assert(cellSizes.values.exists(_ > 8), "fixture too small to exercise the quota")
    cellSizes.filter(_._2 > 8).keys.foreach(c =>
      assert(byCell(c).length === 8, s"over-populated cell $c not cut to quota"))
    // pure function of the corpus: a second serve is identical
    val again = Similarity.diversitySample(spark, sf).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("knn_ivf: recall@5 vs brute force meets floor (kmeans centroids)") {
    val brute = Similarity.knnBruteForce(spark, sf, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(spark, sf, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"IVF recall@5 = $recall")
    // nprobe/ncells = 2/8 searches ~1/4 of a near-random corpus; real
    // centroids + deterministic seeds make the realized recall stable
    assert(recall >= 0.4, s"recall@5 $recall below floor")
  }

  test("materialized IVF index: partition-pruned probe matches in-memory IVF") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.writeIvfIndex(spark, sf, idx)
    // one directory per cell on disk
    val cellDirs = new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > 1, "index must be partitioned by cell")

    val viaIndex = Similarity.knnIvfIndexed(spark, sf, idx).collect()
    val inMemory = Similarity.knnIvf(spark, sf).collect()
    assert(viaIndex.map(_.toString).toSeq === inMemory.map(_.toString).toSeq)

    // the probe scan prunes partitions: PartitionFilters on cell
    val plan = Similarity.knnIvfIndexed(spark, sf, idx)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cell#[^\\]]*IN \\(".r
    assert(pf.findFirstIn(plan).isDefined,
      s"cell partition pruning missing:\n$plan")
  }

  test("graft_minhash one-pass signature is bitwise-equal to the HOF chain") {
    import org.apache.spark.sql.functions.{array, array_distinct, array_min, lit, transform, xxhash64}
    // the independently re-derived composed-builtins form this
    // expression replaced: k interpreted transform+array_min passes
    def hofSig(toks: org.apache.spark.sql.Column) =
      array((0 until Dedup.NumHashes).map(i =>
        array_min(transform(toks, t => xxhash64(t, lit(i))))): _*)
    // real corpus token sets (the hashed-long form every banded path uses)
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(transform(graft.functions.TextFunctions.tokens(col("text")),
          t => xxhash64(t))).as("toks"))
    val both = sets.select(col("doc_id"),
        graft.plans.VectorExpressions.minhash(col("toks"), Dedup.NumHashes).as("native"),
        hofSig(col("toks")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
    // adversarial shapes the corpus never produces: empty array (k
    // nulls, matching array_min-of-empty), single element, null element
    val edge = spark.sql(
      "SELECT graft_minhash(CAST(array() AS ARRAY<BIGINT>), 4) AS e, " +
      "graft_minhash(array(CAST(7 AS BIGINT)), 4) AS s, " +
      "graft_minhash(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT)), 4) AS n, " +
      "graft_minhash(CAST(NULL AS ARRAY<BIGINT>), 4) AS z").collect()(0)
    assert(edge.getSeq[Any](0) === Seq(null, null, null, null))
    // NULL input array: k nulls, like the HOF's outer array(...) —
    // never a NULL result
    assert(edge.getSeq[Any](3) === Seq(null, null, null, null))
    // non-literal k is rejected with a named error, not a raw cast crash
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(CAST(7 AS BIGINT)), CAST(4 AS BIGINT))").collect()
    }
    assert(bad.getMessage.contains("graft_minhash"), bad.getMessage)
    val hofEdge = spark.sql(
      "SELECT transform(sequence(0, 3), i -> array_min(transform(array(CAST(7 AS BIGINT)), t -> xxhash64(t, i)))) AS s, " +
      "transform(sequence(0, 3), i -> array_min(transform(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT)), t -> xxhash64(t, i)))) AS n")
      .collect()(0)
    assert(edge.getSeq[Long](1) === hofEdge.getSeq[Long](0))
    assert(edge.getSeq[Long](2) === hofEdge.getSeq[Long](1))
  }

  test("graft_ngram_hashes one-pass windows are bitwise-equal to the zip_with chain") {
    import org.apache.spark.sql.functions.{array, lit, size, slice, transform, when, xxhash64, zip_with, array_distinct, concat}
    // independently re-derived composed forms this expression replaced:
    // the 3-gram zip_with slice chain (Dedup.shingleSets) and the
    // generic reduceLeft concat chain + transform-hash (TextAnalysis)
    def chain3(t: org.apache.spark.sql.Column) = {
      val len = size(t) - lit(2)
      when(size(t) >= 3, zip_with(
        slice(t, lit(1), len),
        zip_with(slice(t, lit(2), len), slice(t, lit(3), len),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => xxhash64(concat(a, lit(" "), bc))))
        .otherwise(array().cast("array<long>"))
    }
    def chainN(t: org.apache.spark.sql.Column, n: Int) = {
      val len = size(t) - lit(n - 1)
      val grams = (1 to n).map(i => slice(t, lit(i), len))
        .reduceLeft((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
      when(size(t) >= n, transform(grams, g => xxhash64(g)))
        .otherwise(array().cast("array<long>"))
    }
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val both = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.plans.VectorExpressions.ngramHashes(t, 3).as("n3"),
        chain3(t).as("c3"),
        graft.plans.VectorExpressions.ngramHashes(t, 4).as("n4"),
        chainN(t, 4).as("c4"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)} n=3")
      assert(r.getSeq[Long](3) === r.getSeq[Long](4), s"doc ${r.getLong(0)} n=4")
    }
    // edges: short array (empty), null token inside a window (seed-42
    // lane, like xxhash64 of the nulled concat), distinct composition
    val edge = spark.sql(
      "SELECT graft_ngram_hashes(array('a'), 3) AS short, " +
      "graft_ngram_hashes(array('a', CAST(NULL AS STRING), 'b'), 3) AS withnull, " +
      "transform(sequence(1, 1), i -> xxhash64(concat('a', ' ', CAST(NULL AS STRING), ' ', 'b'))) AS hofnull")
      .collect()(0)
    assert(edge.getSeq[Long](0) === Seq.empty)
    assert(edge.getSeq[Long](1) === edge.getSeq[Long](2))
  }

  test("graft_isect_size equals size(array_intersect) — the sorted-array dedup tier") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_intersect, size => asize, sort_array}
    // real corpus token sets paired quadratically on a sample: the
    // exact shape the dedup verification tier runs on
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"),
        sort_array(array_distinct(transform(
          graft.functions.TextFunctions.tokens(col("text")), t => xxhash64(t)))).as("toks"))
      .filter(col("doc_id") % 3 === 0)
    val pairs = sets.select(col("doc_id").as("da"), col("toks").as("ta"))
      .crossJoin(sets.select(col("doc_id").as("db"), col("toks").as("tb")))
      .filter(col("da") < col("db"))
    val diff = pairs.select(
        graft.plans.VectorExpressions.isectSize(col("ta"), col("tb")).as("tier"),
        asize(array_intersect(col("ta"), col("tb"))).as("generic"))
      .filter(col("tier") =!= col("generic"))
    assert(diff.count() === 0, "tier disagrees with array_intersect on the corpus")
    // adversarial shapes: empty/NULL arrays, UNSORTED inputs (the
    // expression must sort, not mis-merge), duplicate values (count
    // once, like array_intersect), disjoint and identical sets
    val edge = spark.sql(
      "SELECT graft_isect_size(array(5L, 1L, 3L), array(3L, 9L, 1L)) AS unsorted, " +
      "graft_isect_size(array(1L, 1L, 2L, 2L), array(2L, 2L, 1L)) AS dups, " +
      "graft_isect_size(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS empty, " +
      "graft_isect_size(array(1L, 2L), array(3L, 4L)) AS disjoint, " +
      "graft_isect_size(array(-9L, 0L, 7L), array(-9L, 0L, 7L)) AS same, " +
      "graft_isect_size(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nullarr").head
    assert(edge.getInt(0) === 2)
    assert(edge.getInt(1) === 2)
    assert(edge.getInt(2) === 0)
    assert(edge.getInt(3) === 0)
    assert(edge.getInt(4) === 3)
    assert(edge.isNullAt(5))
  }

  test("graft_vocab_words + graft_words_isect equal size(array_intersect) — the multi-word tier") {
    import org.apache.spark.sql.functions.{array_intersect, size => asize}
    import graft.plans.VectorExpressions.{vocabWords, wordsIsect}
    // a 300-symbol vocabulary — squarely in the 65..512 band the tier
    // exists for (too big for one long, small enough for ≤8 words)
    val rnd = new scala.util.Random(41)
    val vocabSet = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (vocabSet.size < 300) vocabSet += rnd.nextLong()
    val vocab = vocabSet.toArray.sorted
    // side-a sets ⊆ vocab (the soundness precondition); side-b sets
    // carry OUT-OF-VOCAB tokens too — they must not perturb the count
    // (an intersecting token is by construction in-vocab)
    def subset(seed: Int): Seq[Long] = {
      val r = new scala.util.Random(seed)
      vocab.filter(_ => r.nextDouble() < 0.3).toSeq
    }
    val oovSet = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (oovSet.size < 50) { val v = rnd.nextLong(); if (!vocabSet.contains(v)) oovSet += v }
    val oov = oovSet.toSeq
    import spark.implicits._
    val a = (0 until 40).map(i => (i.toLong, subset(i))).toDF("da", "ta")
    val b = (0 until 40).map { i =>
      val r = new scala.util.Random(1000 + i)
      (i.toLong, (subset(1000 + i) ++ oov.filter(_ => r.nextDouble() < 0.2)).sorted)
    }.toDF("db", "tb")
    val diff = a.crossJoin(b)
      .select(
        wordsIsect(vocabWords(col("ta"), vocab), vocabWords(col("tb"), vocab)).as("tier"),
        asize(array_intersect(col("ta"), col("tb"))).as("generic"))
      .filter(col("tier") =!= col("generic"))
    assert(diff.count() === 0,
      "multi-word tier disagrees with array_intersect under the side-a⊆vocab contract")
    // word-array shape: ceil(|vocab|/64) words always — 300 → 5
    val shaped = a.select(asize(vocabWords(col("ta"), vocab)).as("n")).distinct().collect()
    assert(shaped.map(_.getInt(0)).toSeq === Seq(5))
    // edges: empty set → all-zero words; duplicate tokens count once
    // (bit semantics); null array → null; null ELEMENTS skipped
    val edge = spark.sql(
      "SELECT graft_words_isect(graft_vocab_words(CAST(array() AS ARRAY<BIGINT>), array(1L, 2L)), " +
      "                         graft_vocab_words(array(1L, 2L), array(1L, 2L))) AS empty, " +
      "graft_words_isect(graft_vocab_words(array(1L, 1L, 2L), array(1L, 2L)), " +
      "                  graft_vocab_words(array(2L, 2L, 1L), array(1L, 2L))) AS dups, " +
      "graft_vocab_words(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nullarr, " +
      "graft_words_isect(graft_vocab_words(array(1L, CAST(NULL AS BIGINT), 2L), array(1L, 2L)), " +
      "                  graft_vocab_words(array(1L, 2L), array(1L, 2L))) AS nullelem").head
    assert(edge.getInt(0) === 0)
    assert(edge.getInt(1) === 2)
    assert(edge.isNullAt(2))
    assert(edge.getInt(3) === 2)
  }

  test("graft_first_agree is identical to the composed zip_with/array_position form") {
    import org.apache.spark.sql.functions.{array, array_position, coalesce, lit, transform, sequence, when, xxhash64, zip_with}
    // independently re-derived composed form: 1-based position of the
    // first pairwise agreement, shifted to 0-based, -1 when none
    def composed(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      coalesce(array_position(zip_with(a, b, (x, y) => x === y), lit(true)) - 1,
        lit(-1L)).cast("int")
    // synthetic band-vector shapes with PLANTED collisions: hashing
    // id%k makes agreement at index i exactly when both sides share
    // id%k — a mix of never/early/late first agreements
    val df = spark.range(0, 2000)
      .select(col("id"),
        transform(sequence(lit(0), lit(15)),
          i => xxhash64(col("id") % 7, i)).as("a"),
        transform(sequence(lit(0), lit(15)),
          i => when(i < 8, xxhash64(col("id") % 13, i))
            .otherwise(xxhash64(col("id") % 7, i))).as("b"))
    val rows = df.select(
        graft.plans.VectorExpressions.firstAgree(col("a"), col("b")).as("native"),
        composed(col("a"), col("b")).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    assert(rows.exists(_.getInt(0) >= 8), "late agreements exercised")
    // edges: empty, unequal lengths (zip_with null-pads; === null is
    // never true — same as the native min-length scan), null elements
    // skipped, NULL array -> NULL out
    val edge = spark.sql(
      "SELECT graft_first_agree(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)) AS e, " +
      "graft_first_agree(array(1L, 2L), array(9L, 2L, 3L)) AS u, " +
      "graft_first_agree(array(CAST(NULL AS BIGINT), 5L), array(CAST(NULL AS BIGINT), 5L)) AS n, " +
      "graft_first_agree(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS z").collect()(0)
    assert(edge.getInt(0) === -1)
    assert(edge.getInt(1) === 1)
    assert(edge.getInt(2) === 1, "null elements never agree")
    assert(edge.isNullAt(3))
  }

  test("graft_dot codegen expression is bitwise-equal to the HOF chain") {
    import org.apache.spark.sql.functions.{sum, transform}
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b).limit(20000)
    val viaExpr = pairs.select(Similarity.dot(col("va"), col("vb")).as("d")).agg(sum("d")).collect()(0).getDouble(0)
    val viaHof = pairs.select(Similarity.dotHof(col("va"), col("vb")).as("d")).agg(sum("d")).collect()(0).getDouble(0)
    assert(viaExpr === viaHof) // identical accumulation order -> bitwise equal
    // SQL path: the builtin GraftExtensions injects
    val viaSql = pairs.createOrReplaceTempView("dot_pairs")
    val s = spark.sql("SELECT sum(graft_dot(va, vb)) FROM dot_pairs").collect()(0).getDouble(0)
    assert(s === viaExpr)
  }

  test("graft_dot keeps its arity gate after a Column helper is built") {
    // a Column helper must not replace the injected builtin with an
    // ungated copy: the wrong-arity SQL call fails at analysis with the
    // gate's message, not with an index error from inside the builder
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    graft.plans.VectorExpressions.imgMeta(col("b"))
    val e = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0D))"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains("graft_dot expects 2 argument(s), got 1")),
      messages.mkString(" / "))
  }

  test("graft_cos fused cosine is bitwise-equal to dot/(norm*norm)") {
    import org.apache.spark.sql.functions.{sqrt, transform}
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b).limit(20000)
    val composed = pairs.select((Similarity.dot(col("va"), col("vb")) /
        (sqrt(Similarity.dot(col("va"), col("va"))) *
         sqrt(Similarity.dot(col("vb"), col("vb"))))).as("c")).collect().map(_.getDouble(0))
    val fused = pairs.select(
      graft.plans.VectorExpressions.cos(col("va"), col("vb")).as("c"))
      .collect().map(_.getDouble(0))
    // same per-accumulator summation order + same final IEEE combination
    composed.zip(fused).foreach { case (c, f) =>
      assert(java.lang.Double.doubleToLongBits(c) === java.lang.Double.doubleToLongBits(f))
    }

    // edge contract: null ELEMENTS null the result (the composed HOF
    // norms propagate them), unequal lengths norm over their own array
    // and dot over the common prefix — fused must match the composed
    // expression exactly on both
    val edge = spark.sql(
      "SELECT array(1.0d, 2.0d, NULL) AS va, array(1.0d, 2.0d, 3.0d) AS vb " +
      "UNION ALL SELECT array(1.0d, 2.0d), array(3.0d, 4.0d, 5.0d) " +
      "UNION ALL SELECT array(1.0d, 2.0d, 3.0d), array(1.0d, NULL)")
    val comp2 = edge.select((Similarity.dot(col("va"), col("vb")) /
      (Similarity.l2Norm(col("va")) * Similarity.l2Norm(col("vb")))).as("c")).collect()
    val fused2 = edge.select(
      graft.plans.VectorExpressions.cos(col("va"), col("vb")).as("c")).collect()
    comp2.zip(fused2).foreach { case (c, f) =>
      assert(c.isNullAt(0) === f.isNullAt(0), s"null parity: $c vs $f")
      if (!c.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(c.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(f.getDouble(0)))
    }
  }

  test("embedding near-dup: non-empty + precision + recall on planted dups") {
    // The sf fixtures are near-random (max pairwise cosine ~0.51), so an
    // empty 0.95-result there is correct — verified by the DuckDB oracle.
    // Recall needs true near-dups: plant 12 base vectors each with a
    // tiny-perturbation twin (cosine > 0.999) plus 30 random decoys.
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = Seq.tabulate(12)(i => (i.toLong * 2, vec()))
    val twins = bases.map { case (id, v) =>
      (id + 1, v.map(x => x + rnd.nextGaussian().toFloat * 1e-3f))
    }
    val decoys = Seq.tabulate(30)(i => (1000L + i, vec()))
    val corpus = (bases ++ twins ++ decoys).toDF("vec_id", "embedding")

    val got = Similarity.bucketPairs(corpus, Some(0.95)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "planted near-dups must surface")
    val exact = Similarity.brutePairs(corpus, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}") // precision 1.0
    val recall = got.size.toDouble / exact.size
    // 8 hyperplanes: a cosine~0.999 pair collides w.p. ~(1 - theta/pi)^8
    // ~ 0.95; deterministic seeds make the realized recall stable.
    assert(recall >= 0.7, s"recall $recall below floor (${got.size}/${exact.size})")
  }

  test("semantic dedup core: planted near-dups flagged, lowest-id survives") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => if (i < 4) 1.0 else 0.0)
    val nearDup = base.clone(); nearDup(7) = 0.1 // cos ~0.997
    val ortho = Array.tabulate(8)(i => if (i >= 4) 1.0 else 0.0)
    val emb = Seq(
      (1, 10L, base), (1, 11L, nearDup), (1, 12L, ortho), // one cell
      (2, 20L, base), (2, 21L, base)                      // exact dup pair
    ).toDF("cell", "vec_id", "v")
    val out = graft.operators.Similarity.semanticDedupCore(emb, 0.95)
      .collect().map(r => r.getLong(0) -> r).toMap
    // lowest id in each cell always survives (nothing prior to it)
    assert(!out(10L).getBoolean(4) && out(10L).getLong(2) === 0)
    assert(out(10L).isNullAt(3))
    // planted near-dup: flagged against the survivor
    assert(out(11L).getBoolean(4) && out(11L).getLong(5) === 10L)
    assert(out(11L).getDouble(3) > 0.99)
    // orthogonal cellmate: compared against both priors, kept
    assert(!out(12L).getBoolean(4) && out(12L).getLong(2) === 2)
    // exact dup in the other cell: cos 1.0, dup_of = the lower id;
    // cells never compare across (vec 20 saw only its own cell)
    assert(out(21L).getBoolean(4) && out(21L).getLong(5) === 20L)
    assert(out(21L).getDouble(3) === 1.0)
    assert(out(20L).getLong(2) === 0)
  }

  test("semantic dedup cell-size guard: a planted skewed cell DECLINES with evidence") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => if (i < 4) 1.0 else 0.0)
    val nearDup = base.clone(); nearDup(7) = 0.1
    // cell 1: bounded, with a planted near-dup; cell 9: SKEWED (6
    // vectors against a ceiling of 4 — the all-pairs degradation)
    val skewed = (0 until 6).map(i => (9, 100L + i, base))
    val emb = (Seq(
      (1, 10L, base), (1, 11L, nearDup), (1, 12L, base.map(-_))) ++ skewed)
      .toDF("cell", "vec_id", "v")
    val out = graft.operators.Similarity
      .semanticDedupCore(emb, 0.95, maxCellSize = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 9, "every row still present, declined included")
    // the bounded cell's decisions are UNCHANGED by the guard
    assert(!out(10L).getBoolean(4) && out(10L).getLong(2) === 0)
    assert(out(11L).getBoolean(4) && out(11L).getLong(5) === 10L)
    // the skewed cell fires the guard: decision columns NULL — a
    // declined row is distinguishable from an honest singleton's 0
    (100L until 106L).foreach { id =>
      assert(out(id).isNullAt(2), s"$id n_prior must be NULL (declined)")
      assert(out(id).isNullAt(3), s"$id max_prior_cos must be NULL")
      assert(out(id).isNullAt(4), s"$id is_dup must be NULL, never a guess")
      assert(out(id).isNullAt(5), s"$id dup_of must be NULL")
    }
    // with the default ceiling, the same corpus is untouched: the
    // guard changes nothing unless a cell is genuinely oversized
    val unguarded = graft.operators.Similarity.semanticDedupCore(emb, 0.95)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(unguarded(103L).getBoolean(4) && unguarded(103L).getLong(5) === 100L)
    assert(unguarded(10L).getLong(2) === 0 && unguarded(11L).getBoolean(4))
  }

  test("embedding candidate pairs: bucket join surfaces pairs on the fixture") {
    val cands = Similarity.embeddingCandidatePairs(spark, sf).collect()
    assert(cands.nonEmpty, "birthday collisions across 256 buckets expected")
    // every candidate is a genuine bucket collision with a real cosine
    cands.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
  }

  test("stratified sampling hits per-source fractions and is reproducible") {
    import graft.operators.TextAnalysis
    val sources = Tables.documents(spark, sf).select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(sources.length >= 2, "fixture needs multiple sources")
    val fractions = sources.zipWithIndex.map { case (s, i) =>
      s -> (if (i % 2 == 0) 1.0 else 0.25)
    }.toMap
    val sampled = TextAnalysis.stratifiedSample(spark, sf, fractions)
    val got = sampled.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, sf).groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (s, f) =>
      val kept = got.getOrElse(s, 0L).toDouble / full(s)
      if (f == 1.0) assert(kept === 1.0, s"source $s: full strata must keep all")
      else assert(kept > 0.0 && kept < 0.7,
        s"source $s: kept $kept for fraction $f (Bernoulli tolerance)")
    }
    // reproducibility: same seed -> identical sample
    val again = TextAnalysis.stratifiedSample(spark, sf, fractions)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(again === sampled.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
  }

  test("approx sketches stay within error bounds of exact answers") {
    import graft.operators.Analytics
    val approx = Analytics.approxSketches(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // the exact side IS the registered q_sketch_exact frame (the oracled
    // shape twin), so the differential bound and the DuckDB compare
    // close over one definition
    val exact = Analytics.sketchExact(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (flag, (n, p50, p99)) =>
      val (an, ap50, ap99) = approx(flag)
      assert(math.abs(an - n).toDouble / n <= 0.05, s"$flag HLL err: $an vs $n")
      // approx_percentile returns a true data value within rank error
      assert(math.abs(ap50 - p50) / p50 <= 0.05, s"$flag p50: $ap50 vs $p50")
      assert(math.abs(ap99 - p99) / p99 <= 0.05, s"$flag p99: $ap99 vs $p99")
    }
  }

  test("multimodal feature extract: magic-byte dispatch to real parsers") {
    val out = Multimodal.featureExtract(spark, sf).collect()
    assert(out.length === Tables.documents(spark, sf).count())
    // cols: doc_id, n_bytes, media_type, width, height, channels,
    //       sample_rate, mean_px
    out.foreach { r =>
      val id = r.getLong(0); val q = id / 4
      if (id % 97 == 0) {
        // non-media payload: every parse-derived field NULL
        assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4) &&
          r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7), s"doc $id")
      } else id % 4 match {
        case 0 => // BMP: real pixel decode, mean channel feature
          assert(r.getString(2) === "bmp", s"doc $id")
          assert(r.getInt(3) === 2 * (1 + q % 3) && r.getInt(4) === 1 + q % 4)
          assert(r.getInt(5) === 3 && r.isNullAt(6))
          val sums = (id * 7) % 256 + (id * 17) % 256 + (id * 3) % 256 +
            (id * 13) % 256 + id % 256 + (id * 11) % 256
          val expected = BigDecimal(sums * (r.getInt(3) / 2) * r.getInt(4) /
            (3.0 * r.getInt(3) * r.getInt(4)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(r.getDouble(7) === expected, s"doc $id mean_px")
        case 1 => // WAV: chunk walk (odd q carries a leading JUNK chunk)
          assert(r.getString(2) === "wav", s"doc $id")
          assert(r.isNullAt(3) && r.isNullAt(4))
          assert(r.getInt(5) === 1 + q % 2)
          assert(r.getInt(6) === 8000 * (1 + q % 6))
          assert(r.getLong(1) === (if (q % 2 == 1) 48 else 36))
        case 2 =>
          assert(r.getString(2) === "png", s"doc $id")
          assert(r.getInt(3) === id % 1021 + 16 && r.getInt(4) === (id * 7) % 739 + 16)
          assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7))
        case _ =>
          assert(r.getString(2) === "jpeg", s"doc $id")
          assert(r.getInt(3) === id % 1021 + 16 && r.getInt(4) === (id * 7) % 739 + 16)
      }
    }
    // all four formats + the corrupt rows are actually present
    val types = out.map(r => if (r.isNullAt(2)) "null" else r.getString(2)).toSet
    assert(types === Set("bmp", "wav", "png", "jpeg", "null"))
  }
}
