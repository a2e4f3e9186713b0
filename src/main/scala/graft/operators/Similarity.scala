package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{AppScopedCache, Tables}

/** Approximate-nearest-neighbor surface over the embeddings table
  * (north-star extension). Three paths:
  *
  *  - brute-force cosine top-k: exact baseline — probes broadcast, one
  *    scan over the corpus, per-probe heap via windowed row_number;
  *  - IVF-style coarse quantization: corpus assigned to its nearest of
  *    8 fixed centroids (argmax projection), probes search their top-2
  *    cells (nprobe=2) — candidate set shrinks ~4x here, ~nlist/nprobe-x
  *    in general; at 100 TB the cells become the partition key, so a
  *    probe touches 2 partitions instead of the whole corpus. Centroids
  *    here are deterministic +/-1 vectors; a production build would
  *    KMeans-sample them — the operator shape is identical;
  *  - random-hyperplane sign buckets (8 bits): near-duplicate detection —
  *    vectors at cosine ~1 collide with high probability, turning
  *    all-pairs near-dup search into an equi-join on the bucket.
  *
  * All vector math is `zip_with`/`aggregate` higher-order functions over
  * `array<double>` (cast from the stored float) — codegen'd, no UDF, and
  * double precision end-to-end so results are bit-stable across engines.
  */
object Similarity {

  private def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Hot-path dot product: native codegen expression (see
    * graft.plans.DotProduct). `dotHof` is the composed-builtins form it
    * replaced — kept for the equivalence test. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.dot(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Fused single-loop cosine (plans.CosineSim): bit-identical to
    * dot/(norm*norm) — same per-accumulator summation order, same final
    * IEEE combination — at a third of the array passes. */
  def cosine(a: Column, b: Column): Column = graft.plans.VectorExpressions.cos(a, b)

  /** Label-conditioned mean embeddings (class prototypes): posexplode
    * to (label, dim, component), one hash-aggregate over label x dim —
    * map-side combined, so the shuffle carries n_labels * dim partial
    * sums regardless of corpus size. The long output shape (one row
    * per label and dimension) is deliberately flat: it feeds drift/
    * bias dashboards directly and needs no array reassembly. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    labelDimMeans(spark, dir)
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("m").as("mean_v"), col("n_vecs"))
      .orderBy(col("label"), col("dim"))

  /** Per-(label, dimension) embedding component means, rounded 6dp —
    * THE centroid rounding rule both engines score against, owned in
    * one place so [[labelCentroids]] and [[qualityFusion]] can never
    * diverge on it. */
  private def labelDimMeans(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"), count(lit(1)).as("n_vecs"))

  /** Per-vector L2 norms (sanity surface + the normalization step of any
    * embedding pipeline). */
  /** Cross-modal curation fusion: the signal-combination step real
    * pipelines run before a keep decision — TEXT quality (heuristic
    * scorer over documents) fused with EMBEDDING geometry (L2 norm +
    * cosine to the doc's own label centroid, the "is this vector
    * where its class lives" outlier signal). Centroids are per-label
    * dimension means ROUNDED to 6dp before the cosine so both engines
    * score bit-identical inputs; they ride the join as an explicit
    * broadcast (labels are few by construction). One embeddings scan +
    * one documents scan + one label-dim aggregate — at 100 TB the
    * centroid table is metadata-sized and the fusion stays a broadcast
    * join per scan. */
  def qualityFusion(spark: SparkSession, dir: String,
      minQuality: Double = 0.5, minCos: Double = 0.15): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cent = labelDimMeans(spark, dir)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("c"))
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
    e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id").as("doc_id"), col("label"),
        round(l2Norm(col("v")), 4).as("l2_norm"),
        round(cosine(col("v"), col("c")), 4).as("centroid_cos"))
      .join(q, Seq("doc_id"))
      .select(col("doc_id"), col("label"), col("quality"),
        col("l2_norm"), col("centroid_cos"),
        (col("quality") > minQuality && col("centroid_cos") >= minCos).as("keep"))
      .orderBy(col("doc_id"))
  }

  def norms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), round(l2Norm(asDouble(col("embedding"))), 4).as("l2_norm"))
      .orderBy(col("vec_id"))

  /** Per-query top-k via the partial-aggregable bounded heap
    * (graft.plans.TopKNeighbors): each map task keeps only k candidates
    * per probe, so the exchange carries P*k*numPartitions rows instead
    * of the full N*P scored set — no skew funnel at large probe counts.
    * Output contract identical to the row_number window it replaced
    * (score desc, id asc ties), proven hash-equal in ExtensionsSpec. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.topk(col("cos_sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("n"))
      .select(col("query_id"), col("n.neighbor_id").as("neighbor_id"),
              col("n.cos_sim").as("cos_sim"), col("n.rank").as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** The window/row_number form topKPerQuery replaced — kept as the
    * differential yardstick (same role as dotHof for graft_dot). */
  private[graft] def topKPerQueryWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** All (probe, corpus) cosines for probes vec_id < 5 — the scored set
    * both top-k strategies consume. */
  private[graft] def bruteScores(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q"))
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
  }

  /** Brute-force cosine top-k: 5 probe vectors (vec_id < 5) against the
    * whole corpus. Ranking uses the rounded cosine (+ id tiebreak) so
    * ordering is deterministic across engines. */
  def knnBruteForce(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    topKPerQuery(bruteScores(spark, dir), k)

  /** RANGE search: every corpus vector within cosine >= `threshold`
    * of each probe — the recall-complete retrieval shape top-k cannot
    * express (dedup candidate generation, "find ALL near-copies of
    * this document", contamination sweeps): a hot query may have 10k
    * matches and a cold one zero, and both answers must be exact.
    * Same scored set as [[knnBruteForce]] (a native codegen'd dot per
    * pair, probes broadcast), filtered on the ROUNDED cosine so the
    * cut is engine-portable; output ordered (query, neighbor). At
    * index scale the IVF cell pruning composes in front exactly as it
    * does for top-k — the threshold filter is independent of k. */
  def rangeSearch(spark: SparkSession, dir: String,
      threshold: Double = 0.2): DataFrame =
    bruteScores(spark, dir)
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("query_id"), col("neighbor_id"))

  /** Metadata-FILTERED top-k: each probe retrieves only among corpus
    * vectors sharing its label — the filtered-vector-search serving
    * pattern (tenant/language/source-restricted retrieval). The filter
    * rides the score join as an extra equi-condition, so pruning
    * happens BEFORE any distance is computed (pre-filtering, the shape
    * that keeps recall exact — post-filtering a plain top-k can return
    * < k or miss matches; at index scale the label becomes a partition
    * column and the same plan prunes partitions). */
  def knnFiltered(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q"), col("label"))
    val scored = emb.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    // window form, not graft_topk: the label column must ride through
    // to the output, and the helper keeps every input column
    topKPerQueryWindow(scored, k)
  }

  // ---- IVF ----------------------------------------------------------
  val NumCells = 8
  val NumProbeCells = 2

  /** Deterministic WEIGHTED k-means++ over a SMALL driver-side
    * candidate set — the recluster step of k-means‖ (the candidates
    * are the [[seedParallel]] oversample, each weighted by how many
    * corpus points it is nearest to): next center drawn with
    * probability ∝ weight × squared distance from the chosen set.
    * O(|candidates| × k), never sees the corpus. */
  private def seedPlusPlus(pts: Array[Array[Double]], wts: Array[Double],
      k: Int, seed: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "cannot seed a quantizer on an empty corpus")
    val rnd = new scala.util.Random(seed)
    def pick(score: Array[Double]): Int = {
      val total = score.sum
      var r = rnd.nextDouble() * total
      var i = 0
      while (i < score.length - 1 && r > score(i)) { r -= score(i); i += 1 }
      i
    }
    val chosen = scala.collection.mutable.ArrayBuffer(pts(pick(wts)).clone())
    val d2 = Array.fill(pts.length)(Double.MaxValue)
    while (chosen.length < k) {
      val c = chosen.last
      var i = 0
      while (i < pts.length) {
        var d = 0.0; var j = 0
        val p = pts(i)
        while (j < p.length) { val x = p(j) - c(j); d += x * x; j += 1 }
        if (d < d2(i)) d2(i) = d
        i += 1
      }
      chosen += pts(pick(Array.tabulate(pts.length)(i => wts(i) * d2(i)))).clone()
    }
    chosen.toArray
  }

  /** DISTRIBUTED k-means‖ seeding (Bahmani et al., "Scalable
    * k-means++", VLDB 2012) — replaces the former 2000-point
    * driver-side sample, so no corpus row reaches the driver except
    * the O(rounds × ℓ) points the oversampling SELECTS:
    *
    *  1. one aggregate picks each group's initial center (the row
    *     minimizing a deterministic per-group hash);
    *  2. each oversampling round runs two corpus scans — a partial
    *     aggregate for the clustering cost φ_g, then an independent
    *     inclusion pass keeping x with p = min(1, ℓ·d²(x,C_g)/φ_g),
    *     ℓ = 2k, so ~ℓ new candidates per group per round (the
    *     paper's expectation bound);
    *  3. one scan counts corpus points per nearest candidate, and
    *     the driver cuts the weighted ~3ℓ candidates to k with
    *     [[seedPlusPlus]].
    *
    * Inclusion decisions hash (id, round, group) — deterministic
    * under ANY partitioning, unlike rand(). All `groups` subspaces
    * ride the same scans (PQ trains 8 codebooks in one pass, IVF
    * passes one group). Driver traffic is O(groups·ℓ·dim) per round;
    * the k seeds then feed [[lloydRounds]] exactly as before. */
  private def seedParallel(base: DataFrame, groups: Int, kPerGroup: Int,
      subCol: (Column, Int) => Column, seed: Int): Array[Array[Array[Double]]] = {
    val ell = 2 * kPerGroup
    val rounds = 3
    val cand = Array.fill(groups)(scala.collection.mutable.ArrayBuffer.empty[Array[Double]])

    val initAggs = (0 until groups).map(g =>
      min(struct(xxhash64(col("id"), lit(seed + g)).as("h"),
        subCol(col("v"), g).as("s"))).as(s"m$g"))
    val initRow = base.agg(initAggs.head, initAggs.tail: _*).head()
    require(!initRow.isNullAt(0), "cannot seed a quantizer on an empty corpus")
    for (g <- 0 until groups)
      cand(g) += initRow.getStruct(g).getSeq[Double](1).toArray

    // squared L2 to the nearest current candidate, as codegen'd dots
    // (clamped: ||x||² - 2x·c + ||c||² can dip below 0 in floating point)
    def d2Col(g: Int): Column = {
      val sub = subCol(col("v"), g)
      greatest(array_min(array(cand(g).toSeq.map { c =>
        dot(sub, sub) - lit(2.0) * dot(sub, array(c.toIndexedSeq.map(lit): _*)) +
          lit(c.map(x => x * x).sum)
      }: _*)), lit(0.0))
    }

    var r = 0
    var live = true
    while (r < rounds && live) {
      val costAggs = (0 until groups).map(g => sum(d2Col(g)).as(s"c$g"))
      val costRow = base.agg(costAggs.head, costAggs.tail: _*).head()
      val phi = Array.tabulate(groups)(g =>
        if (costRow.isNullAt(g)) 0.0 else costRow.getDouble(g))
      live = phi.exists(_ > 0) // all-zero cost: candidates already cover
      if (live) {
        val branches = (0 until groups).filter(phi(_) > 0).map { g =>
          val u = pmod(xxhash64(col("id"), lit(seed + 7919 * (r * groups + g + 1))),
            lit(1000000007L)).cast("double") / lit(1.0e9 + 7.0)
          // u < ℓ·d²/φ, cross-multiplied so φ stays a literal
          struct(lit(g).as("g"), subCol(col("v"), g).as("s"),
            (u * lit(phi(g)) < lit(ell.toDouble) * d2Col(g)).as("keep"))
        }
        base.select(explode(array(branches: _*)).as("e"))
          .filter(col("e.keep"))
          .select(col("e.g"), col("e.s"))
          .collect()
          .foreach(row => cand(row.getInt(0)) += row.getSeq[Double](1).toArray)
      }
      r += 1
    }

    // weights: corpus points per nearest candidate (argmax of
    // dot - ||c||²/2, the same first-max rule serving uses); the tiny
    // floor keeps never-nearest candidates drawable-but-negligible
    val weights = Array.tabulate(groups)(g => Array.fill(cand(g).length)(1.0e-9))
    base.select(explode(array((0 until groups).map { g =>
        val sub = subCol(col("v"), g)
        val scores = array(cand(g).toSeq.map { c =>
          dot(sub, array(c.toIndexedSeq.map(lit): _*)) - lit(c.map(x => x * x).sum / 2.0)
        }: _*)
        struct(lit(g).as("g"),
          array_position(scores, array_max(scores)).cast("int").as("c"))
      }: _*)).as("e"))
      .groupBy(col("e.g").as("g"), col("e.c").as("c"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .foreach { row =>
        val g = row.getInt(0); val c = row.getInt(1) - 1
        if (c >= 0 && c < weights(g).length) weights(g)(c) += row.getLong(2)
      }

    Array.tabulate(groups)(g =>
      seedPlusPlus(cand(g).toArray, weights(g), kPerGroup, seed + g))
  }

  /** DISTRIBUTED Lloyd's rounds: centroids ride into the plan as
    * broadcast literals, assignment is the codegen'd argmax of
    * dot(sub, c) - ||c||^2/2 (nearest-by-L2, first-max ties — the
    * same rule the serving expressions use), and recentering is ONE
    * partial aggregate per round whose driver traffic is exactly
    * groups * k * dim rows — never the corpus. `groups` lets PQ train
    * all 8 subspaces inside the SAME scan (one explode fans each
    * vector to its per-subspace (cell, subvector) rows); IVF passes
    * one group over the full vector. At 100 TB each round is one
    * map-side-combined scan — the join-assign/agg-recenter loop that
    * replaces the old sample-capped driver fit. */
  private def lloydRounds(emb: DataFrame, groups: Int, subDim: Int,
      kPerGroup: Int, init: Array[Array[Array[Double]]],
      subCol: (Column, Int) => Column, rounds: Int = 8): Array[Array[Array[Double]]] = {
    var cents = init
    for (_ <- 0 until rounds) {
      // one scan: explode the per-group branches, posexplode subvectors,
      // aggregate (g, cell, dim) partial sums
      val rows = emb
        .select(col("v"))
        .select(explode(array((0 until groups).map { g =>
          val sub = subCol(col("v"), g)
          val scores = array(cents(g).map { c =>
            val halfNormSq = c.map(x => x * x).sum / 2.0
            dot(sub, array(c.toIndexedSeq.map(lit): _*)) - lit(halfNormSq)
          }: _*)
          struct(lit(g).as("g"),
            array_position(scores, array_max(scores)).cast("int").as("cell"),
            sub.as("sub"))
        }: _*)).as("e"))
        .select(col("e.g").as("g"), col("e.cell").as("cell"), posexplode(col("e.sub")))
        .groupBy(col("g"), col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val sums = Array.fill(groups, kPerGroup)(new Array[Double](subDim))
      val counts = Array.fill(groups, kPerGroup)(0L)
      rows.foreach { r =>
        val g = r.getInt(0); val c = r.getInt(1) - 1; val p = r.getInt(2)
        if (c >= 0 && c < kPerGroup && p < subDim) {
          sums(g)(c)(p) = r.getDouble(3)
          counts(g)(c) = r.getLong(4)
        }
      }
      cents = Array.tabulate(groups, kPerGroup) { (g, c) =>
        if (counts(g)(c) == 0) cents(g)(c) // empty cell keeps its center
        else {
          val m = sums(g)(c).clone()
          var i = 0
          while (i < subDim) { m(i) /= counts(g)(c); i += 1 }
          m
        }
      }
    }
    cents
  }

  /** Real coarse quantizer: DISTRIBUTED k-means‖ seeding
    * ([[seedParallel]] — no driver-side corpus sample anywhere), then
    * 8 DISTRIBUTED Lloyd's rounds over the FULL corpus (fixed seed,
    * first-max assignment, empty cell keeps its center —
    * deterministic given the corpus and partition-sum order, and
    * memoized per app so every consumer serves the same artifact).
    * Returns NumCells centroid vectors. */
  private[operators] def kmeansCentroids(emb: DataFrame): Seq[Array[Double]] = {
    val init = seedParallel(emb.select(col("vec_id").as("id"), col("v")),
      1, NumCells, (v, _) => v, seed = 42)
    val dim = init(0)(0).length
    lloydRounds(emb.select(col("v")), 1, dim, NumCells,
      init, (v, _) => v)(0).toSeq
  }

  /** Cell-affinity scores for v against each centroid: argmax of
    * dot(v, c) - ||c||^2/2 is the nearest centroid by L2 (the ||v||^2
    * term is common to all cells), computed as one codegen'd dot per
    * centroid — no distance expansion. */
  private def cellScores(v: Column, cents: Seq[Array[Double]]): Column =
    // the centroid matrix and half-norms ride as TWO complex literals
    // (typedLit) instead of cells x dims scalar-literal nodes: the
    // unrolled form built ~1000-node trees whose ANALYSIS/OPTIMIZATION
    // dominated every ANN query's wall time (r18 StageProfile:
    // knn_pq_adc 1.28 s wall vs 0.32 s stage time). zip_with applies
    // the SAME per-centroid expression — dot(v, c) - h with identical
    // operands in identical order — so scores are bit-identical.
    zip_with(
      typedLit(cents.map(_.toSeq)),
      typedLit(cents.map(c => c.map(x => x * x).sum / 2.0)),
      (c, h) => dot(v, c) - h)

  /** IVF ANN: corpus in argmax cell; probes search their top-nprobe
    * cells via equi-join on cell id. */
  /** Trained-once coarse quantizer per corpus: an IVF index is built at
    * ingest time and amortized over every probe batch — retraining
    * KMeans per query would charge index construction to each lookup. */
  private val centroidCache = new AppScopedCache[Seq[Array[Double]]]()

  def knnIvf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = centroidCache.getOrCompute(spark, dir)(kmeansCentroids(base))
    val emb = base
      .withColumn("scores", cellScores(col("v"), cents))
      .withColumn("cell", expr("array_position(scores, array_max(scores))").cast("int"))
    // probe side: top-2 cells by projection = last two of the
    // score-sorted (score, idx) struct array
    val probes = emb.filter(col("vec_id") < 5)
      .withColumn("ranked",
        reverse(array_sort(zip_with(col("scores"),
          sequence(lit(1), lit(NumCells)),
          (s, i) => struct(s.as("score"), i.as("idx"))))))
      .select(col("vec_id").as("query_id"), col("v").as("q"),
              explode(slice(col("ranked.idx"), 1, NumProbeCells)).as("cell"))
    val scored = emb.select(col("cell"), col("vec_id"), col("v"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Materialized IVF index: the corpus written as parquet PARTITIONED
    * BY cell. This is the true 100 TB shape — a probe's nprobe cells
    * become partition-pruned directory reads (PartitionFilters in the
    * scan), so each query touches nprobe/ncells of the data on DISK,
    * not just in the join. Build once at ingest; `knnIvfIndexed` serves
    * probes against it. */
  /** Argmax-cell assignment of (vec_id, v) rows under a FIXED
    * quantizer — shared by the initial build and incremental append so
    * the two paths cannot drift. */
  private def assignCells(base: DataFrame,
      cents: Seq[Array[Double]]): DataFrame =
    base
      .withColumn("scores", cellScores(col("v"), cents))
      .withColumn("cell", expr("array_position(scores, array_max(scores))").cast("int"))
      .drop("scores")

  def writeIvfIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = centroidCache.getOrCompute(spark, dir)(kmeansCentroids(base))
    val assigned = assignCells(base, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    // The quantizer IS part of the index: probes must score against the
    // centroids the data was partitioned by, not whatever a fresh
    // training run would produce after the corpus (or its partitioning,
    // or the session) changed. Underscore name keeps it out of
    // partition discovery.
    writeCentroidSidecar(spark, indexPath, cents)
    writeCellBoundsSidecar(spark, indexPath, computeCellBounds(assigned, cents))
  }

  /** Build an index from an explicit (vec_id, embedding) frame —
    * the from-subset entry the incremental-append test and any
    * partial-corpus ingest use. Trains a fresh quantizer on exactly
    * the rows given. */
  private[graft] def writeIvfIndexFrom(spark: SparkSession, emb: DataFrame,
      indexPath: String): Unit = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = kmeansCentroids(base)
    val assigned = assignCells(base, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    writeCentroidSidecar(spark, indexPath, cents)
    writeCellBoundsSidecar(spark, indexPath, computeCellBounds(assigned, cents))
  }

  /** Incremental index maintenance: assign NEW vectors to the cells of
    * the EXISTING quantizer (sidecar — never retrained; retraining
    * would silently invalidate every already-partitioned row) and
    * append them as new files under their cell directories. This is
    * the IVF analogue of Dedup's incremental banded path: ingest work
    * is proportional to the batch, the standing index is never
    * re-clustered or rewritten, and serving picks the new rows up on
    * the next partition-pruned read with zero coordination. Periodic
    * re-train + full rebuild (when drift degrades recall) is a
    * separate, rarer batch job — exactly how production IVF systems
    * (Faiss ondisk, Milvus) schedule it. */
  def appendIvfIndex(spark: SparkSession, indexPath: String,
      newVecs: DataFrame): Unit = {
    val cents = readCentroidSidecar(spark, indexPath)
    val assigned = assignCells(
      newVecs.select(col("vec_id"), asDouble(col("embedding")).as("v")), cents)
    // bounds widen BEFORE the rows land: a crash between the two
    // leaves the bound conservatively wide (never wrong), and the
    // min-merge is idempotent under replay
    widenCellBounds(spark, indexPath, assigned, cents)
    assigned.write.mode("append").partitionBy("cell").parquet(indexPath)
  }

  /** Replay-safe append for a STREAMING ingest: batch `batchId`'s rows
    * land as deterministically-named files (`cell=X/ivfb<id>-<i>`), and
    * the append FIRST deletes any files a previous attempt of the same
    * batch left behind. A micro-batch replayed after a crash anywhere
    * in the sequence (partial tmp write, partial move, move complete
    * but offset uncommitted) therefore converges to exactly one copy of
    * its rows — the same exactly-once contract as the archive writer's
    * batch_id partition overwrite, adapted to a sink whose partitioning
    * (cell) is DATA-derived and shared across batches, where dynamic
    * partition overwrite would clobber other batches' rows. */
  def appendIvfIndexBatch(spark: SparkSession, indexPath: String,
      newVecs: DataFrame, batchId: Long): Unit = {
    val cents = readCentroidSidecar(spark, indexPath)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexPath))
    val prefix = s"ivfb$batchId-"
    def cellDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    // replay cleanup: this batch's earlier (possibly partial) landing
    cellDirs.foreach { d =>
      fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(f => fs.delete(f.getPath, false))
    }
    val tmp = new org.apache.hadoop.fs.Path(root, s"_ivf_append_tmp_$batchId")
    val assigned = assignCells(
      newVecs.select(col("vec_id"), asDouble(col("embedding")).as("v")), cents)
    // bounds widen FIRST (crash-safe: wide is never wrong, min-merge
    // is idempotent under the replay this writer already supports)
    widenCellBounds(spark, indexPath, assigned, cents)
    assigned
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    fs.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .foreach { d =>
        val dst = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
        fs.mkdirs(dst)
        fs.listStatus(d.getPath)
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .zipWithIndex.foreach { case (f, i) =>
            val target = new org.apache.hadoop.fs.Path(dst, s"$prefix$i.parquet")
            require(fs.rename(f.getPath, target), s"rename failed: ${f.getPath}")
          }
      }
    fs.delete(tmp, true)
  }

  /** Bin-pack the IVF index's cell directories — the maintenance pass
    * a long-running streaming ingest needs: [[appendIvfIndexBatch]]
    * lands one file set per micro-batch per cell, and after O(1000)
    * batches the serve path pays per-file open/footer costs (the exact
    * problem [[Compaction]] solves for data tables; same two-marker
    * crash protocol, work ∝ fragmentation).
    *
    * Replay safety: the NEWEST batch's `ivfb<id>-*` files are excluded
    * from the merge — exactly-once under crash-replay relies on the
    * replayed batch pre-deleting its own deterministically-named
    * files, and only the HIGHEST committed batchId can ever be
    * re-delivered (earlier offsets were committed before it started).
    * Older batches' files are safe to fold. The `_centroids.json`
    * quantizer sidecar is untouched (underscore names are invisible
    * to the pass), and serving is directory-addressed, so a compacted
    * index is read by the identical plan. */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
      targetBytes: Long = 128L << 20): Seq[Compaction.PartitionReport] = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexPath))
    val pat = "ivfb(\\d+)-.*".r
    val maxBatch = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(d => fs.listStatus(d.getPath))
      .flatMap(f => f.getPath.getName match {
        case pat(id) => Some(id.toLong)
        case _ => None
      }).maxOption
    Compaction.compact(spark, indexPath, targetBytes,
      keepFile = n => maxBatch.exists(b => n.startsWith(s"ivfb$b-")))
  }

  // ---- per-cell angular bounds (the range-search pruning sidecar) ---

  /** Per-cell angular radius, recorded as the MINIMUM cosine between
    * the cell's centroid direction and any member direction — the
    * fact that lets a range query prune whole cells: on the unit
    * sphere, angle(q, v) >= angle(q, c) - angle(c, v), so a cell
    * whose best-possible member cosine is below the threshold cannot
    * contain a match. One map-side-combined aggregation over the
    * assigned rows; NaN (zero-norm member) records -1 = unboundable,
    * so the cell is never pruned. */
  private def computeCellBounds(assigned: DataFrame,
      cents: Seq[Array[Double]]): Array[Double] = {
    val cellCos = element_at(
      array(cents.map(c => cosine(col("v"),
        array(c.toIndexedSeq.map(lit): _*))): _*), col("cell"))
    val rows = assigned
      .select(col("cell"),
        when(isnan(cellCos) || cellCos.isNull, lit(-1.0)).otherwise(cellCos).as("c"))
      .groupBy(col("cell")).agg(min(col("c")).as("min_cos"))
      .collect()
    // empty cells keep 1.0 (zero radius): nothing is in them, so
    // pruning them is vacuously safe
    val out = Array.fill(cents.length)(1.0)
    rows.foreach(r => out(r.getInt(0) - 1) = r.getDouble(1))
    out
  }

  /** Min-merge a batch's bounds into the standing sidecar — only when
    * one exists (a pre-bounds index stays boundless and is served
    * without pruning rather than with a bound that ignores its
    * standing rows). Called BEFORE the batch's rows land. */
  private def widenCellBounds(spark: SparkSession, indexPath: String,
      assigned: DataFrame, cents: Seq[Array[Double]]): Unit =
    readCellBoundsSidecar(spark, indexPath).foreach { old =>
      val batch = computeCellBounds(assigned, cents)
      writeCellBoundsSidecar(spark, indexPath,
        old.zip(batch).map { case (a, b) => math.min(a, b) })
    }

  /** Recompute the angular-radius sidecar EXACTLY from the index's
    * current rows — the periodic maintenance pass pairing
    * [[widenCellBounds]]'s conservatism: every append can only widen
    * a bound (correct but pruning degrades as bounds drift loose,
    * e.g. after a batch of outliers later compacted away), so a
    * deployment re-tightens on the compaction cadence. One
    * map-side-combined aggregation over the index; the result can
    * only move bounds TOWARD the data (never past it), so serving
    * stays value-identical before, during, and after. Returns the
    * new per-cell minimum cosines. */
  def tightenCellBounds(spark: SparkSession, indexPath: String): Array[Double] = {
    val cents = readCentroidSidecar(spark, indexPath)
    val rows = Tables.artifactParquet(spark, indexPath)
      .select(col("cell").cast("int").as("cell"), col("v"))
    val bounds = computeCellBounds(rows, cents)
    writeCellBoundsSidecar(spark, indexPath, bounds)
    bounds
  }

  private def writeCellBoundsSidecar(spark: SparkSession, indexPath: String,
      bounds: Array[Double]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_cellbounds.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(bounds.mkString("[", ",", "]").getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def readCellBoundsSidecar(spark: SparkSession,
      indexPath: String): Option[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_cellbounds.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    Some(json.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble))
  }

  private def writeCentroidSidecar(spark: SparkSession, indexPath: String,
      cents: Seq[Array[Double]]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_centroids.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val json = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readCentroidSidecar(spark: SparkSession,
      indexPath: String): Seq[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_centroids.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    // controlled format: [[d,d,...],[...]] — no general JSON needed
    json.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .toSeq.map(_.split(",").map(_.toDouble))
  }

  /** Quantizers used to SERVE queries, per corpus dir — recorded so the
    * oracle-SQL dump (which runs after the query batch) can embed the
    * exact centroid literals the results were computed with. Keyed by
    * dir because a last-write-wins global would let a second corpus
    * served in the same JVM poison the first one's oracle. */
  private[graft] val servedCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Double]]]()

  /** One materialized index per corpus, built on first use (or in an
    * ingest/warmup phase via an eager [[ivfIndexPath]] call) under a
    * scratch directory that is deleted when the app ends. This is the
    * serving path: probes never retrain the quantizer and read only
    * their nprobe cells' files. */
  private val indexCache = new AppScopedCache[String](deleteLocalDir, cleanupOnAppEnd = true)

  private[operators] def deleteLocalDir(path: String): Unit = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Path.of(path)
    if (Files.exists(root)) {
      // Files.walk holds directory handles until closed — leaked
      // streams exhaust fds in a session that evicts many indexes
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  def ivfIndexPath(spark: SparkSession, dir: String): String =
    indexCache.getOrCompute(spark, dir) {
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
      writeIvfIndex(spark, dir, path)
      path
    }

  /** The registered knn_ivf query: serve from the materialized index.
    * Index construction (quantizer training + partitioned write) happens
    * once per corpus, not per probe batch. */
  def knnIvfServed(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    knnIvfIndexed(spark, dir, ivfIndexPath(spark, dir), k)

  /** Build-once ingest-time quantizer artifacts, warmed together: the
    * flat PQ codebooks and the IVF residual codebooks (which need the
    * materialized index). A deployment trains these at ingest and
    * serves them to every probe batch — warming here keeps a query's
    * timing from absorbing its family's one-time training, the same
    * contract as [[ivfIndexPath]] itself. */
  def warmCodebooks(spark: SparkSession, dir: String): Unit = {
    pqCodebooks(spark, dir)
    val indexPath = ivfIndexPath(spark, dir)
    ivfResidualCodebooks(spark, dir, indexPath,
      readCentroidSidecar(spark, indexPath))
    ()
  }

  /** DIVERSITY-BALANCED sampling: per-cluster quotas over the served
    * coarse quantizer — the corpus-balancing step embedding-driven
    * curation pipelines run after dedup. A uniform sample reproduces
    * the corpus's cluster skew (near-duplicate-dense regions dominate);
    * here each quantizer cell contributes its `perCell`
    * highest-priority members, so the kept set covers the embedding
    * space evenly. Priority is the md5-keyed uniform of vec_id (the
    * sampleStratified discipline: a PURE function of the id, so any
    * engine, rerun, or audit reproduces the EXACT sample — and the
    * DuckDB twin is generated from the served quantizer). Reads the
    * materialized IVF index rows and its sidecar centroids (never
    * retrained); one scan + one per-cell top-k window, partitionable
    * by cell at any scale. */
  def diversitySample(spark: SparkSession, dir: String, perCell: Int = 8): DataFrame = {
    val indexPath = ivfIndexPath(spark, dir)
    val cents = readCentroidSidecar(spark, indexPath)
    servedCentroids.put(dir, cents)
    // exact uniform: first 32 md5 bits / 2^32 — an integer divided by a
    // power of two, so the double is exact and cross-engine ordering
    // cannot hinge on float noise (vec_id breaks the residual ties)
    val u = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val base = Tables.artifactParquet(spark, indexPath)
      .select(col("cell").cast("int").as("cell"), col("vec_id"), u.as("u"))
    val w = Window.partitionBy(col("cell")).orderBy(col("u"), col("vec_id"))
    base.withColumn("pick", row_number().over(w))
      .filter(col("pick") <= perCell)
      .select(col("cell"), col("vec_id"), col("pick").cast("int").as("pick"),
        round(col("u"), 6).as("u"))
      .orderBy(col("cell"), col("pick"))
  }

  /** Release one corpus's ANN state now — the trained quantizer and the
    * materialized index's scratch directory — mirroring
    * Dedup.evictCorpus for long-lived sessions. (App shutdown evicts
    * everything automatically.) */
  def evictCorpus(spark: SparkSession, dir: String): Unit = {
    centroidCache.evict(spark, dir)
    indexCache.evict(spark, dir)
    servedCentroids.remove(dir)
    codebookCache.evict(spark, s"$dir#pq")
    servedCodebooks.remove(dir)
    residualCodebookCache.evict(spark, s"$dir#ivfpq")
    servedIvfCodebooks.remove(dir)
    sqGridCache.evict(spark, s"$dir#sqgrid")
    sqCodesCache.evict(spark, s"$dir#sqcodes")
    pcaCache.evict(spark, s"$dir#pca$PcaK")
    servedPca.remove(dir)
  }

  /** Top-k against a materialized index: probes (vec_id < 5 from the
    * source corpus) search their top-nprobe cells; the filter on the
    * partition column prunes every other cell's files at plan time. */
  def knnIvfIndexed(spark: SparkSession, dir: String, indexPath: String, k: Int = 5): DataFrame = {
    // the index's own quantizer, never a retrained one (see writeIvfIndex)
    val cents = readCentroidSidecar(spark, indexPath)
    servedCentroids.put(dir, cents)
    val probes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("scores", cellScores(col("q"), cents))
      .withColumn("ranked",
        reverse(array_sort(zip_with(col("scores"),
          sequence(lit(1), lit(NumCells)),
          (s, i) => struct(s.as("score"), i.as("idx"))))))
      .select(col("query_id"), col("q"),
              explode(slice(col("ranked.idx"), 1, NumProbeCells)).as("cell"))
    // the probe set is tiny (<= n_probes * nprobe rows): collect ONCE
    // and rebuild a local frame — no second execution of the scoring
    // subplan and no cache entry leaked per call
    val probeRows = probes.collect()
    val probeCells = probeRows.map(_.getInt(2)).distinct
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val index = Tables.artifactParquet(spark, indexPath)
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col("cell").cast("int").as("cell"), col("vec_id"), col("v"))
    val scored = index.join(broadcast(probesLocal), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** RANGE search served from the materialized IVF index — the
    * indexed tier in front of [[rangeSearch]]'s recall-complete brute
    * yardstick. Value-identical to brute BY CONSTRUCTION: cells are
    * pruned only on the conservative spherical-triangle bound
    * angle(q, v) >= angle(q, c) - radius(c), where radius(c) is the
    * `_cellbounds.json` sidecar's recorded max member angle (widened
    * ahead of every append, so it can over-cover but never under).
    * A cell survives when cos(max(0, θ_qc - θ_c)) could still reach
    * the threshold (minus a 1e-4 margin covering the output's 4dp
    * rounding), i.e. even its best-placed possible member clears the
    * cut. An index without the sidecar serves with ALL cells — slower,
    * never wrong. At 100 TB the kept cells are partition-pruned
    * directory reads, the same PartitionFilters shape as
    * [[knnIvfIndexed]], with selectivity growing as the threshold
    * rises (dedup sweeps at 0.9+ touch a handful of cells). */
  def rangeSearchIvfServed(spark: SparkSession, dir: String,
      threshold: Double = 0.2): DataFrame = {
    val indexPath = ivfIndexPath(spark, dir)
    servedCentroids.put(dir, readCentroidSidecar(spark, indexPath))
    val probes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
    rangeSearchIvfCore(spark, indexPath, probes, threshold)
  }

  /** The cells probe `q` must visit at `threshold` — the driver-side
    * pruning decision, pure so the conservativeness law is
    * unit-testable in isolation. `cellTheta` None = boundless index,
    * visit everything. */
  private[graft] def rangeCells(cents: Seq[Array[Double]],
      cellTheta: Option[Array[Double]], q: Array[Double],
      threshold: Double): Seq[Int] = {
    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    val qn = math.sqrt(q.map(x => x * x).sum)
    (1 to cents.length).filter { c =>
      cellTheta match {
        case None => true // boundless index: never prune
        case Some(thetas) =>
          val cent = cents(c - 1)
          val cn = math.sqrt(cent.map(x => x * x).sum)
          if (qn == 0 || cn == 0) true // unboundable directions
          else {
            val cosQC = clamp(
              q.zip(cent).map { case (a, b) => a * b }.sum / (qn * cn))
            val reach = math.acos(cosQC) - thetas(c - 1)
            // best possible member cosine vs the rounding-padded cut
            reach <= 0 || math.cos(reach) >= threshold - 1e-4
          }
      }
    }
  }

  /** Core over any (query_id, q) probe frame — unit-testable against
    * planted corpora where pruning provably fires. */
  private[graft] def rangeSearchIvfCore(spark: SparkSession, indexPath: String,
      probes: DataFrame, threshold: Double): DataFrame = {
    val cents = readCentroidSidecar(spark, indexPath)
    val bounds = readCellBoundsSidecar(spark, indexPath)
    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    val cellTheta = bounds.map(_.map(b => math.acos(clamp(b))))
    // probe set is tiny (the serving contract): select kept cells on
    // the driver — NumCells acos calls per probe, no corpus row read
    val probeRows = probes.collect()
    val keptPairs = probeRows.flatMap { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      rangeCells(cents, cellTheta, q, threshold).map(c => (qid, q, c))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType)))
    val rows: Seq[org.apache.spark.sql.Row] = keptPairs.toIndexedSeq
      .map { case (qid, q, c) =>
        org.apache.spark.sql.Row(qid, q.toIndexedSeq, c) }
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val probeCells = keptPairs.map(_._3).distinct
    val index = Tables.artifactParquet(spark, indexPath)
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col("cell").cast("int").as("cell"), col("vec_id"), col("v"))
    index.join(broadcast(probesLocal), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the index's coarse
    * quantizer, then compare each vector ONLY against its own
    * cluster's members — the published trick that turns an O(N^2)
    * embedding dedup into k independent O((N/k)^2) cell problems, with
    * k grown alongside N so cells stay bounded. Served from the
    * materialized IVF index (the cells ARE the index's partition
    * directories, and the quantizer is the index's own sidecar — never
    * retrained), so the dedup pass is one co-partitioned self-join
    * over partition-pruned parquet, the artifact ingest already built
    * for ANN serving.
    *
    * Per vector: its cell, how many lower-id cellmates it was compared
    * against, the best such cosine (the dedup EVIDENCE — non-vacuous
    * even on a corpus with no true near-dups, where the correct
    * decision column is all-false), and the SemDeDup decision: is_dup
    * with dup_of = the lowest-id cellmate at cosine >= threshold
    * (lowest-id survivor rule, deterministic). Planted-near-dup recall
    * is pinned differentially in ExtensionsSpec. */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.95): DataFrame = {
    val indexPath = ivfIndexPath(spark, dir)
    servedCentroids.put(dir, readCentroidSidecar(spark, indexPath))
    val emb = Tables.artifactParquet(spark, indexPath)
      .select(col("cell").cast("int").as("cell"), col("vec_id"), col("v"))
    semanticDedupCore(emb, threshold)
  }

  /** Per-cell vector ceiling for [[semanticDedupCore]]: a cell at the
    * cap costs ~3.4e7 cosine pairs — the largest per-cell task the
    * 100 TB posture tolerates before the k-independent-cells claim
    * stops being true. */
  private[graft] val DefaultMaxCellSize = 8192

  private lazy val dedupLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Core over any (cell, vec_id, v) frame — unit-testable on
    * synthesized corpora with planted near-dups.
    *
    * The SemDeDup trick is O((N/k)²) per cell only while cells stay
    * bounded — real corpora cluster, and ONE skewed quantizer cell
    * silently degrades the self-join toward all-pairs. The guard is
    * a k-row census up front: cells past `maxCellSize` are DECLINED
    * with evidence — their rows keep (vec_id, cell) but carry NULL
    * decision columns (n_prior included, so a declined row is
    * distinguishable from an honest singleton's 0) — and the capped
    * cells are logged with their sizes. Decision semantics for every
    * in-bound cell are unchanged. */
  private[graft] def semanticDedupCore(emb: DataFrame,
      threshold: Double, maxCellSize: Int = DefaultMaxCellSize): DataFrame = {
    val counts = emb.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val over = counts.filter(col("cell_n") > maxCellSize)
      .collect().map(r => (r.get(0), r.getLong(1)))
    if (over.nonEmpty) {
      val detail = over.sortBy(-_._2).take(8)
        .map { case (c, n) => s"cell $c: $n vectors" }.mkString(", ")
      dedupLog.warn(s"semanticDedup: ${over.length} cell(s) past the " +
        s"$maxCellSize-vector ceiling DECLINED rather than degrade " +
        s"toward all-pairs: $detail")
    }
    val sized = emb.join(broadcast(counts), Seq("cell"))
    val good = sized.filter(col("cell_n") <= maxCellSize)
      .select(col("cell"), col("vec_id"), col("v"))
    val prior = good.select(col("cell"),
      col("vec_id").as("nb_id"), col("v").as("nv"))
    val pairs = good.join(prior, Seq("cell"))
      .filter(col("nb_id") < col("vec_id"))
      .select(col("vec_id"), col("nb_id"),
        round(cosine(col("v"), col("nv")), 4).as("cos"))
    val agg = pairs.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_prior"),
        max(col("cos")).as("max_prior_cos"),
        min(when(col("cos") >= threshold, col("nb_id"))).as("dup_of"))
    val served = good.select(col("vec_id"), col("cell"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        col("max_prior_cos"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
    val declined = sized.filter(col("cell_n") > maxCellSize)
      .select(col("vec_id"), col("cell"),
        lit(null).cast("long").as("n_prior"),
        lit(null).cast("double").as("max_prior_cos"),
        lit(null).cast("boolean").as("is_dup"),
        lit(null).cast("long").as("dup_of"))
    served.unionByName(declined).orderBy(col("vec_id"))
  }

  /** Int8 scalar quantization of the embedding corpus: per-dimension
    * global [min, max] -> 8-bit codes plus per-vector reconstruction
    * error — the 4x memory-reduction step before ANN serving at scale
    * (PQ/SQ in the IVF literature; this is the SQ half). Dim stats are
    * one tiny aggregation (dims rows) broadcast back over the exploded
    * corpus; codes are exact integers (portable), the RMSE is reported
    * x1000 so rounding lands at an epsilon-stable magnitude. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val exploded = emb.select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"), col("col").as("x"))
    val dimStats = exploded.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val coded = exploded.join(broadcast(dimStats), Seq("dim"))
      .select(col("vec_id"), col("x"), col("lo"), col("hi"),
        when(col("hi") === col("lo"), lit(0))
          .otherwise(round((col("x") - col("lo")) * 255.0 / (col("hi") - col("lo")), 0)
            .cast("int")).as("code"))
    val deq = col("lo") + col("code") * (col("hi") - col("lo")) / 255.0
    coded.groupBy(col("vec_id"))
      .agg(
        round(sqrt(avg(pow(col("x") - deq, lit(2)))) * 1000.0, 6).as("rmse_x1000"),
        sum(col("code")).as("code_sum"))
      .orderBy(col("vec_id"))
  }

  /** Two-stage retrieval over the quantized corpus: coarse top-`coarseK`
    * on DEQUANTIZED int8 vectors, exact cosine re-rank of the survivors
    * to top-`k` — the standard SQ serving pattern (scan the 4x-smaller
    * representation, touch full precision only for the shortlist). Both
    * stages are deterministic (the quantization grid is exact per-dim
    * min/max, dequantization is pure IEEE arithmetic), so the DuckDB
    * twin reproduces them bit-for-bit. At 100 TB the codes would be the
    * stored representation; here they're derived in-plan from the same
    * exploded aggregation `quantizeEmbeddings` uses. */
  /** Per-dimension SQ grid, trained once per corpus and served as a
    * driver artifact (the [[centroidCache]]/[[codebookCache]]
    * discipline): ONE exploded aggregation computes global [lo, hi]
    * per dimension; the collect is `dims` rows — bounded by the
    * embedding dimensionality, never by corpus size. */
  private val sqGridCache = new AppScopedCache[Seq[(Double, Double)]]()
  private val sqCodesCache =
    new AppScopedCache[DataFrame](AppScopedCache.unpersistPlanRDDs)

  private[operators] def sqGrid(spark: SparkSession, dir: String): Seq[(Double, Double)] =
    sqGridCache.getOrCompute(spark, s"$dir#sqgrid") {
      Tables.embeddings(spark, dir)
        .select(asDouble(col("embedding")).as("v"))
        .select(posexplode(col("v")))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
        .orderBy(col("pos"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    }

  def knnQuantizedRerank(spark: SparkSession, dir: String,
      k: Int = 5, coarseK: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // The grid is a SERVED artifact (memoized driver-side, dims-sized)
    // baked into the plan as literals — no in-plan aggregation subtree
    // to recompute per consumer. The int8 CODES are the materialized
    // scanned representation (localCheckpoint below): the coarse stage
    // reads codes and dequantizes with pure arithmetic, realizing the
    // "scan the 4x-smaller representation" SQ serving contract instead
    // of re-deriving the quantization from full-precision doubles per
    // probe batch. Arithmetic is expression-for-expression the grid the
    // DuckDB twin computes.
    val grid = sqGrid(spark, dir)
    val st = array(grid.map { case (lo, hi) =>
      struct(lit(lo).as("lo"), lit(hi).as("hi")) }: _*)
    def codeOf(x: Column, s: Column): Column = {
      val lo = s.getField("lo"); val hi = s.getField("hi")
      when(hi === lo, lit(0))
        .otherwise(round((x - lo) * 255.0 / (hi - lo), 0).cast("int"))
    }
    def deqOf(c: Column, s: Column): Column = {
      val lo = s.getField("lo"); val hi = s.getField("hi")
      lo + c * (hi - lo) / 255.0
    }
    // the codes frame is MEMOIZED per corpus like every other serving
    // artifact: an unmemoized per-call localCheckpoint would pin one
    // corpus-sized block-manager copy per invocation until app end
    val codes = sqCodesCache.getOrCompute(spark, s"$dir#sqcodes") {
      emb.select(col("vec_id"),
          zip_with(col("v"), st, (x, s) => codeOf(x, s)).as("codes"))
        .localCheckpoint(false)
    }
    val recon = codes
      .select(col("vec_id"), zip_with(col("codes"), st, (c, s) => deqOf(c, s)).as("vq"))
    val probes = recon.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("vq").as("q"))
    val coarse = recon.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosine(col("q"), col("vq")), 4).as("cos_sim"))
    val shortlist = topKPerQuery(coarse, coarseK)
      .select(col("query_id"), col("neighbor_id"))
    // re-rank: full-precision vectors only for shortlist rows
    val exactProbes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("q"))
    val exact = shortlist
      .join(emb, col("neighbor_id") === emb("vec_id"))
      .join(broadcast(exactProbes), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    topKPerQuery(exact, k)
  }

  // ---- hyperplane near-dup ------------------------------------------
  val NumPlanes = 8

  private[operators] def hyperplanes(dim: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(NumPlanes)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  private def bucketOf(v: Column, planes: Seq[Array[Double]]): Column =
    (0 until NumPlanes).map { j =>
      val plane = array(planes(j).toIndexedSeq.map(lit): _*)
      when(dot(v, plane) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Embedding near-duplicate pairs: cosine >= 0.95 among bucket-mates —
    * the embedding-space analog of MinHash dedup. Approximate by design
    * (a 0.95-pair may straddle a hyperplane). On a corpus with no true
    * near-dups the correct answer is EMPTY — which is why the DuckDB
    * oracle (Queries.simBucketPairsSql) verifies it rather than a
    * rows>0 smoke check; recall on planted near-dups is asserted
    * differentially in ExtensionsSpec. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    bucketPairs(Tables.embeddings(spark, dir), Some(0.95))

  /** The LSH candidate-generation stage by itself: every bucket-mate
    * pair with its cosine, unthresholded. Non-empty even on corpora
    * without true near-dups (birthday collisions across 2^8 buckets),
    * so it exercises the bucket join end-to-end on the test fixture. */
  def embeddingCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    bucketPairs(Tables.embeddings(spark, dir), None)

  /** Core over any (vec_id, embedding) frame — unit-testable on
    * synthesized corpora with planted near-dups. */
  private[graft] def bucketPairs(src: DataFrame, threshold: Option[Double]): DataFrame = {
    val planes = hyperplanes(64)
    val emb = src.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), planes))
    val a = emb.select(col("bucket"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = emb.select(col("bucket"), col("vec_id").as("vec_b"), col("v").as("vb"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              round(cosine(col("va"), col("vb")), 4).as("cos_sim"))
    threshold.fold(pairs)(t => pairs.filter(col("cos_sim") >= t))
      // distinct: two vectors can share several buckets only if equal
      // bucket ids — single join key, so no dup pairs; ordering for the
      // driver's hash-compare.
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact all-pairs cosine >= threshold (brute force) — the recall
    * yardstick for the bucketed path in tests. */
  private[graft] def brutePairs(src: DataFrame, threshold: Double): DataFrame = {
    val emb = src.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              round(cosine(col("va"), col("vb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The hyperplane matrix as DuckDB DOUBLE[] literals, for oracle SQL
    * generation (single source of truth: the same `hyperplanes(64)`). */
  private[graft] def duckPlaneLiterals: Seq[String] =
    hyperplanes(64).map(_.mkString("[", ", ", "]::DOUBLE[]"))

  // ---- product quantization (PQ-ADC) --------------------------------
  /** PQ layout: the 64-dim vector split into [[PqSubspaces]] contiguous
    * 8-dim subvectors, each encoded as the index of its nearest
    * sub-centroid out of [[PqCodes]] — 8 small codes (4 bits of
    * entropy each) standing in for 256 bytes of float32: the 32x
    * compression that makes billion-vector serving fit in memory
    * (the published product-quantization design of Jégou et al.,
    * TPAMI 2011, as used by every large-scale ANN system). */
  val PqSubspaces = 8
  val PqCodes = 16
  private[graft] val PqDim = 8

  private val codebookCache = new AppScopedCache[Seq[Seq[Array[Double]]]]()

  /** Codebooks used to SERVE queries, per corpus dir — same post-run
    * oracle contract as [[servedCentroids]]. */
  private[graft] val servedCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Array[Double]]]]()

  /** Per-subspace codebooks: DISTRIBUTED k-means‖ seeding — all 8
    * subspaces oversample inside the SAME corpus scans
    * ([[seedParallel]] groups = subspaces; per-group hash salts keep
    * identical marginal distributions on independent draws) — then 8
    * DISTRIBUTED Lloyd's rounds, also one scan per round across all
    * subspaces ([[lloydRounds]]). Memoized build-once-serve-many. */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Array[Double]]] =
    codebookCache.getOrCompute(spark, s"$dir#pq") {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
      val init = seedParallel(emb, PqSubspaces, PqCodes,
        (v, m) => slice(v, m * PqDim + 1, PqDim), seed = 42)
      val trained = lloydRounds(emb.select(col("v")), PqSubspaces, PqDim, PqCodes, init,
        (v, m) => slice(v, m * PqDim + 1, PqDim))
      (0 until PqSubspaces).map(m => trained(m).toSeq)
    }

  // ---- residual codebooks (IVF-PQ / true IVFADC) --------------------
  private val residualCodebookCache = new AppScopedCache[Seq[Seq[Array[Double]]]]()

  /** Residual codebooks used to SERVE knn_ivf_pq, per corpus dir —
    * distinct from [[servedCodebooks]] (the flat-PQ raw-vector books):
    * the two quantizer families feed different post-run oracles. */
  private[graft] val servedIvfCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Array[Double]]]]()

  /** The cell's centroid as an array column (1-based `cell`, matching
    * `array_position`'s assignment) — one literal array-of-arrays,
    * shared by the residual encode and the serve-side base dot. */
  private def centLookup(cell: Column, cents: Seq[Array[Double]]): Column =
    element_at(typedLit(cents.map(_.toSeq)), cell)

  /** r = x − centroid(cell): the quantity residual PQ encodes. */
  private def residualOf(v: Column, cell: Column,
      cents: Seq[Array[Double]]): Column =
    zip_with(v, centLookup(cell, cents), (a, b) => a - b)

  /** Residual PQ codebooks — the published IVFADC design (Jégou et
    * al., TPAMI 2011, §IV-A): PQ encodes r = x − coarse_centroid
    * rather than x itself. Residuals concentrate near the origin with
    * far less variance than raw vectors, so the same 4-bit code budget
    * quantizes them much more finely — the standard recall lift at
    * fixed code size. Trained on the MATERIALIZED INDEX (cell, v)
    * rows — the artifact serving reads — through the same distributed
    * [[seedParallel]] + [[lloydRounds]] scans as the flat books: no
    * corpus row reaches the driver. Memoized build-once-serve-many. */
  private[graft] def ivfResidualCodebooks(spark: SparkSession, dir: String,
      indexPath: String, cents: Seq[Array[Double]]): Seq[Seq[Array[Double]]] =
    residualCodebookCache.getOrCompute(spark, s"$dir#ivfpq") {
      val res = Tables.artifactParquet(spark, indexPath)
        .select(col("vec_id").as("id"),
          residualOf(col("v"), col("cell").cast("int"), cents).as("v"))
      val init = seedParallel(res, PqSubspaces, PqCodes,
        (v, m) => slice(v, m * PqDim + 1, PqDim), seed = 43)
      val trained = lloydRounds(res.select(col("v")), PqSubspaces, PqDim,
        PqCodes, init, (v, m) => slice(v, m * PqDim + 1, PqDim))
      (0 until PqSubspaces).map(m => trained(m).toSeq)
    }

  /** Scores of v's m-th subvector against each sub-centroid — argmax of
    * dot(sub, c) - ||c||^2/2 is nearest-by-L2, same trick as
    * [[cellScores]]; `array_position(s, array_max(s))` (first max) is
    * the DuckDB `list_position(s, list_max(s))` twin, so assignment
    * ties break identically. */
  private def pqSubScores(v: Column, m: Int, cents: Seq[Array[Double]]): Column =
    // compact-literal form like [[cellScores]]: same per-element
    // arithmetic, two literal nodes instead of codes x dims scalars
    zip_with(
      typedLit(cents.map(_.toSeq)),
      typedLit(cents.map(c => c.map(x => x * x).sum / 2.0)),
      (c, h) => dot(slice(v, m * PqDim + 1, PqDim), c) - h)

  private def pqCode(v: Column, m: Int, cb: Seq[Seq[Array[Double]]]): Column = {
    val s = pqSubScores(v, m, cb(m))
    array_position(s, array_max(s)).cast("int")
  }

  /** Per-probe ADC lookup tables (one `lut$m` column per subspace:
    * dot of the query subvector with every sub-centroid) and the
    * fixed-order 8-lookup sum over a `codes` column — ONE definition
    * serving both the flat and the IVF-composed path, so the LUT
    * layout and the 1-based code indexing cannot drift between them. */
  private def pqLutCols(q: Column, cb: Seq[Seq[Array[Double]]]): Seq[Column] =
    (0 until PqSubspaces).map { m =>
      transform(typedLit(cb(m).map(_.toSeq)),
        c => dot(slice(q, m * PqDim + 1, PqDim), c)).as(s"lut$m")
    }

  private def pqAdcExpr: Column =
    (0 until PqSubspaces)
      .map(m => element_at(col(s"lut$m"), element_at(col("codes"), m + 1)))
      .reduce(_ + _)

  /** Two-stage PQ retrieval (the asymmetric-distance pattern): coarse
    * stage scores every corpus vector against each probe by table
    * lookup — per probe, ONE precomputed LUT row (dot of the query
    * subvector with every sub-centroid, PqSubspaces x PqCodes doubles)
    * rides a broadcast; the corpus side touches only its 8 codes, never
    * its floats. The ADC sum is a FIXED-ORDER chain of 8 lookups, so
    * coarse scores are bit-identical across engines (no aggregation-
    * order noise); the shortlist cut orders by the rounded score with
    * a neighbor_id tiebreak. Exact cosine then re-ranks the shortlist
    * to top-k — identical serving contract to [[knnQuantizedRerank]].
    * At 100 TB the codes table is the stored representation (32x
    * smaller than the floats); here it is derived in-plan from the
    * memoized codebooks, and only shortlist rows ever read full
    * precision.
    *
    * Building the frame is not lazy: it runs a `collect()` job for the
    * 5 probe rows (and builds the codebooks if they are not memoized
    * yet). The probes are snapshotted at build time, so a frame built
    * and executed later does not see changes to the embeddings. */
  def knnPqAdc(spark: SparkSession, dir: String,
      k: Int = 5, coarseK: Int = 20): DataFrame = {
    val cb = pqCodebooks(spark, dir)
    servedCodebooks.put(dir, cb)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val coded = emb.select(col("vec_id"),
      array((0 until PqSubspaces).map(m => pqCode(col("v"), m, cb)): _*).as("codes"))
    // probes COLLECTED once (5 rows) and re-planned as a LocalRelation
    // (r19, the knnIvfPq pattern): the probe frame fed two broadcast
    // builds, and column pruning gave each its own projection of a
    // FULL embeddings scan (r19 StageProfile: four near-identical
    // 13-task scan stages per query, two of them probe builds). A
    // LocalRelation broadcast builds driver-side with no scan job; the
    // LUTs are computed by the SAME Catalyst expressions over the
    // collected doubles, so every score is bit-identical.
    val probeRows = emb.filter(col("vec_id") < 5).collect()
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), emb.schema)
    val probes = probesLocal
      .select(col("vec_id").as("query_id") +: col("v").as("q") +:
        pqLutCols(col("q"), cb): _*)
    val coarse = coded.crossJoin(broadcast(probes.drop("q")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(pqAdcExpr, 6).as("adc"))
    // shortlist via the partial-aggregable bounded heap instead of the
    // row_number window: the window shuffled EVERY coarse-scored corpus
    // row onto P probe partitions (the skew funnel guide §2.5 warns
    // about — at 100 TB an N*P-row exchange landing on 5 reducers);
    // graft_topk keeps coarseK rows per probe per map task, so the
    // exchange carries P*coarseK*tasks rows. Ordering contract is the
    // window's exactly: score desc, neighbor_id asc on ties.
    val shortlist = coarse.groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.topk(col("adc"), col("neighbor_id"), coarseK).as("topk"))
      .select(col("query_id"), explode(col("topk.neighbor_id")).as("neighbor_id"))
    val exact = shortlist
      .join(emb, col("neighbor_id") === emb("vec_id"))
      .join(broadcast(probes.select(col("query_id"), col("q"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    topKPerQuery(exact, k)
  }

  /** IVF-PQ: the composed large-scale serving architecture — coarse
    * cell pruning from the materialized IVF index (probes read only
    * their top-nprobe cells' files, plan-time partition pruning) AND
    * the PQ-ADC compressed scan inside the survivors (codes + one
    * broadcast LUT row per probe, never the floats), then exact-cosine
    * re-rank of the shortlist. This is the FAISS-IVFPQ shape: at 100 TB
    * the index stores codes alongside each cell's vectors, a query
    * touches nprobe/k of the corpus AND reads it 32x smaller, and full
    * precision is paid only for the top-coarseK shortlist.
    *
    * RESIDUAL coding (true IVFADC, Jégou et al. TPAMI 2011 §IV-A):
    * each indexed vector is PQ-encoded as r = x − centroid(cell), and
    * the ADC score reconstructs dot(q, x) ≈ dot(q, centroid) +
    * Σ_m lut_m[code_m] — the per-(probe, cell) base dot rides the same
    * broadcast LUT row, so serving cost is unchanged while the 4-bit
    * codes spend their whole budget on the low-variance residual.
    * Both quantizers are served artifacts (index sidecar centroids,
    * memoized residual codebooks) — never retrained at query time —
    * and both feed the post-run oracle generator. */
  def knnIvfPq(spark: SparkSession, dir: String,
      k: Int = 5, coarseK: Int = 20): DataFrame = {
    val indexPath = ivfIndexPath(spark, dir)
    val cents = readCentroidSidecar(spark, indexPath)
    servedCentroids.put(dir, cents)
    val cb = ivfResidualCodebooks(spark, dir, indexPath, cents)
    servedIvfCodebooks.put(dir, cb)
    val probes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("scores", cellScores(col("q"), cents))
      .withColumn("ranked",
        reverse(array_sort(zip_with(col("scores"),
          sequence(lit(1), lit(NumCells)),
          (s, i) => struct(s.as("score"), i.as("idx"))))))
      .select(col("query_id"), col("q"),
              explode(slice(col("ranked.idx"), 1, NumProbeCells)).as("cell"))
    val probeRows = probes.collect()
    val probeCells = probeRows.map(_.getInt(2)).distinct
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    // per-(probe, cell) base dot(q, centroid) + the residual LUTs:
    // together they reconstruct dot(q, x) from an 8-code row
    val probesLut = probesLocal
      .select(col("query_id") +: col("cell") +: col("q").as("q") +:
        dot(col("q"), centLookup(col("cell"), cents)).as("qc") +:
        pqLutCols(col("q"), cb): _*)
    val index = Tables.artifactParquet(spark, indexPath)
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col("cell").cast("int").as("cell"), col("vec_id"), col("v"))
    // residual computed ONCE per row, then 8 code assignments off it
    val coded = index
      .select(col("cell"), col("vec_id"),
        residualOf(col("v"), col("cell"), cents).as("r"))
      .select(col("cell"), col("vec_id"),
        array((0 until PqSubspaces).map(m => pqCode(col("r"), m, cb)): _*).as("codes"))
    val coarse = coded.join(broadcast(probesLut.drop("q")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("qc") + pqAdcExpr, 6).as("adc"))
    // shortlist via the bounded-heap partial aggregate, not the
    // row_number window (same fusion as knnPqAdc: the window shuffled
    // every coarse-scored row onto P probe partitions; the heap ships
    // P*coarseK rows per map task, ordering contract identical —
    // score desc, neighbor_id asc).
    val shortlist = coarse.groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.topk(col("adc"), col("neighbor_id"), coarseK).as("topk"))
      .select(col("query_id"), explode(col("topk.neighbor_id")).as("neighbor_id"))
    // exact-rerank probes deduped on the DRIVER from the already-
    // collected probe rows: the previous probesLocal.distinct() was an
    // Aggregate over a LocalRelation — a full exchange + two AQE job
    // rounds per query to dedup <= 10 rows (every (q, cell) explosion
    // of one probe carries the identical q).
    val exactRows = probeRows.groupBy(_.getLong(0)).map(_._2.head).toSeq
      .map(r => org.apache.spark.sql.Row(r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_.getLong(0))
    val exactProbes = spark.createDataFrame(
      java.util.Arrays.asList(exactRows: _*),
      org.apache.spark.sql.types.StructType(probes.schema.fields.take(2)))
    val exact = shortlist
      .join(index.select(col("vec_id"), col("v")),
        col("neighbor_id") === col("vec_id"))
      .join(broadcast(exactProbes), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q"), col("v")), 4).as("cos_sim"))
    topKPerQuery(exact, k)
  }

  // ---- PCA embedding compression -------------------------------------

  /** Output dimensionality of [[pcaProject]]: 64 → 8, the same 8x
    * footprint cut as a PQ code per subspace, but LINEAR — projected
    * vectors still support dot/cosine directly, which is what makes
    * PCA the standard pre-index compression (and whitening) stage. */
  val PcaK = 8

  private val pcaCache = new AppScopedCache[Seq[Array[Double]]]()

  /** Components used to SERVE [[pcaProject]], per corpus dir — same
    * post-run oracle contract as [[servedCodebooks]]. */
  private[graft] val servedPca =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Double]]]()

  /** Top-k principal components of the corpus embeddings, trained with
    * Spark's own distributed machinery: `RowMatrix
    * .computePrincipalComponents` computes the d×d Gramian/covariance
    * in ONE treeAggregate pass over the corpus (d² driver doubles —
    * 32 KB at d=64, independent of corpus size) and eigendecomposes on
    * the driver. Build-once-serve-many, memoized per corpus like the
    * PQ codebooks. Returned as k column vectors of length d. */
  private[graft] def pcaComponents(spark: SparkSession, dir: String,
      k: Int = PcaK): Seq[Array[Double]] =
    pcaCache.getOrCompute(spark, s"$dir#pca$k") {
      val rows = Tables.embeddings(spark, dir).select(col("embedding")).rdd
        .map(r => org.apache.spark.mllib.linalg.Vectors.dense(
          r.getSeq[Float](0).map(_.toDouble).toArray))
      val pc = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows)
        .computePrincipalComponents(k) // d x k, column-major
      (0 until k).map(j => Array.tabulate(pc.numRows)(i => pc(i, j)))
    }

  /** EMBEDDING COMPRESSION by PCA projection: every corpus vector →
    * its k principal-component coordinates, one codegen'd scan (the
    * served components ride the plan as literal arrays through the
    * same native [[dot]] the ANN family uses — no shuffle, no UDF).
    * Downstream, the 8-dim projections are what a billion-vector
    * dedup/clustering pass would feed instead of raw 64-dim floats.
    * Oracled POST-RUN from the served components (the DuckDB twin
    * recomputes every projection via list_dot_product), so a wrong
    * component order, sign, or fold diverges the hash. */
  def pcaProject(spark: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    val comps = pcaComponents(spark, dir, k)
    servedPca.put(dir, comps)
    val v = asDouble(col("embedding"))
    val pcs = comps.zipWithIndex.map { case (c, j) =>
      round(dot(v, array(c.toIndexedSeq.map(lit): _*)), 6).as(s"pc$j")
    }
    Tables.embeddings(spark, dir)
      .select((col("vec_id") +: pcs): _*)
      .orderBy(col("vec_id"))
  }
}
