package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end pin of the `graft` DSv2 batch source inside the
  * correctness gate: a commit-log table is materialized ONCE per
  * corpus from the `orders` parquet (range-clustered so zone maps are
  * real), then read back through `spark.read.format("graft")` with a
  * Catalyst-pushed filter — file skipping, bloom probes, DV plumbing
  * and the Group reader all sit under an oracle that only sees ANSI
  * SQL over the source table. At scale this is the medallion read
  * path: the range clustering means the pushed predicate prunes most
  * files from ONE metadata resolve, and the residual filter re-applied
  * by Spark keeps conservativeness invisible to results. */
object Lake {

  /** orders(o_orderkey, o_orderstatus, o_totalprice) as a commit-log
    * table, range-clustered on o_totalprice (4 files with disjoint
    * zones) with a bloom on o_orderstatus — built once per corpus
    * version in a scratch dir deleted on application end. */
  private def ordersTable(spark: SparkSession, dir: String): String =
    graft.Artifacts.scratchDir(spark, "lake", dir, Seq(Tables.path(dir, "orders"))) { p =>
      val df = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(4, col("o_totalprice"))
      CommitLog.appendWithBloom(spark, p, df,
        bloomCols = Seq("o_orderstatus"),
        statsCols = Seq("o_totalprice", "o_orderkey"))
    }

  /** Filter+aggregate THROUGH the DSv2 source: the o_totalprice
    * predicate is pushed by Catalyst, zone-prunes the range-clustered
    * files, and row-group stats skip inside survivors; the aggregate
    * runs over exactly the rows ANSI SQL sees. */
  /** Un-grouped MIN/MAX/COUNT through the DSv2 source: Catalyst
    * pushes the whole aggregation and the scan answers it from the
    * commit log's zone maps + row counts — ZERO data-file opens
    * (plan-pinned GraftAggScan in PlanAuditSpec). The oracle is the
    * plain SQL aggregate over the raw table, so the metadata answer
    * must be value-identical to actually reading every row. */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val p = ordersTable(spark, dir)
    spark.read.format("graft").load(p)
      .agg(min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))
  }

  /** orders keyed by a derived low-cardinality `bucket` column
    * (o_orderkey % 4), written ONE COMMIT PER BUCKET so every data
    * file's zone for `bucket` is a point (min == max) — the
    * clustered/partition-like layout under which the source can
    * answer GROUP BY bucket entirely from metadata (Delta's
    * partition-level count, generalized to clustering stats). */
  private[graft] def groupedTable(spark: SparkSession, dir: String): String =
    graft.Artifacts.scratchDir(spark, "lakeg", dir, Seq(Tables.path(dir, "orders"))) { p =>
      val df = Tables.orders(spark, dir)
        .select(col("o_orderkey"), (col("o_orderkey") % 4).as("bucket"),
          col("o_totalprice"))
      (0 until 4).foreach { i =>
        CommitLog.appendWithStats(spark, p, df.filter(col("bucket") === i),
          Seq("bucket", "o_orderkey"))
      }
    }

  /** GROUPED aggregate THROUGH the DSv2 source: Catalyst pushes the
    * whole GROUP BY bucket aggregation and the scan answers one row
    * per bucket from the commit log's zone maps + row counts — zero
    * data-file opens (plan-pinned in GraftSourceSpec). The oracle
    * reads every raw row, so the metadata answer must be
    * value-identical. */
  def groupAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val p = groupedTable(spark, dir)
    spark.read.format("graft").load(p)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("bucket"))
  }

  /** STORAGE-PARTITIONED self-join THROUGH the DSv2 source: both
    * sides read the bucket-clustered table with `clusterBy`, so the
    * scan reports KeyGroupedPartitioning and the join on
    * (bucket, o_orderkey) runs with NO shuffle on either side
    * (plan-pinned in GraftSourceSpec/PlanAuditSpec) — the 100 TB
    * fact-to-fact join shape. The oracle is the plain SQL self-join,
    * so co-location can never change results. */
  def spjJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = groupedTable(spark, dir)
    def side = spark.read.format("graft").option("clusterBy", "bucket").load(p)
    side.as("l").join(side.as("r"), Seq("bucket", "o_orderkey"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("l.o_totalprice") + col("r.o_totalprice")), 2).as("total2"))
      .orderBy(col("bucket"))
  }

  /** RUNTIME-PRUNED join THROUGH the DSv2 source: the broadcast dim
    * side resolves to bucket {0} at execution (o_orderkey % 8 = 0
    * implies % 4 = 0), Spark hands the scan that IN-set, and the
    * fact side opens only bucket-0 files (SupportsRuntimeFiltering —
    * behavior-pinned by the file-open counter in GraftSourceSpec /
    * PlanAuditSpec). The oracle restates the join as a static WHERE,
    * so runtime pruning can never change results. */
  def runtimePrune(spark: SparkSession, dir: String): DataFrame = {
    val p = groupedTable(spark, dir)
    val fact = spark.read.format("graft").load(p)
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 8 === 0)
      .select((col("o_orderkey") % 4).as("bucket")).distinct()
    fact.join(broadcast(dim), Seq("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("bucket"))
  }

  def pushdownScan(spark: SparkSession, dir: String): DataFrame = {
    val p = ordersTable(spark, dir)
    spark.read.format("graft").load(p)
      .filter(col("o_totalprice") >= 150000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }
}
