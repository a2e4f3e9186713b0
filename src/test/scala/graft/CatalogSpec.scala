package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/** Catalog registration: external tables, idempotency, SQL access. */
class CatalogSpec extends SparkSpec {

  test("register exposes every engine table via the catalog") {
    val names = GraftCatalog.register(spark, sf)
    val listed = spark.catalog.listTables().collect().map(_.name).toSet
    assert(names.toSet.subsetOf(listed))
    // catalog read == path read
    assert(spark.table("lineitem").count() ===
      Tables.lineitem(spark, sf).count())
    // external: table type recorded as EXTERNAL, data not copied
    assert(spark.catalog.listTables().collect()
      .find(_.name == "lineitem").get.tableType === "EXTERNAL")
  }

  test("registration is idempotent and re-points to the given dir") {
    GraftCatalog.register(spark, sf)
    GraftCatalog.register(spark, sf) // second call must not throw
    assert(spark.table("nation").count() === 25)
  }

  test("pure-SQL query over catalog tables joins and aggregates") {
    val rows = GraftCatalog.customersPerNationSql(spark, sf).collect()
    assert(rows.nonEmpty)
    val viaPaths = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("n_name")).collect()
    assert(rows.map(_.toString).toSeq === viaPaths.map(_.toString).toSeq)
  }

  test("ANALYZE records table and column statistics for the CBO") {
    GraftCatalog.register(spark, sf)
    GraftCatalog.analyze(spark, Seq("nation", "customer"))
    val stats = spark.sql("DESCRIBE TABLE EXTENDED nation").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stats.get("Statistics").exists(s => s.contains("rows")),
      s"no row-count statistic recorded: ${stats.get("Statistics")}")
    // column-level stats present (NDV etc.)
    val colStats = spark.sql("DESCRIBE EXTENDED nation n_nationkey").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(colStats.get("distinct_count").exists(_ != "NULL"),
      s"no NDV for n_nationkey: $colStats")
  }

  test("dropping an external table leaves the data files intact") {
    GraftCatalog.register(spark, sf)
    spark.sql("DROP TABLE region")
    assert(Tables.region(spark, sf).count() === 5) // files untouched
    GraftCatalog.register(spark, sf) // restore for other tests
    assert(spark.table("region").count() === 5)
  }

  test("register re-creates a table dropped behind the session's back") {
    GraftCatalog.register(spark, sf)
    spark.sql("DROP TABLE region")
    assert(!spark.catalog.tableExists("region"))
    GraftCatalog.register(spark, sf)
    assert(spark.table("region").count() === 5)
  }

  test("register re-runs DDL when the dir changes (no cross-dir staleness)") {
    val sf2 = "/root/testdata/sf0.01"
    GraftCatalog.register(spark, sf)
    GraftCatalog.register(spark, sf2)
    assert(spark.table("customer").count() === 1500) // sf0.01's corpus
    // switching BACK must re-register too, not hit a stale per-dir memo
    GraftCatalog.register(spark, sf)
    assert(spark.table("customer").count() === 150)
  }

  test("register-once: a second call issues no DDL for the same dir") {
    GraftCatalog.register(spark, sf)
    val before = spark.sql("DESCRIBE TABLE EXTENDED nation").collect()
      .find(_.getString(0) == "Created Time").map(_.getString(1))
    GraftCatalog.register(spark, sf)
    val after = spark.sql("DESCRIBE TABLE EXTENDED nation").collect()
      .find(_.getString(0) == "Created Time").map(_.getString(1))
    assert(before === after, "second register() recreated the table")
  }

  test("ANALYZE column statistics flip a filtered join to broadcast (CBO load-bearing)") {
    // isolated twin tables so other tests' statistics can't leak in
    Seq("lineitem_cbo", "orders_cbo").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.createTable("lineitem_cbo", "parquet",
      Map("path" -> s"$sf/lineitem.parquet"))
    spark.catalog.createTable("orders_cbo", "parquet",
      Map("path" -> s"$sf/orders.parquet"))
    // selective filter on the fact side: size-only estimation cannot see
    // that l_quantity < 3 keeps ~4% of rows, the CBO's FilterEstimation
    // (min/max from ANALYZE ... FOR ALL COLUMNS) can — that estimate is
    // exactly what decides broadcastability at 100 TB, where "the whole
    // file" is never under any threshold but a filtered dimension is
    // o.* keeps the orders side at full width (no projection shrink):
    // with the threshold below both sides' size-only estimates, the
    // pre-ANALYZE plan cannot broadcast either side
    val q = "SELECT o.*, l.l_quantity FROM orders_cbo o " +
      "JOIN lineitem_cbo l ON o.o_orderkey = l.l_orderkey WHERE l.l_quantity < 2"
    def planStr = spark.sql(q).queryExecution.executedPlan.toString
    val conf = spark.conf
    val prevCbo = conf.get("spark.sql.cbo.enabled")
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", (4 * 1024).toString)
      // without column stats the filter's output is estimated at the
      // scan's (projected) size — above threshold, so sort-merge
      assert(planStr.contains("SortMergeJoin"),
        s"expected sort-merge before ANALYZE:\n$planStr")
      GraftCatalog.analyze(spark, Seq("lineitem_cbo", "orders_cbo"))
      assert(planStr.contains("BroadcastHashJoin"),
        s"expected broadcast after ANALYZE:\n$planStr")
    } finally {
      conf.set("spark.sql.cbo.enabled", prevCbo)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      Seq("lineitem_cbo", "orders_cbo").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
