package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifacts, Tables}

/** Phase-2 relational surface (SURVEY §7): the general query engine the
  * reference never needed (it has zero joins, SURVEY §2 note) but a
  * complete analytics engine must have. Everything is built from Catalyst
  * primitives so the 100 TB plan is the right one by construction:
  *
  *  - dimension tables (region, nation, and filtered customer subsets)
  *    are broadcast explicitly — no shuffle for the build side;
  *  - fact-fact joins (lineitem ⋈ orders) are plain equi-joins: Catalyst
  *    picks sort-merge, and AQE converts to broadcast / splits skew at
  *    runtime when stats allow;
  *  - aggregations rely on partial+final hash aggregation (map-side
  *    combine), so the shuffle carries group keys, not rows;
  *  - analytic windows partition by a key before sorting, so the sort is
  *    per-partition, never global.
  */
object Relational {

  /** Skew-safe equi-join by key salting: the big (skewed) side gets a
    * deterministic per-row salt, the small side is replicated once per
    * salt shard, and the join key becomes (key, salt) — a hot key's
    * rows spread across `salts` reducers instead of one. This is the
    * manual fallback for skew AQE can't fix (AQE splits skewed
    * sort-merge partitions, but a single hot key inside one partition
    * of a hash aggregate or non-splittable join still serializes).
    *
    * Semantics contract: `"inner"` and `"left"` (big side outer) are
    * supported and identical to the unsalted join — proven by the
    * q_salted_join / q_salted_join_left oracles, which are the PLAIN
    * SQL joins. Left-outer is sound because only the SMALL side is
    * replicated: an unmatched big row carries one salt, so it
    * null-extends exactly once. Right/full outer are refused — the
    * small side's replicas would null-extend `salts` times per
    * unmatched row, and de-duplicating them back is the caller's
    * correctness trap this require() forecloses. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports only 'inner' and 'left' (big side outer); " +
      s"'$joinType' would null-extend the replicated small side once per salt")
    // salts <= 0 would be SILENTLY wrong, not slow: explode over zero
    // literals drops every small-side row and pmod(x, 0) yields null
    // salts — an empty inner join / all-null left join
    require(salts > 0, s"saltedJoin needs salts > 0, got $salts")
    require(!big.columns.contains("_salt") && !small.columns.contains("_salt"),
      "saltedJoin: column _salt is reserved (a caller column by that " +
      "name would be silently replaced and then dropped)")
    // salt from the full row hash: deterministic (no rand(); replays
    // and retries salt identically), and a hot KEY still spreads
    // because its rows differ in other columns
    val salted = big.withColumn("_salt",
      pmod(xxhash64(big.columns.toIndexedSeq.map(col): _*), lit(salts)))
    // shuffle_hash hint: a salted join IS a shuffle join — salting
    // exists to spread one reducer's hot key across `salts` reducers,
    // and a small side cheap enough to broadcast would never be salted
    // (the broadcast replicates to every task already). Without the
    // hint the planner broadcasts the exploded small side at demo
    // scale, which both serializes the build+probe into the big
    // side's scan task and benches a plan the operator's 100 TB story
    // never executes. Hash, not sort-merge: the build side is small
    // per partition by construction (r18; guide §3.1).
    val replicated = small.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
      .hint("shuffle_hash")
    salted.join(replicated,
        salted(bigKey) === replicated(smallKey) && salted("_salt") === replicated("_salt"),
        joinType)
      .drop("_salt")
  }

  /** The salted join as a verified query: revenue per order status,
    * computed through the salted path — hash-identical to the plain
    * join the oracle runs. salts=4 for the DEMO (the sf0.1 corpus has
    * no skew, so the bench line prices pure replication overhead — the
    * cost the operator exists to accept UNDER skew; a production call
    * sizes salts to the observed hot-key fanout, and the semantics are
    * salt-count-invariant, which the oracle proves). */
  def saltedJoinRevenue(spark: SparkSession, dir: String): DataFrame =
    // project BOTH sides to the columns the aggregate needs BEFORE the
    // salted join (guide §2.3): the salt is xxhash64 over the input
    // frame's columns, so feeding the full tables made the scan read
    // all 16 lineitem + 9 orders columns and carry them through the
    // join. ReadSchema is now 3+2 columns; the salt still spreads a
    // hot key (rows differ in price/discount) and the join result is
    // salt-invariant (the oracle is the plain unsalted join).
    saltedJoin(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderstatus")),
        "l_orderkey", "o_orderkey", salts = 4)
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))

  /** The LEFT-outer salted join as a verified query: every lineitem
    * with its order's status when the order is finished ('F'), a
    * '(none)' bucket otherwise — unmatched big-side rows must appear
    * exactly once, which the oracle (a plain SQL LEFT JOIN) proves. */
  def saltedJoinLeftRevenue(spark: SparkSession, dir: String): DataFrame =
    // same §2.3 projection as saltedJoinRevenue: 3-column big side
    saltedJoin(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus")),
        "l_orderkey", "o_orderkey", salts = 4, joinType = "left")
      .groupBy(coalesce(col("o_orderstatus"), lit("(none)")).as("status_bucket"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("status_bucket"))

  /** Binned (point-in-interval) range join: points joined to the
    * intervals containing them WITHOUT an equi-key. Spark plans the
    * naive `p.d BETWEEN i.lo AND i.hi` as a BroadcastNestedLoopJoin —
    * fine while the interval side broadcasts, quadratic disaster when
    * it doesn't. The scale-safe form: explode each interval into the
    * fixed-width bins it covers, map each point to its ONE bin, and
    * equi-join on the bin with the BETWEEN as a residual filter — a
    * plain shuffled hash join whose cost is true (point, interval-bin)
    * collisions. No pair dedup is needed: a point lives in exactly one
    * bin, so a (point, interval) pair meets at most once. Bin width
    * trades interval fan-out against residual selectivity; pick it
    * near the median interval length.
    *
    * `points` must carry a date column `d`; `intervals` must carry
    * date columns `lo`/`hi` (inclusive). Returns the matched rows with
    * both sides' columns, bin dropped. */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame,
      binDays: Int): DataFrame = {
    def binOf(d: Column) =
      floor(datediff(d, to_date(lit("1970-01-01"))) / binDays)
    val wb = intervals.withColumn("_bin",
      explode(sequence(binOf(col("lo")), binOf(col("hi")))))
    val pb = points.withColumn("_bin", binOf(col("d")))
    pb.join(wb, Seq("_bin"))
      .filter(col("d").between(col("lo"), col("hi")))
      .drop("_bin")
  }

  /** The registered range-join query: per early customer (custkey <=
    * 200), total market activity — every order from ANY customer —
    * inside that customer's 90-day onboarding window, computed with
    * the binned plan above (PlanAuditSpec pins nested-loop-free).
    * Oracle is the naive BETWEEN join. */
  def rangeJoinActivity(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val points = orders.select(to_date(col("o_orderdate")).as("d"),
      col("o_totalprice"))
    val windows = orders.filter(col("o_custkey") <= 200)
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("lo"))
      .select(col("o_custkey").as("window_cust"), col("lo"),
        date_add(col("lo"), 90).as("hi"))
    rangeJoinBinned(points, windows, binDays = 30)
      .groupBy(col("window_cust"), col("lo").as("w_start"), col("hi").as("w_end"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("window_cust"))
  }

  /** TPC-H Q1 shape: scan-filter-aggregate, the canonical map-side-combine
    * workload. Filter + 7-column projection reach the parquet scan. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3 shape: dim-filter → fact join → top-k revenue. The filtered
    * customer segment (~1/5 of an already-small dim) is broadcast. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1996-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: snowflake join through region→nation→customer→orders
    * →lineitem→supplier with the co-located-nation condition. region and
    * nation broadcast (tiny); supplier broadcast (small dim). */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "AFRICA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    val supp = Tables.supplier(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
                  supp("s_nationkey") === cust("c_nationkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q4's shape adapted to this schema (no commit/receipt
    * dates): orders per priority where SOME lineitem shipped more than
    * 75 days after the order date — a correlated EXISTS with a non-
    * equi conjunct, planned as a left-semi join on the order key (the
    * date predicate rides the join condition, evaluated during the
    * semi probe; no full join + distinct materialization). */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(
      col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
      col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 75 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q7 (volume shipping): five-way join with the nation
    * dimension applied TWICE under different roles (supplier vs
    * customer nation) and a cross-pair filter — the classic test that
    * aliasing, join-order choice, and broadcast of repeated dimensions
    * all hold up. Revenue by (supp_nation, cust_nation, year). */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(
      col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val o = Tables.orders(spark, dir)
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    // the classic Q7 pins two named nations; this corpus's nation
    // names are synthetic and differ by scale factor, so the pair
    // filter is structural instead (cross-border trade among the first
    // five nations) — same two-role dimension shape at every SF
    val n1 = Tables.nation(spark, dir).filter(col("n_nationkey") < 5).select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).filter(col("n_nationkey") < 5).select(
      col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), s("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), c("c_nationkey") === col("c_nkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Existence check as a semi join — never a full join + distinct. */
  def semiJoinCustomersWithUrgent(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Non-existence as an anti join (NOT EXISTS without the subquery). */
  def antiJoinCustomersNoUrgent(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Analytic window: top-3 orders per customer by totalprice.
    * partitionBy keeps the sort per-customer — no global sort. */
  def windowTop3PerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("totalprice"),
              row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running (cumulative) sum per supplier over ship time. */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    // both the frame order and the output order add l_quantity /
    // running_qty to stay total — otherwise tied rows can swap between
    // engines and running sums diverge.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
              round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
  }

  /** Global top-k: orderBy + limit — Catalyst plans TakeOrderedAndProject
    * (per-partition heap + driver merge), never a full global sort. */
  def topKOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** Set operations: custkeys ordering urgent INTERSECT/EXCEPT low. */
  def setOpsIntersect(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val low = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    urgent.intersect(low).orderBy(col("o_custkey"))
  }

  def setOpsExcept(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val low = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    urgent.except(low).orderBy(col("o_custkey"))
  }

  /** Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): multiplicity
    * preserved — each urgent order keeps one row per occurrence beyond
    * the low-priority count. Spark plans these as aggregated
    * count-difference joins, not row-by-row subtraction. Output is the
    * custkey with its surviving multiplicity so the result is a
    * deterministic relation (raw ALL output has duplicate rows, which
    * a sorted compare can't canonicalize). */
  def setOpsExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val low = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    urgent.exceptAll(low)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("o_custkey"))
  }

  def setOpsIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val low = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    urgent.intersectAll(low)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("o_custkey"))
  }

  /** Wide-to-long unpivot via the stack() generator (codegen'd, no
    * shuffle): every lineitem measure becomes a (measure, value) row —
    * the melt step feeding generic per-metric aggregation/plotting
    * pipelines. Row count multiplies by the measure count at scan
    * speed; the downstream aggregation is then one shuffle on
    * (measure) regardless of how many measures were melted. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice, " +
             "'discount', l_discount, 'tax', l_tax) AS (measure, value)"))
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"),
           round(avg(col("value")), 4).as("mean"))
      .orderBy(col("measure"))

  /** Distinct aggregation (exact) + its scale-out sibling HLL sketch is
    * benched separately; exact distinct shuffles once on the agg key. */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
           countDistinct(col("l_suppkey")).as("n_suppliers"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP: hierarchical subtotals in one pass. */
  def rollupSales(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
           count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_price"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** GROUPING SETS: the explicit-combination sibling of rollup/cube —
    * per-returnflag, per-linestatus, and the grand total in ONE pass
    * over the fact table (three separate aggregations would scan it
    * three times). */
  def groupingSetsSales(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
           count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_price"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** CUBE: all grouping combinations in one pass. */
  def cubeSales(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
           count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("sum_price"), col("n"))
      .orderBy(col("status"), col("priority"))

  /** Conditional (pivot-style) aggregation — one scan, N conditional sums. */
  def caseAggByStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(lit(0.0))), 2).as("open_total"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))), 2).as("filled_total"),
        round(sum(when(col("o_orderstatus") === "P", col("o_totalprice")).otherwise(lit(0.0))), 2).as("pending_total"))
      .orderBy(col("o_orderpriority"))

  /** Scalar "subquery": suppliers above global average balance. The
    * 1-row aggregate is broadcast-joined, not collected to the driver. */
  def aboveAvgSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
    val avgBal = supp.agg(avg(col("s_acctbal")).as("avg_bal"))
    supp.crossJoin(broadcast(avgBal))
      .filter(col("s_acctbal") > col("avg_bal"))
      .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("acctbal"))
      .orderBy(col("s_suppkey"))
  }

  /** String functions over part. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").like("%a%"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        concat_ws("-", col("p_type"), col("p_brand")).as("type_brand"))
      .orderBy(col("p_partkey"))

  /** Date functions over orders: per year/month order volume. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"),
               month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_year"), col("o_month"))

  /** TPC-H Q10 (returned items): revenue lost to returns per customer
    * over one quarter — fact-fact join on the order key, customer join,
    * nation broadcast, then a top-20 on the aggregated revenue
    * (TakeOrderedAndProject after the agg, never a global sort). */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    // exact decimal accumulation: this aggregate's doubles land on a
    // half-cent rounding boundary at sf0.01, where float summation
    // order decides the 2dp digit — decimal makes the sum order-free
    val disc = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(disc), 2).cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"),
              col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q13 (customer order distribution): LEFT OUTER join with a
    * join-condition filter (the filter must ride the join, not a WHERE —
    * a WHERE would silently turn the outer join inner), double
    * aggregation: orders per customer, then customers per order count.
    * count(col) skips the nulls the outer join manufactures, so
    * order-less customers land in the 0 bucket by construction. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 (promotion effect): global ratio of conditional to total
    * revenue over one month — the part dimension broadcast, one
    * scan-side month filter, a single 1-row aggregate (no shuffle of
    * fact rows beyond the partial-agg combine). */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01 00:00:00").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val part = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    // decimal(18,6) accumulation (same discipline as q8/q9/q10): the
    // sums are order-free exact; divide as double only once both sides
    // are closed, so the 4dp ratio can't straddle a half-rounding
    // boundary between engines at any scale factor
    val disc = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
             sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast("decimal(18,6)")))
               .cast("double") / sum(disc).cast("double"),
           4).as("promo_revenue_pct"))
  }

  /** TPC-H Q15 (top supplier): revenue per supplier over a quarter,
    * then the argmax via a broadcast 1-row max — the "view + scalar
    * subquery" shape without any driver-side collect. Revenue is
    * rounded BEFORE the max-equality so both engines compare the same
    * decimal. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // decimal(18,6) accumulation so the 2dp revenue — and therefore the
    // max-equality pick — is summation-order-free (same discipline as
    // q10/q19); cast to double only in the final projection
    val disc = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
    // the per-supplier revenue view, memoized per corpus: BOTH the
    // scalar max and the probe side of the crossJoin read it, and
    // without a barrier each branch re-scans and re-aggregates lineitem
    // (the exact pattern q11 was fixed for; VERDICT r6 "What's wrong" #1)
    val rev = Artifacts.frame(spark, "q15_revenue", dir, Seq(Tables.path(dir, "lineitem"))) {
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(disc), 2).as("total_revenue_dec"))
        .localCheckpoint(false)
    }
    val maxRev = rev.agg(max(col("total_revenue_dec")).as("max_rev"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
              col("total_revenue_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q18 (large-volume orders): grouped HAVING over the fact
    * table feeding a join back to orders + customer — the "IN (GROUP BY
    * ... HAVING)" shape planned as agg-then-join, so the fact table is
    * scanned once and only qualifying orderkeys reach the join. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 300)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("o_date"),
              round(col("o_totalprice"), 2).as("totalprice"), col("total_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
  }

  /** Analytic-function variety: ntile quartiles, cumulative
    * distribution, lead, and the partition's first value in one window
    * — partitioned by priority so every sort is per-partition. */
  def windowMisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cd"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first(col("o_orderkey")).over(w).as("cheapest_key"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q17 (small-quantity revenue): correlated scalar subquery —
    * each lineitem compared to ITS part's average quantity. Planned as
    * one extra aggregate over the same fact table joined back on the
    * part key: two scans, one shuffle each, no per-row subquery
    * execution (which is the trap a row-at-a-time engine falls into). */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2)
        .cast("double").as("avg_yearly"))
  }

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): an OR of
    * three (brand, size-range, quantity-range) conjunct groups across
    * the part join — the shape that exercises predicate normalization.
    * The common subterm (the part join itself) is factored once;
    * Catalyst pushes the per-table halves of each disjunct to both
    * scans (OR-ed filters are still pushable when every branch
    * references only that table's columns). */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
             (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
        .cast("double").as("revenue"))
  }

  /** TPC-H Q21's shape on this schema (no receipt/commit dates, so
    * "kept the order waiting" = shipped last): suppliers whose lineitem
    * is the LATEST ship in a multi-supplier order — a correlated EXISTS
    * (some other supplier in the order) AND NOT EXISTS (some other
    * supplier shipped later), planned as a left-semi then left-anti
    * self-join on the order key with non-equi conjuncts riding the join
    * conditions. The self-join sides are projected thin (key, supplier,
    * date) before shuffling. */
  def q21LateShippers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val l1 = li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val l2 = li.select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
    val l3 = li.select(col("l_orderkey").as("l3_orderkey"),
      col("l_suppkey").as("l3_suppkey"), col("l_shipdate").as("l3_shipdate"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    l1.join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(l2, col("l_orderkey") === col("l2_orderkey") &&
                col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_orderkey") &&
                col("l_suppkey") =!= col("l3_suppkey") &&
                col("l3_shipdate") > col("l_shipdate"), "left_anti")
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** TPC-H Q22's shape on this schema (no phone country codes):
    * per-nation count and balance of rich-but-idle customers — balance
    * above the global positive-balance average (broadcast 1-row scalar)
    * AND no low-priority orders (anti join). */
  def q22IdleBalance(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val lowOrders = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(lowOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
           round(sum(col("c_acctbal").cast("decimal(18,6)")), 2)
             .cast("double").as("totacctbal"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q2's shape on this schema (no partsupp): groupwise argmin —
    * for each size-10 part, the supplier(s) whose lineitem achieves the
    * minimum unit price. A per-part window min then an equality filter:
    * one shuffle on the part key, never a correlated per-part subquery.
    * Ties keep all achieving suppliers (deterministic output). */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_size") === 10).select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    // unit price in exact 1e-4 units via floor of a double: floor is
    // deterministic on the IEEE value (bit-identical in both engines),
    // unlike round-at-decimal, which straddles half boundaries
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .withColumn("unit_price_e4",
        floor(col("l_extendedprice") * lit(10000.0) / col("l_quantity")).cast("long"))
      .withColumn("min_unit", min(col("unit_price_e4")).over(w))
      .filter(col("unit_price_e4") === col("min_unit"))
      .select(col("l_partkey").as("p_partkey"), col("l_suppkey"),
              col("unit_price_e4").as("min_unit_price_e4"))
      .distinct()
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"), col("min_unit_price_e4"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H Q8 (national market share): the 8-table star — lineitem at
    * the center, orders for the year, customer→nation→region fencing
    * the market, supplier→nation naming the contender, part fencing the
    * product segment. Every dimension chain collapses to a broadcast;
    * the fact table shuffles once for the (year) aggregate. Share is a
    * conditional-sum ratio, so one pass computes both numerator and
    * denominator. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val custInRegion = Tables.customer(spark, dir)
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(nat.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val stdParts = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val vol = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
    Tables.lineitem(spark, dir)
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custInRegion), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(18,6)"))) /
        sum(vol), 6).cast("double").as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9's shape on this schema (no partsupp, so supply cost is
    * proxied at half retail): profit by supplier nation and order year
    * over one product segment. Profit is a per-row expression of fact ×
    * two broadcast dims; the only shuffle is the final (nation, year)
    * aggregate. Decimal accumulation keeps the 2dp digit order-free. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNation = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")) -
      lit(0.5).cast("decimal(18,6)") * col("p_retailprice").cast("decimal(18,6)") *
      col("l_quantity").cast("decimal(18,6)")
    Tables.lineitem(spark, dir)
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(sum(profit), 2).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important inventory) on this schema: per-part shipped
    * value through one nation's suppliers, kept when above a fixed
    * fraction of that nation's total — grouped agg + global scalar
    * threshold via a broadcast 1-row cross join (never a correlated
    * subquery re-executed per group). */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir).filter(col("n_name") === "NATION_1"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
    // the per-part aggregate, memoized per corpus: BOTH the kept-parts
    // branch and the scalar threshold read it, and without a barrier the
    // crossJoin evaluates each branch independently — lineitem is
    // scanned and aggregated twice (VERDICT r5 "What's wrong" #3; ~2x at
    // scale). The lazy localCheckpoint makes the second reader pay only
    // the checkpoint read.
    val perPart = Artifacts.frame(spark, "q11_part_value", dir,
        Seq("lineitem", "supplier", "nation").map(Tables.path(dir, _))) {
      Tables.lineitem(spark, dir)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(value).as("part_value"))
        .localCheckpoint(false)
    }
    val threshold = perPart.agg((sum(col("part_value")) *
      lit(0.001).cast("decimal(18,6)")).as("cutoff"))
    perPart.crossJoin(broadcast(threshold))
      .filter(col("part_value") > col("cutoff"))
      .select(col("p_partkey"), round(col("part_value"), 2).cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** TPC-H Q12's shape on this schema (no ship mode, so the category is
    * the shipping-delay band): per 30-day band of order-to-ship delay,
    * how many high- vs low-priority orders shipped in 1996. One
    * fact-fact join (lineitem ⋈ orders), then the Q12 CASE-sum pair
    * over a derived category. */
  def q12ShipDelayPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_band",
        (floor(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) / 30) * 30)
          .cast("long"))
      .groupBy(col("delay_band"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("delay_band"))
  }

  /** TPC-H Q16 (parts/supplier relationship): how many distinct
    * suppliers ship each (brand, type, size) combination, excluding one
    * brand and suppliers in bad standing (the complaints stand-in:
    * negative balance) — a distinct-pairs projection of the fact table,
    * an anti join for the exclusion, then count(DISTINCT). The fact
    * table collapses to distinct (part, supplier) BEFORE joining dims,
    * so the join input is bounded by the association count, not row
    * count. */
  def q16SupplierRelation(spark: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: count(DISTINCT l_suppkey) below absorbs
    // duplicate (part, supplier) pairs by definition, and Spark plans
    // it as a two-level hash aggregate whose first level groups by
    // (brand, type, size, suppkey) — the pre-distinct's own exchange
    // was a third data-sized shuffle buying nothing (r18, guide §2.4)
    val assoc = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" &&
              col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    assoc
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20's shape on this schema (no partsupp availability, so
    * "holds excess stock" becomes "dominates the part's volume"):
    * suppliers who shipped more than a quarter of some PROMO part's
    * 1996 volume, named with their nation. Two-level aggregation —
    * (part, supplier) then part — joined back on the part key; the
    * dominance filter compares sibling aggregates, and qualifying
    * suppliers semi-join the dimension. */
  def q20VolumeSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val li96 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
    val perSupp = li96.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("supp_qty"))
    // the part totals ROLL UP from the supplier grain instead of
    // re-scanning and re-shuffling the fact table a second time —
    // identical values (integer quantities sum exactly in double at
    // any grouping order), one data-sized pass saved
    val perPart = perSupp.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("supp_qty")).as("total_qty"))
    val dominant = perSupp
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("supp_qty") > col("total_qty") * 0.25)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** Join + window combined: each customer's latest order. */
  def latestOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("o_date"),
              row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_date"))
      .orderBy(col("o_custkey"))
  }
}
