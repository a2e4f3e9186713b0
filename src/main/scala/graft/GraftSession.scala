package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * The reference (aristoteles/aristoteles.py:229-230) opens one SQLite
  * connection per station; our equivalent "connection" is a single
  * SparkSession whose Catalyst planner serves every operator. Tuning here
  * is sized for local[N] testing but chosen to scale: AQE on (runtime
  * re-planning, skew-join splitting at 100 TB), shuffle partitions pinned
  * to the core count locally (a real cluster would size this to
  * ~2-3x total cores or rely on AQE coalescing).
  */
object GraftSession {

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName),
      cpus
    ).getOrCreate()
  }

  /** Apply engine defaults to any builder (shared by tests / Verify / Bench). */
  def configure(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      // Input split sizing, env-parameterised (scale-dependent; see
      // OPTIMIZATION_r18.md): this engine's scans are dominated by
      // CPU-bound per-document DECODE (PDF/crypto/Office/media
      // expressions), where a byte of input costs orders of magnitude
      // more than a relational scan byte — so bytes-per-task must be
      // sized to CPU time, not I/O time. The local corpora land at
      // ~0.3-1 MB per fixture file (~0.1-1 s of decode CPU per split
      // at these defaults); a production deployment of the same
      // pipeline sets SPARK_GRAFT_MAX_PARTITION_BYTES up (e.g. 16-64m
      // for decode corpora, 512m-1g for pure relational scans, guide
      // §6) — the default 128m/4m pair here would pack every small
      // fixture file into one or two splits and serialize the decode.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"))
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "65536"))
      // every graft_* function as a session builtin + the nanos-range
      // pushdown rule (plans.GraftExtensions / NanosRangeRewrite)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // day-level idempotent rewrites (SURVEY §2 S14) need dynamic overwrite
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // partition dirs are names, not numbers: keep day=20240301 a string
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // storage-partitioned joins: lets a DSv2 scan's KeyGroupedPartitioning
      // (the graft source's opt-in `clusterBy`) eliminate join shuffles
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // a join on (cluster_key, more...) is still co-partitioned when
      // both sides cluster on cluster_key — accept the subset match
      // instead of demanding join keys == partition keys
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
}

/** Reads of the driver-provided parquet tables (TESTDATA.md).
  *
  * Always `spark.read.parquet` + an explicit `select` at the call site so
  * Catalyst prunes columns down to the scan (`ReadSchema` in explain) and
  * pushes filters (`PushedFilters`). Mirrors the reference's hard-coded
  * 18-column projection (aristoteles/aristoteles.py:329-330) as a
  * discipline, not a schema.
  */
object Tables {
  /** Parquet footer schemas memoized per (app, file): the driver tables
    * are immutable inputs, and `spark.read.parquet` re-infers the
    * schema (a footer read + parquet-to-catalyst conversion) on EVERY
    * call — ~2 table reads per query x 221 queries x 2 bench passes of
    * pure repeated metadata work. A deployment holds exactly this in
    * its catalog (the warmup's GraftCatalog.register is the same
    * statement); memoizing the StructType and passing it via
    * `.schema(...)` skips the inference, changes nothing else about
    * the scan, and dies with the SparkContext. */
  private val schemaCache =
    new AppScopedCache[org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.getOrCompute(spark, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Two events layouts exist in the wild (the driver regenerated the
    * testdata between rounds): the CURRENT files store `ts` as standard
    * `timestamp[us]` with isAdjustedToUTC=false — which Spark would
    * otherwise infer as TIMESTAMP_NTZ, a type nothing downstream wants —
    * and the LEGACY files stored TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects by default (PARQUET_TYPE_ILLEGAL). Both confs are
    * runtime-settable, so set them here — not only in the session
    * builder — and let [[events]] branch on the footer schema. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val path = s"$dir/events.parquet"
    // memoized AFTER the two confs are set, so the cached schema is the
    // one those confs produce (LongType ts_ns on legacy files,
    // session-TZ timestamp on current ones)
    val schema = schemaCache.getOrCompute(spark, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** events with `ts` as session-TZ TimestampType, whatever the file
    * layout. Current layout: `ts` is already a microsecond timestamp —
    * use it natively (range predicates on it reach the scan as native
    * timestamp PushedFilters; no derived column needed). Legacy layout:
    * `ts` arrives as raw int64 nanos (LongType under the nanosAsLong
    * conf) — keep it as `ts_ns` and rebuild a microsecond `ts`
    * (floor-truncated; sub-microsecond detail is below every operator's
    * granularity), with NanosRangeRewrite conjoining pushable `ts_ns`
    * bounds onto `ts` filters. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = eventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` = exact long integer division; a double `/` would lose
        // precision on ~1.7e18-ns epoch values (53-bit mantissa).
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => raw
    }
  }

  /** Inclusive bounds on events.ts. On the native layout the constant
    * folds to a timestamp literal and reaches the parquet scan as a
    * PushedFilter directly; on the legacy layout NanosRangeRewrite
    * (plans/GraftExtensions) conjoins the equivalent raw `ts_ns` bounds
    * — either way the range prunes row groups, the difference between a
    * range read and a full scan at 100 TB. */
  def tsGte(timestamp: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    col("ts") >= to_timestamp(lit(timestamp))
  }
  def tsLte(timestamp: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    col("ts") <= to_timestamp(lit(timestamp))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** The documents table spread across the cluster BEFORE expensive
    * per-row compute (shingling, minhash signatures, n-gram windows —
    * higher-order-function chains that run interpreted, ~0.5 ms/doc).
    * The test corpus is one small parquet file with ONE row group, so
    * without this every such pipeline's map phase runs on a single
    * core (`maxPartitionBytes` cannot split inside a row group); at
    * 100 TB the input is thousands of files and the repartition of a
    * by-comparison-tiny doc table before a CPU-bound stage is still
    * the right trade. Hash on doc_id: deterministic assignment, even
    * spread. */
  /** An engine-built artifact parquet (IVF index, dedup index) read
    * with a memoized footer/partition schema — the same catalog-
    * metadata discipline as [[apply]]: these artifacts are written
    * once per (app, corpus) and appends never alter their schema, yet
    * every serve-path `spark.read.parquet` re-ran a one-task schema-
    * inference JOB per query (r19 StageProfile: 25-30 ms + a full AQE
    * job round each on knn_ivf_pq / dedup_incremental_indexed). */
  def artifactParquet(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.getOrCompute(spark, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def documentsParallel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
  }
}
