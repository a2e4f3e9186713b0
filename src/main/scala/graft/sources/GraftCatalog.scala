package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Catalog surface: every engine table registered as an EXTERNAL
  * parquet table in the session catalog, so users address data the way
  * they would on a production cluster — `spark.table("lineitem")`,
  * `spark.sql("SELECT ... FROM lineitem JOIN nation ...")` — instead of
  * raw paths. External tables carry no data copy: dropping one touches
  * only metadata, and the files stay where the lake put them.
  *
  * At 100 TB the catalog is what makes governance work (schema
  * evolution, statistics for the CBO via ANALYZE TABLE, bucketed table
  * specs for exchange-free joins — see operators/Bucketing). Locally it
  * is backed by the per-JVM Derby metastore; registration is
  * idempotent and metadata-only for external tables.
  */
object GraftCatalog {

  /** The engine's relational + extension tables (TESTDATA.md). `events`
    * is registered too; [[register]] sets the confs that make its `ts`
    * column read as session-TZ TimestampType on the current layout
    * (timestamp[us], isAdjustedToUTC=false) and as raw int64 nanos on
    * the legacy one (see graft.Tables.events for the branch). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every table over `dir` and return the names. A table
    * is (re-)created only when the session catalog lacks it or it
    * points at another file, so a repeat call issues no DDL and a
    * table dropped behind the session's back comes back. Table names
    * are session-global: a concurrent `register(otherDir)` can repoint
    * them at any time, so concurrent multi-corpus use needs external
    * coordination (or per-dir table names); the engine's own drivers
    * register one corpus per session. */
  def register(spark: SparkSession, dir: String): Seq[String] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val catalog = spark.sessionState.catalog
    val hadoopConf = spark.sessionState.newHadoopConf()
    def qualified(p: Path): java.net.URI = p.getFileSystem(hadoopConf).makeQualified(p).toUri
    TableNames.foreach { name =>
      val path = graft.Tables.path(dir, name)
      val id = TableIdentifier(name)
      val current = if (catalog.tableExists(id))
        catalog.getTableMetadata(id).storage.locationUri.map(u => qualified(new Path(u)))
      else None
      if (!current.contains(qualified(new Path(path)))) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.catalog.createTable(name, "parquet", Map("path" -> path))
      }
    }
    TableNames
  }

  /** Table + column statistics for the cost-based optimizer: row
    * counts, sizes, per-column NDV/min/max/null counts. At 100 TB this
    * is what lets Catalyst order multi-way joins by selectivity and
    * pick broadcast sides from facts instead of thresholds; refreshed
    * after each ingest wave, it is metadata-sized work. */
  def analyze(spark: SparkSession, tables: Seq[String] = TableNames): Unit =
    tables.foreach { t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }

  /** A query surface proof: plain SQL over catalog tables only (no
    * paths anywhere) — customers per nation with total balances. */
  def customersPerNationSql(spark: SparkSession, dir: String): DataFrame = {
    register(spark, dir)
    spark.sql(
      """SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }
}
