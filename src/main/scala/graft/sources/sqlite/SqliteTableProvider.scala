package graft.sources.sqlite

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.SerializableHadoopConf

/** Spark DataSource V2 for SQLite database files — the reference's real
  * ingest format (aristoteles/aristoteles.py:229-230 reads wview SQLite
  * via `sqlite3.connect(db_path)`; :340-345 is the `archive`-table range
  * scan this source reproduces as a distributed scan).
  *
  *   spark.read.format("sqlite").option("table", "archive").load(path)
  *
  * Scale design, in order of importance at 100 TB:
  *  - **Partitioned read of a single file**: the table b-tree's root
  *    children become InputPartitions, so a multi-GB station DB is
  *    decoded by many executor cores concurrently (a JDBC reader is one
  *    connection = one task).
  *  - **Rowid-range pushdown**: wview's `dateTime INTEGER PRIMARY KEY`
  *    aliases the rowid = the table b-tree key, so `dateTime BETWEEN a
  *    AND b` prunes whole subtrees at plan time (partitions outside the
  *    range are never created) and descends only intersecting children
  *    at read time — the SQLite-side analog of parquet row-group
  *    pruning.
  *  - **Column pruning**: unneeded record slots are width-skipped during
  *    decode, never materialized.
  *
  * Types map by declared affinity: INTEGER->Long, REAL->Double,
  * TEXT->String, BLOB->Binary (SQLite cells are dynamically typed;
  * values are coerced to the declared affinity, mirroring what the
  * reference's `dtype=float` coercion does at :346).
  */
class SqliteTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sqlite"

  override def supportsExternalMetadata(): Boolean = true

  private def opt(options: CaseInsensitiveStringMap, key: String, dflt: String): String =
    Option(options.get(key)).getOrElse(dflt)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("sqlite source requires a path"))
    val table = opt(options, "table", "archive")
    val files = SqlitePaths.resolve(path, SqliteTableProvider.hadoopConf())
    require(files.nonEmpty, s"no .sdb/.db files under $path")
    val f = SqliteFile.open(files.head._2, SqliteTableProvider.hadoopConf())
    val base = try {
      val (cols, _) = SqliteFile.parseCreateTable(f.tableSql(table))
      StructType(cols.map { case (name, decl) => StructField(name, SqliteTableProvider.sparkType(decl)) })
    } finally f.close()
    // optional derived column: which station (file) a row came from —
    // the multi-file/streaming analog of the parquet source's
    // _metadata.file_path derivation in IncrementalIngest.source
    Option(options.get("stationColumn"))
      .fold(base)(c => base.add(StructField(c, StringType, nullable = false)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new SqliteTable(
      Option(opts.get("path")).getOrElse(throw new IllegalArgumentException("path required")),
      opt(opts, "table", "archive"), schema, Option(opts.get("stationColumn")),
      Option(opts.get("maxRowsPerTrigger")).map(_.toLong))
  }
}

/** Path resolution shared by batch, streaming, and schema inference:
  * a single `.sdb`/`.db` file, or a directory of them (one per
  * station, the reference's layout — aristoteles.py:201-205). */
object SqlitePaths {
  import org.apache.hadoop.fs.Path

  def stationOf(fileName: String): String =
    fileName.replaceAll("\\.(sdb|db)$", "")

  /** (station, filePath) pairs, sorted by station for determinism. */
  def resolve(path: String, conf: Configuration): Seq[(String, String)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filter(q => q.getName.endsWith(".sdb") || q.getName.endsWith(".db"))
        .map(q => (stationOf(q.getName), q.toString))
        .sortBy(_._1).toSeq
    else Seq((stationOf(p.getName), path))
  }
}

object SqliteTableProvider {
  /** The session's hadoop configuration when one is active on this
    * thread (always true on the driver, where all these call sites
    * run) — a bare `new Configuration()` DISCARDS every
    * `spark.hadoop.*` setting (s3a credentials, kerberos), breaking
    * the same-reader-on-file/hdfs/s3a promise in the class doc. */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** SQLite type-affinity rules (fileformat2.html §3.1 / lang docs),
    * reduced to the four storage classes we surface. */
  def sparkType(decl: String): DataType = {
    val d = decl.toUpperCase
    if (d.contains("INT")) LongType
    else if (d.contains("CHAR") || d.contains("CLOB") || d.contains("TEXT")) StringType
    else if (d.contains("BLOB") || d.isEmpty) BinaryType
    else DoubleType // REAL / FLOA / DOUB / NUMERIC affinity all read as double
  }
}

class SqliteTable(path: String, table: String, tableSchema: StructType,
    stationCol: Option[String] = None, maxRowsPerTrigger: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = s"sqlite:$path#$table"
  // columns() defaults to converting this; the non-deprecated variant
  // needs CatalogV2Util which is private[sql].
  @annotation.nowarn("cat=deprecation")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SqliteScanBuilder(path, table, tableSchema, stationCol, maxRowsPerTrigger)
}

class SqliteScanBuilder(path: String, table: String, fullSchema: StructType,
    stationCol: Option[String] = None, maxRowsPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggs: Seq[SqliteAgg] = Seq.empty
  private var lo: Long = Long.MinValue
  private var hi: Long = Long.MaxValue

  private lazy val files: Seq[(String, String)] =
    SqlitePaths.resolve(path, SqliteTableProvider.hadoopConf())

  // the rowid-alias column name, if the table has one (wview: dateTime)
  private lazy val rowidAliasName: Option[String] = {
    val f = SqliteFile.open(files.head._2, SqliteTableProvider.hadoopConf())
    try {
      val (cols, idx) = SqliteFile.parseCreateTable(f.tableSql(table))
      if (idx >= 0) Some(cols(idx)._1) else None
    } finally f.close()
  }

  /** Accept =, <, <=, >, >= on the rowid alias: each tightens [lo, hi].
    * The b-tree range scan is exact on inclusive bounds, so these need
    * no Spark-side re-evaluation. Everything else stays residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val alias = rowidAliasName.orNull
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
      case _ => None
    }
    val (accepted, residual) = filters.partition {
      case EqualTo(a, v) if a.equalsIgnoreCase(alias) => asLong(v).isDefined
      case GreaterThan(a, v) if a.equalsIgnoreCase(alias) => asLong(v).isDefined
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(alias) => asLong(v).isDefined
      case LessThan(a, v) if a.equalsIgnoreCase(alias) => asLong(v).isDefined
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase(alias) => asLong(v).isDefined
      case _ => false
    }
    // rowid > Long.MaxValue / < Long.MinValue match nothing: l+1 / l-1
    // would WRAP and silently turn "empty" into "everything", so those
    // extremes short-circuit to an empty range (lo > hi) instead
    def emptyRange(): Unit = { lo = Long.MaxValue; hi = Long.MinValue }
    accepted.foreach {
      case EqualTo(_, v) => asLong(v).foreach { l => lo = math.max(lo, l); hi = math.min(hi, l) }
      case GreaterThan(_, v) => asLong(v).foreach { l =>
        if (l == Long.MaxValue) emptyRange() else lo = math.max(lo, l + 1) }
      case GreaterThanOrEqual(_, v) => asLong(v).foreach { l => lo = math.max(lo, l) }
      case LessThan(_, v) => asLong(v).foreach { l =>
        if (l == Long.MinValue) emptyRange() else hi = math.min(hi, l - 1) }
      case LessThanOrEqual(_, v) => asLong(v).foreach { l => hi = math.min(hi, l) }
      case _ =>
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MIN/MAX of the rowid alias answer from O(tree-depth) page reads
    * (leftmost/rightmost descent — the b-tree form of the reference's
    * `ORDER BY dateTime LIMIT 1`, aristoteles.py:240); COUNT(*) walks
    * leaf page HEADERS without decoding a single record (:303-306).
    * Complete pushdown: the scan returns the final aggregated row. */
  /** Complete only for a single file; a directory fan-in pushes
    * PARTIAL aggregates (one MIN/MAX/COUNT row per file, still from
    * b-tree descent / leaf headers) and Spark's final aggregation
    * combines them — COUNT is rewritten to a SUM of the partials by
    * the engine, MIN/MAX re-minimized. Fleet-wide counts never decode
    * a record. */
  override def supportCompletePushDown(aggregation: aggregate.Aggregation): Boolean =
    translateAggs(aggregation).isDefined && files.lengthCompare(1) == 0

  override def pushAggregation(aggregation: aggregate.Aggregation): Boolean =
    translateAggs(aggregation) match {
      case Some(aggs) => pushedAggs = aggs; true
      case None => false
    }

  private def translateAggs(aggregation: aggregate.Aggregation): Option[Seq[SqliteAgg]] = {
    if (aggregation.groupByExpressions.nonEmpty) return None
    // the derived station column isn't a b-tree answer; aggregations
    // touching it fall back to the row scan
    if (stationCol.isDefined) return None
    val alias = rowidAliasName.orNull
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _ => None
      }
    val out = aggregation.aggregateExpressions.toSeq.map {
      case m: aggregate.Min => fieldOf(m.column).filter(_.equalsIgnoreCase(alias)).map(_ => SqliteAgg.MinRowid)
      case m: aggregate.Max => fieldOf(m.column).filter(_.equalsIgnoreCase(alias)).map(_ => SqliteAgg.MaxRowid)
      case _: aggregate.CountStar => Some(SqliteAgg.CountStar)
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  override def build(): Scan =
    if (pushedAggs.nonEmpty) {
      // output schema is positional: one long per pushed aggregate
      val aggSchema = StructType(pushedAggs.zipWithIndex.map {
        case (SqliteAgg.CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
        case (a, i) => StructField(s"${a.toString.toLowerCase}_$i", LongType)
      })
      new SqliteAggScan(files.map(_._2), table, pushedAggs, lo, hi, aggSchema)
    } else new SqliteScan(path, files, table, fullSchema, required, pushed, lo, hi,
      stationCol, maxRowsPerTrigger)
}

sealed trait SqliteAgg extends Serializable
object SqliteAgg {
  case object MinRowid extends SqliteAgg
  case object MaxRowid extends SqliteAgg
  case object CountStar extends SqliteAgg
}

/** Scan serving a pushed aggregation: one partition PER FILE, one
  * partial row each, page-header-level work instead of a table scan
  * (complete for a single file; Spark's final aggregation combines the
  * per-file partials on a directory fan-in). */
class SqliteAggScan(paths: Seq[String], table: String, aggs: Seq[SqliteAgg],
                    lo: Long, hi: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"SqliteAggScan table=$table files=${paths.length} aggs=${aggs.mkString(",")} " +
    s"range=[${if (lo == Long.MinValue) "-inf" else lo}, ${if (hi == Long.MaxValue) "+inf" else hi}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.toArray.map(p => SqliteAggPartition(p, table, aggs, lo, hi): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = SerializableHadoopConf.broadcast(org.apache.spark.sql.SparkSession.active)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[SqliteAggPartition]
        new PartitionReader[InternalRow] {
          private var done = false
          private var row: InternalRow = _
          override def next(): Boolean = {
            if (done) return false
            val f = SqliteFile.open(part.path, conf.value.value)
            try {
              val root = f.tableRoot(part.table)
              val vals: Seq[Any] = part.aggs.map {
                case SqliteAgg.MinRowid => f.minRowid(root, part.lo, part.hi).orNull
                case SqliteAgg.MaxRowid => f.maxRowid(root, part.lo, part.hi).orNull
                case SqliteAgg.CountStar => f.countRows(root, part.lo, part.hi)
              }
              row = InternalRow.fromSeq(vals.toIndexedSeq)
            } finally f.close()
            done = true
            true
          }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
      }
    }
  }
}

case class SqliteAggPartition(path: String, table: String, aggs: Seq[SqliteAgg],
                              lo: Long, hi: Long) extends InputPartition

class SqliteScan(rootPath: String, files: Seq[(String, String)], table: String,
                 fullSchema: StructType, required: StructType,
                 pushed: Array[Filter], lo: Long, hi: Long,
                 stationCol: Option[String],
                 maxRowsPerTrigger: Option[Long] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"SqliteScan table=$table files=${files.length} " +
    s"range=[${if (lo == Long.MinValue) "-inf" else lo}, " +
    s"${if (hi == Long.MaxValue) "+inf" else hi}] PushedFilters: ${pushed.mkString("[", ", ", "]")}"
  override def toBatch: Batch = this

  /** Every file's pruned page groups become partitions (see
    * [[SqliteScan.pageGroups]]); a multi-station directory fans in as
    * one distributed scan. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SqliteTableProvider.hadoopConf()
    files.toArray.flatMap { case (station, p) =>
      SqliteScan.pageGroups(p, table, lo, hi, conf).map(pages =>
        SqlitePartition(p, table, pages, lo, hi, station, stationCol): InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteReaderFactory(fullSchema, required,
      SerializableHadoopConf.broadcast(org.apache.spark.sql.SparkSession.active))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SqliteMicroBatchStream(rootPath, table, fullSchema, required, lo, hi,
      stationCol, maxRowsPerTrigger)
}

object SqliteScan {
  /** One page group per partition-to-be: the table b-tree root's
    * children, pruned to those intersecting [lo, hi] at PLAN time,
    * grouped so partition count stays O(32-ish per file). A leaf root
    * (small DB) is a single group. */
  def pageGroups(path: String, table: String, lo: Long, hi: Long,
      conf: Configuration): Array[Seq[Int]] = {
    val f = SqliteFile.open(path, conf)
    try {
      val root = f.tableRoot(table)
      val kids = f.interiorChildren(root)
      if (kids.isEmpty) Array(Seq(root))
      else {
        var prevKey = Long.MinValue
        val alive = kids.filter { case (_, maxKey) =>
          val keep = maxKey >= lo && prevKey < hi
          prevKey = maxKey
          keep
        }
        val targetParts = 32
        val perGroup = math.max(1, math.ceil(alive.length.toDouble / targetParts).toInt)
        alive.grouped(perGroup).map(_.map(_._1)).toArray
      }
    } finally f.close()
  }
}

case class SqlitePartition(path: String, table: String, pages: Seq[Int],
                           lo: Long, hi: Long,
                           station: String = "",
                           stationCol: Option[String] = None) extends InputPartition

/** Reads the scan's partitions with the DRIVER session's Hadoop
  * configuration (s3a credentials, kerberos — everything
  * spark.hadoop.* carries), broadcast once per scan
  * ([[SerializableHadoopConf.broadcast]]). */
class SqliteReaderFactory(fullSchema: StructType, required: StructType,
    conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SqlitePartition]
    new SqlitePartitionReader(p, fullSchema, required, conf.value.value)
  }
}

class SqlitePartitionReader(p: SqlitePartition, fullSchema: StructType,
    required: StructType, hconf: Configuration)
    extends PartitionReader[InternalRow] {

  private val file = SqliteFile.open(p.path, hconf)
  private val (cols, rowidAlias) = SqliteFile.parseCreateTable(file.tableSql(p.table))
  // source column index -> output slot (-1 = skip): column pruning.
  // Case-insensitive like Spark's own resolver: a user-supplied
  // schema ("datetime" vs the file's "dateTime") must map, not
  // silently null the column
  private val wanted: Array[Int] = cols.map(_._1).zipWithIndex.map { case (n, _) =>
    required.fieldNames.indexWhere(_.equalsIgnoreCase(n))
  }.toArray
  private val outTypes: Array[DataType] = required.fields.map(_.dataType)

  // derived station column's output slot (-1 = not requested)
  private val stationSlot: Int =
    p.stationCol.map(c => required.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
      .getOrElse(-1)
  private val stationValue: UTF8String = UTF8String.fromString(p.station)

  private val rows: Iterator[(Long, Array[Byte])] =
    p.pages.iterator.flatMap(pg => file.scanTable(pg, p.lo, p.hi))
  private val buf = new Array[Any](required.length)
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!rows.hasNext) return false
    val (rowid, payload) = rows.next()
    java.util.Arrays.fill(buf.asInstanceOf[Array[AnyRef]], null)
    file.decodeRecord(payload, rowid, wanted, rowidAlias, buf)
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < vals.length) {
      vals(i) = coerce(buf(i), outTypes(i))
      i += 1
    }
    if (stationSlot >= 0) vals(stationSlot) = stationValue
    current = InternalRow.fromSeq(vals.toIndexedSeq)
    true
  }

  /** Dynamic storage class -> declared affinity, the engine-side twin of
    * the reference's `np.asarray(..., dtype=float)` coercion (:346). */
  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (l: Long, LongType) => l
    case (l: Long, DoubleType) => l.toDouble
    case (d: Double, DoubleType) => d
    case (d: Double, LongType) => d.toLong
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (l: Long, StringType) => UTF8String.fromString(l.toString)
    case (d: Double, StringType) => UTF8String.fromString(d.toString)
    case (s: String, LongType) => try java.lang.Long.parseLong(s.trim) catch { case _: NumberFormatException => null }
    case (s: String, DoubleType) => try java.lang.Double.parseDouble(s.trim) catch { case _: NumberFormatException => null }
    case _ => null
  }

  override def get(): InternalRow = current
  override def close(): Unit = file.close()
}
