package graft.sources.grafttable

import java.util

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CommitLog
import graft.plans.SerializableHadoopConf
import graft.sources.ParquetRead

/** Batch DSv2 source over a commit-log table — the `spark.read`
  * surface that makes the log's data skipping AUTOMATIC:
  *
  * {{{
  *   spark.read.format("graft")
  *     .option("versionAsOf", "3")            // or timestampAsOf
  *     .load(tablePath)
  *     .filter($"user_id" === 42 && $"score" >= 0.5)
  * }}}
  *
  * Catalyst pushes the filter's conjuncts into the scan
  * ([[GraftScanBuilder.pushFilters]]); planning translates them into
  * the SAME [[CommitLog.SkipPreds]] the explicit `scanRange` /
  * `scanEquals` APIs use — numeric comparisons become zone legs,
  * equality on keyed columns becomes a Bloom probe — so whole FILES
  * the logged metadata excludes are never opened, without the caller
  * naming a column. Inside each surviving file Spark's parquet reader
  * skips whole ROW GROUPS whose footer statistics exclude the pushed
  * filters; its row index keeps deletion-vector positions exact across
  * skips. Every pushed filter is also RETURNED to Spark as a
  * residual, so the scan's result is identical to an unpruned
  * scan-and-filter no matter how conservative the metadata is.
  *
  * Snapshot isolation: the version is pinned when the table object is
  * created (load time) — concurrent commits are invisible to an
  * already-constructed DataFrame, exactly like [[CommitLog.read]].
  *
  * Deletion vectors ride the partitions: small vectors inline as
  * bytes, sidecars as paths the executor loads through
  * [[graft.plans.DvLoad]]'s cache — the driver never materializes
  * sidecar bitmaps.
  *
  * Files decode through [[ParquetRead]], Spark's own parquet reader
  * with the session's Hadoop conf: column pruning reaches the parquet
  * pages, and a count-style empty projection reads no column pages.
  *
  * At 100 TB this is the read path a cluster user wants: file-level
  * skipping from one metadata resolve (checkpoint parquet domain, no
  * listing), row-group skipping from footers already being read, and
  * a declared-schema null-fill for pre-evolution files — while the
  * `graft-changes` sibling serves the same table incrementally. */
class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft: .load(tablePath) is required"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = pathOf(options)
    val asOf = GraftTableProvider.pinVersion(spark, path, options)
    GraftTableProvider.schemaAt(spark, path, asOf)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    val spark = SparkSession.active
    // pin ONCE here and re-resolve the schema at that exact pin: a
    // commit landing between Spark's inferSchema call and this one
    // must not serve the new version's files through the old schema
    // (silent null-drop of a just-evolved column). A passed schema
    // (spark.read.schema(...) — the provider advertises
    // supportsExternalMetadata) is HONORED when it is a subset of the
    // committed schema with identical types (the write path's gate):
    // the read then serves exactly those columns. Anything else —
    // unknown column, type mismatch — refuses loudly rather than
    // silently substituting the committed schema. For empty or
    // unschematized targets the passed schema survives as-is (the
    // write-only path).
    val pinned = GraftTableProvider.pinVersion(spark, path, options)
    val committed = scala.util.Try(
      GraftTableProvider.schemaAt(spark, path, pinned)).toOption
      .filter(_.nonEmpty)
    val resolved = committed match {
      case None => schema
      case Some(c) if schema.isEmpty || schema == c => c
      case Some(c) =>
        val decl = c.fields.map(f => f.name -> f.dataType).toMap
        schema.fields.foreach { f =>
          decl.get(f.name) match {
            case None => throw new IllegalArgumentException(
              s"graft: user schema names column ${f.name} which $path " +
                s"does not declare at version $pinned " +
                s"(declared: ${c.fieldNames.mkString(", ")})")
            case Some(dt) if dt != f.dataType =>
              throw new IllegalArgumentException(
                s"graft: user schema declares ${f.name} as " +
                  s"${f.dataType.catalogString} but $path declares " +
                  s"${dt.catalogString} at version $pinned")
            case _ => ()
          }
        }
        // re-attach COLUMN MAPPING metadata the user's hand-written
        // subset schema lacks — without it a renamed column would
        // silently null-fill instead of resolving its physical name
        import graft.operators.ColumnMapping
        if (!ColumnMapping.hasMapping(c)) schema
        else StructType(schema.fields.map(f =>
          c.fields.find(_.name == f.name)
            .map(cf => ColumnMapping.withPhysical(f, ColumnMapping.physical(cf)))
            .getOrElse(f)))
    }
    new GraftTable(path, resolved, pinned)
  }
}

object GraftTableProvider {
  /** Resolve and PIN the version this read serves: explicit
    * `versionAsOf`, `timestampAsOf` (epoch millis or ISO-8601
    * instant — the maintenance CLI's exact contract), else the
    * latest version at load time. */
  private[grafttable] def pinVersion(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Long = {
    val v = Option(options.get("versionAsOf")).map(_.toLong)
    val ts = Option(options.get("timestampAsOf")).map { s =>
      val millis = CommitLog.parseInstantMillis(s)
        .getOrElse(throw new IllegalArgumentException(
          s"graft: unparsable timestampAsOf '$s' (epoch millis or ISO-8601)"))
      CommitLog.versionAtTimestamp(spark, path, millis)
    }
    (v, ts) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft: versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(x), None) =>
        // validate like the SQL catalog path: a version beyond the
        // head (or vacuumed away) must refuse, not silently serve the
        // latest snapshot labeled as x
        val existing = CommitLog.versions(spark, path)
        require(existing.contains(x),
          s"graft: versionAsOf $x does not exist at $path " +
            s"(versions: ${existing.headOption.getOrElse("-")}..${existing.lastOption.getOrElse("-")})")
        x
      case (None, Some(x)) => x
      case (None, None) => CommitLog.latestVersion(spark, path)
    }
  }

  /** Declared schema at the pinned version, else the newest live
    * file's footer (same fallback as the change feed). A brand-new
    * table (version -1, write-only targets) has no schema yet — empty
    * struct; ACCEPT_ANY_SCHEMA lets the first append through and the
    * commit log's own declared-schema gate takes over from there. */
  private[grafttable] def schemaAt(spark: SparkSession, path: String,
      version: Long): StructType =
    if (version < 0) new StructType()
    else {
      // one footer read per version, kept with the version's snapshot —
      // without it every .load() of an undeclared table pays a one-task
      // schema-inference Spark job (twice: inferSchema+getTable)
      val s = CommitLog.resolve(spark, path, Some(version))
      s.declared.getOrElse {
        require(s.live.nonEmpty,
          s"graft: no live files in $path at version $version and no declared schema")
        s.footerSchema.get
      }
    }
}

class GraftTable(tablePath: String, tableSchema: StructType, version: Long,
    acceptAnySchema: Boolean = true)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft:$tablePath@v$version"
  override def schema(): StructType = tableSchema

  /** `_file` provenance for SELECTs and the row-level runtime group
    * filter's join key. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileMetaColumn)

  /** SQL UPDATE / MERGE INTO (and COW DELETE where the metadata path
    * can't express the condition) — see [[GraftRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(tablePath, info.command())

  // ---- SQL DML: DELETE FROM graft.`path` [WHERE ...] -----------------
  // Metadata-only, the Delta posture: a translatable WHERE becomes one
  // deletion-vector commit (no data file rewritten); an unconditional
  // delete — and SQL TRUNCATE TABLE — is one remove-all commit. Both
  // stay time-travelable until vacuum. Conditions this surface can't
  // express row-identically (arithmetic, functions, subqueries) are
  // REFUSED via canDeleteWhere, never approximated.
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(p => GraftDml.translate(p).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val spark = SparkSession.active
    if (predicates.isEmpty || predicates.forall(_.isInstanceOf[AlwaysTrue])) {
      CommitLog.truncate(spark, tablePath)
    } else {
      val cond = predicates.map(p => GraftDml.translate(p).getOrElse(
        throw new UnsupportedOperationException(
          s"graft: cannot DELETE WHERE $p — condition doesn't translate " +
          "to a row-identical predicate"))).reduce(_ && _)
      CommitLog.deleteWhere(spark, tablePath, cond)
    }
  }

  override def truncateTable(): Boolean = {
    CommitLog.truncate(SparkSession.active, tablePath)
    true
  }
  // ACCEPT_ANY_SCHEMA (path-based reads/writes only): Spark's v2 write
  // validation is skipped in favor of the commit log's OWN declared-
  // schema gate (stageWithMeta), whose subset-with-identical-types
  // contract is stricter about types and looser about omitted columns
  // (they null-fill) than Spark's check. The CATALOG path constructs
  // the table WITHOUT it: there the schema is always known, Spark's
  // positional alignment + ANSI casts serve SQL INSERT natively, and —
  // decisive — ACCEPT_ANY_SCHEMA marks the relation skipSchemaResolution,
  // which blocks row-level command alignment and with it SQL
  // UPDATE/MERGE entirely.
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, // readStream.format("graft")
      TableCapability.BATCH_WRITE, // routes DataFrameWriter to the v2 plan
      TableCapability.V1_BATCH_WRITE, // ...whose strategy picks the V1Write exec
      TableCapability.STREAMING_WRITE, // writeStream.format("graft")
      TableCapability.TRUNCATE)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tablePath, version, tableSchema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tablePath, info)
}

/** Batch writes through the V1 fallback (Delta's original approach):
  * the incoming DataFrame goes to [[CommitLog.append]] /
  * [[CommitLog.overwrite]] WHOLE, so staging uses Spark's native
  * vectorized parquet writer and the log's single-commit atomicity,
  * stats publication and schema gate all apply unchanged:
  *
  * {{{
  *   df.write.format("graft").mode("append")
  *     .option("statsCols", "ts,score")   // zone maps in the same commit
  *     .option("bloomCols", "doc_id")     // bloom filters likewise
  *     .save(tablePath)                   // mode("overwrite") = truncate
  * }}} */
class GraftWriteBuilder(tablePath: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  private def csv(key: String): Seq[String] =
    Option(info.options.get(key)).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private def intOpt(key: String, dflt: Int): Int =
    Option(info.options.get(key)).map(_.toInt).getOrElse(dflt)

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (incoming: org.apache.spark.sql.DataFrame, _: Boolean) => {
        val spark = incoming.sparkSession
        // SQL INSERT resolves BY POSITION, and ACCEPT_ANY_SCHEMA means
        // Spark hands us the query's own output names — VALUES yields
        // the auto-generated col1, col2, ... . Only THAT pattern
        // aligns positionally to the table's columns: a DataFrameWriter
        // append (or SQL SELECT) carrying real-but-wrong names still
        // hits the declared-schema gate loudly instead of being
        // silently renamed.
        val tableNames: Option[Seq[String]] =
          CommitLog.tableSchema(spark, tablePath)
            .map(_.fields.map(_.name).toSeq)
            .orElse(scala.util.Try {
              val v = CommitLog.latestVersion(spark, tablePath)
              if (v < 0) None
              else Some(GraftTableProvider.schemaAt(spark, tablePath, v)
                .fields.map(_.name).toSeq)
            }.toOption.flatten.filter(_.nonEmpty))
        val positional = incoming.columns.zipWithIndex.forall {
          case (c, i) => c.equalsIgnoreCase(s"col${i + 1}")
        }
        val aligned = tableNames match {
          case Some(names) if positional &&
              names.length == incoming.columns.length &&
              incoming.columns.toSet != names.toSet =>
            incoming.toDF(names: _*)
          case _ => incoming
        }
        // ACCEPT_ANY_SCHEMA also skips Spark's insert-time cast, so a
        // SQL literal arrives as its own type (0.5 is decimal(1,1)).
        // Apply the casts Spark's own v2 insert would (ANSI store
        // assignment: numeric<->numeric with runtime overflow checks,
        // no silent string coercions); anything outside that policy is
        // left for the declared-schema gate to refuse loudly.
        val data = CommitLog.tableSchema(spark, tablePath) match {
          case Some(d) =>
            val declared = d.fields.map(f => f.name -> f.dataType).toMap
            import org.apache.spark.sql.catalyst.expressions.Cast
            import org.apache.spark.sql.functions.col
            def castOf(f: org.apache.spark.sql.types.StructField) =
              declared.get(f.name) match {
                case Some(t) if t != f.dataType && Cast.canANSIStoreAssign(f.dataType, t) =>
                  Some(col(f.name).cast(t).as(f.name))
                case _ => None
              }
            if (aligned.schema.fields.forall(castOf(_).isEmpty)) aligned
            else aligned.select(aligned.schema.fields.map(f =>
              castOf(f).getOrElse(col(f.name))): _*)
          case None => aligned
        }
        val (statsCols, bloomCols) = (csv("statsCols"), csv("bloomCols"))
        if (overwrite) {
          require(statsCols.isEmpty && bloomCols.isEmpty,
            "graft: statsCols/bloomCols are append-only options " +
            "(overwrite stages without metadata; run ZoneMaps/optimize after)")
          CommitLog.overwrite(spark, tablePath, data)
        } else if (bloomCols.nonEmpty) {
          CommitLog.appendWithBloom(spark, tablePath, data,
            bloomCols = bloomCols, statsCols = statsCols)
        } else if (statsCols.nonEmpty) {
          CommitLog.appendWithStats(spark, tablePath, data, statsCols)
        } else CommitLog.append(spark, tablePath, data)
        ()
      }
    // writeStream.format("graft"): exactly-once per-epoch commits with
    // inline stats/blooms — see [[GraftStreamingWrite]]. Append mode
    // appends; outputMode Complete arrives as truncate() = replace.
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(tablePath, info.schema(),
        csv("statsCols"), csv("bloomCols"),
        intOpt("bloomBits", 1 << 16), intOpt("bloomK", 5),
        truncateEachEpoch = overwrite,
        // the engine's queryId is stable across restarts from the same
        // checkpoint — the writer identity the replay ledger keys on
        queryId = info.queryId())
  }
}

/** Accepts range/equality conjuncts for metadata skipping but claims
  * NONE as fully handled — every filter is returned as residual, so
  * Spark re-evaluates each predicate over the surviving rows and
  * conservative metadata can never change results. */
class GraftScanBuilder(tablePath: String, version: Long, full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[InternalRow])] = None

  // COLUMN MAPPING: zones/blooms/file columns are keyed by PHYSICAL
  // names; the query speaks logical ones (identity when unmapped)
  private def physOf(c: String): String =
    graft.operators.ColumnMapping.physicalName(full, c)

  /** MIN/MAX/COUNT answered from the LOG's zone maps — zero file
    * opens, the metadata the cluster's driver already holds. Sound
    * only when: grouping is absent OR by ONE column whose zone is a
    * POINT (min == max) in EVERY live file — the clustered/partition-
    * like layout where group membership is decidable per file from
    * metadata alone (Spark additionally only pushes aggregates when
    * every filter was fully consumed, and this source keeps all
    * filters residual — so an aggregate only reaches here on an
    * UNFILTERED scan); every live file logs a zone for the column; no
    * deletion vector exists at this version for MIN/MAX (a DV could
    * have deleted the extremal row; COUNT subtracts DV cardinality
    * exactly); and the zone's double representation is exact for the
    * column's type (int/date/float/double always; long only below
    * 2^53 — a zone AT 2^53 cannot be distinguished from a rounded
    * 2^53+1, so it falls back). Anything else declines and the
    * ordinary scan path serves. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAggs(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAggs(agg) match {
      case Some(r) => aggResult = Some(r); true
      case None => false
    }

  private sealed trait ZoneAgg
  private case class MinOf(c: String) extends ZoneAgg
  private case class MaxOf(c: String) extends ZoneAgg
  private case object RowCount extends ZoneAgg

  private def translateAggs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _ => None
      }
    // grouping: absent, or plain columns — whether every live file
    // stores each as a point zone is checked once the snapshot
    // resolves (bounded: a grouping wider than 8 columns declines)
    val groupCols: Seq[String] = {
      val cols = agg.groupByExpressions.toSeq.map(fieldOf(_).filter(exactType))
      if (!cols.forall(_.isDefined) || cols.length > 8) return None
      cols.flatten
    }
    val wanted: Seq[Option[ZoneAgg]] = agg.aggregateExpressions.toSeq.map {
      case m: Min => fieldOf(m.column).map(MinOf)
      case m: Max => fieldOf(m.column).map(MaxOf)
      case _: CountStar => Some(RowCount)
      case _ => None
    }
    if (!wanted.forall(_.isDefined)) return None
    val aggsW = wanted.flatten
    // exact-in-zone-double column types only for min/max
    val ok = aggsW.forall {
      case MinOf(c) => exactType(c)
      case MaxOf(c) => exactType(c)
      case RowCount => true
    }
    if (!ok) return None
    val spark = SparkSession.active
    val files = CommitLog.snapshot(spark, tablePath, Some(version))
    val liveDvFiles = CommitLog
      .deletionVectorRefs(spark, tablePath, Some(version)).keySet
      .intersect(files.toSet)
    // MIN/MAX cannot survive a deletion vector (it may have deleted
    // the extremum); COUNT(*) can — deleted rows subtract exactly
    if (liveDvFiles.nonEmpty && aggsW.exists {
      case RowCount => false
      case _ => true
    }) return None
    val zones = CommitLog.fileStats(spark, tablePath, Some(version))

    // answers over a FILE SUBSET (the whole snapshot, or one group's
    // files); Some(None) = NULL result, None = cannot serve
    def extremum(sub: Seq[String], c: String, isMin: Boolean): Option[Option[Double]] = {
      if (sub.isEmpty) return Some(None)
      val perFile = sub.map(f => zones.get(f).flatMap(_.get(physOf(c))))
      if (perFile.exists(_.isEmpty)) return None // un-statted file
      val vals = perFile.flatten.map(t => if (isMin) t._1 else t._2)
      if (vals.exists(_.isNaN)) return None
      val v = if (isMin) vals.min else vals.max
      val isLong = full.fields.find(_.name == c).exists(_.dataType == LongType)
      if (isLong && math.abs(v) >= 9007199254740992.0) return None // 2^53
      Some(Some(v))
    }
    def totalRows(sub: Seq[String]): Option[Option[Double]] = {
      // every live file must carry the reserved row-count stat; each
      // count is an exact-in-double integral by construction (< 2^53
      // rows/file), and the SUM must stay exact too
      val perFile = sub.map(f =>
        zones.get(f).flatMap(_.get(CommitLog.RowCountStat)).map(_._1))
      if (perFile.exists(_.isEmpty)) return None
      var total = perFile.flatten.sum
      if (total.isNaN || total >= 9007199254740992.0) return None
      val dvHere = liveDvFiles.intersect(sub.toSet)
      if (dvHere.nonEmpty) {
        // DV-exact count: subtract each vector's popcount. Decoding
        // happens on the driver, so bound the file set — beyond it the
        // footer-based count path (also DV-exact) serves instead.
        if (liveDvFiles.size > 64) return None
        val dvs = CommitLog.deletionVectors(spark, tablePath, Some(version))
        dvHere.foreach { f =>
          total -= CommitLog.dvCardinality(dvs(f)).toDouble
        }
      }
      Some(Some(total))
    }

    def dtypeOf(c: String) = full.fields.find(_.name == c).get.dataType
    def box(dt: org.apache.spark.sql.types.DataType, v: Double): Any = dt match {
      case IntegerType | DateType => Int.box(v.toInt)
      case LongType => Long.box(v.toLong)
      case FloatType => Float.box(v.toFloat)
      case DoubleType => Double.box(v)
    }
    val aggSchema = StructType(aggsW.zipWithIndex.map {
      case (MinOf(c), i) => StructField(s"min_${c}_$i", dtypeOf(c), nullable = true)
      case (MaxOf(c), i) => StructField(s"max_${c}_$i", dtypeOf(c), nullable = true)
      case (RowCount, i) => StructField(s"count_$i", LongType, nullable = false)
    })
    // one output row's agg values over a file subset. Explicit boxing
    // per branch: bare numeric branches would unify under Scala's weak
    // conformance to Double, silently widening the Long/Int values
    // back into doubles inside the Any slot
    def valuesFor(sub: Seq[String]): Option[Array[Any]] = {
      val results = aggsW.map {
        case MinOf(c) => extremum(sub, c, isMin = true)
        case MaxOf(c) => extremum(sub, c, isMin = false)
        case RowCount => totalRows(sub)
      }
      if (results.exists(_.isEmpty)) return None
      Some(aggsW.zip(results.map(_.get)).map {
        case (RowCount, v) => (Long.box(v.fold(0L)(_.toLong)): Any) // empty counts 0
        case (_, None) => (null: Any)
        case (a, Some(v)) =>
          val c = a match { case MinOf(x) => x; case MaxOf(x) => x; case RowCount => "" }
          box(dtypeOf(c), v)
      }.toArray)
    }

    if (groupCols.isEmpty) {
      valuesFor(files).map(vs => (aggSchema, Seq(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs))))
    } else {
      // Delta's partition-level answer generalized to clustering:
      // every live file must store EVERY group column as a POINT zone
      // (min == max, not NaN) AND prove the column NULL-FREE
      // (__nn_col == __rows) so its group is decidable from metadata
      // alone — zones are computed over non-NULL values, so a point
      // zone ALONE does not rule out NULL-group rows hiding in the
      // file (they would be silently folded into the point's group and
      // the NULL group dropped); one output row per distinct key tuple
      def nullFree(f: String, g: String): Boolean =
        zones.get(f).exists { st =>
          st.get(CommitLog.RowCountStat).exists { case (rows, _) =>
            st.get(CommitLog.nonNullStat(physOf(g))).exists(_._1 == rows)
          }
        }
      val keyed: Seq[Option[(Seq[Double], String)]] = files.map { f =>
        val key = groupCols.map { g =>
          zones.get(f).flatMap(_.get(physOf(g))) match {
            case Some((lo, hi)) if lo == hi && !lo.isNaN && nullFree(f, g) =>
              Some(lo)
            case _ => None
          }
        }
        if (key.forall(_.isDefined)) Some(key.flatten -> f) else None
      }
      if (keyed.exists(_.isEmpty)) return None
      val flat = keyed.flatten
      // every group key value must itself be exact in double
      if (flat.exists(_._1.zip(groupCols).exists { case (v, g) =>
        dtypeOf(g) == LongType && math.abs(v) >= 9007199254740992.0
      })) return None
      val rows = flat.groupBy(_._1).toSeq
        .sortBy(_._1.mkString(","))
        .flatMap { case (key, fs) =>
          val sub = fs.map(_._2)
          // a group whose rows are ALL deletion-vector-deleted has no
          // output row at all — deleteWhere keeps the fully-covered
          // files live (the key stays decidable from point zones) but
          // GROUP BY omits empty groups, so emitting count=0 here
          // would be a phantom row real SQL never produces
          if (totalRows(sub).contains(Some(0.0))) None
          else valuesFor(sub) match {
            case Some(vs) =>
              Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                (key.zip(groupCols).map { case (v, g) => box(dtypeOf(g), v) } ++
                  vs.toSeq).toArray))
            case None => return None
          }
        }
      Some((StructType(
        groupCols.map(g => StructField(s"group_$g", dtypeOf(g), nullable = true)) ++
          aggSchema.fields.toSeq), rows))
    }
  }

  private def exactType(c: String): Boolean =
    // a user column whose PHYSICAL name collides with the reserved
    // row-count or non-null-count stats would read count entries from
    // OLDER files as min/max — decline (stats are keyed physically)
    physOf(c) != CommitLog.RowCountStat &&
    !physOf(c).startsWith(CommitLog.NonNullStatPrefix) &&
    full.fields.find(_.name == c).exists {
      _.dataType match {
        case IntegerType | DateType | FloatType | DoubleType | LongType => true
        case _ => false
      }
    }

  private[grafttable] def skippable(f: Filter): Boolean =
    GraftScanBuilder.skippable(f)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(skippable)
    filters // ALL residual: Spark re-applies every predicate
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new GraftAggScan(tablePath, version, schema, rows)
    case None => new GraftScan(tablePath, version, required, pushed, options)
  }
}

object GraftScanBuilder {

  private[grafttable] def skippable(f: Filter): Boolean = f match {
    case GreaterThan(_, v) => numeric(v)
    case GreaterThanOrEqual(_, v) => numeric(v)
    case LessThan(_, v) => numeric(v)
    case LessThanOrEqual(_, v) => numeric(v)
    case EqualTo(_, v) => numeric(v) || v.isInstanceOf[String]
    // IN-set (incl. DPP runtime filters): prunable when the non-null
    // values are all numeric or all strings; bounded — a huge IN list
    // costs more to probe than it saves
    case In(_, vs) => vs != null && vs.nonEmpty && vs.length <= 256 && {
      val nn = vs.filter(_ != null)
      nn.nonEmpty &&
        (nn.forall(numeric) || nn.forall(_.isInstanceOf[String]))
    }
    case _ => false
  }

  // zone legs compare in the double domain stageWithMeta logged
  // (min/max cast to double) — BigDecimal's rounding is NOT value-
  // preserving there, so decimals never prune
  private def numeric(v: Any): Boolean = v match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte => true
    case d: java.lang.Double => !d.isNaN
    case f: java.lang.Float => !f.isNaN
    case _ => false
  }
}

/** Scan serving a completely-pushed MIN/MAX/COUNT from the commit
  * log's zone maps: one partition, precomputed rows (one, or one per
  * point-zone group), ZERO data-file opens — at 100 TB the answer
  * comes from metadata the driver already resolved. */
class GraftAggScan(tablePath: String, version: Long,
    schema: StructType, rows: Seq[InternalRow]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan $tablePath v$version zones-only ${schema.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(rows.map(_.copy()).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val all = p.asInstanceOf[GraftAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < all.length }
          override def get(): InternalRow = all(i)
          override def close(): Unit = ()
        }
    }
}

case class GraftAggPartition(rows: Array[InternalRow]) extends InputPartition

class GraftScan(tablePath: String, version: Long, required: StructType,
    pushed: Array[Filter],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(tablePath, required,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      ignoreDeletes = Option(options.get("ignoreDeletes")).exists(_.toBoolean))
  override def description(): String =
    s"graft $tablePath v$version PushedFilters: [${pushed.mkString(", ")}], " +
    s"ReadSchema: ${required.catalogString}"

  /** STORAGE-PARTITIONED JOIN support (opt-in via the `clusterBy`
    * read option, the Iceberg discipline): when every surviving file
    * stores each cluster column as a POINT zone, files group into one
    * input partition per distinct key tuple, each exposing its key
    * via HasPartitionKey, and the scan reports KeyGroupedPartitioning
    * — so a join of two tables co-clustered on the join key runs with
    * NO shuffle on either side (Spark's
    * spark.sql.sources.v2.bucketing.enabled machinery). At 100 TB
    * this is the difference between re-shuffling both fact tables per
    * join and reading co-located files directly. Falls back silently
    * to per-file partitions (UnknownPartitioning) when any file's
    * zone spans, so a mis-clustered table is never wrong — just
    * shuffled as usual. */
  /** DPP-style RUNTIME file pruning (SupportsRuntimeFiltering): when
    * a join's build side resolves, Spark hands the scan the IN-set of
    * observed join keys and the file set re-prunes through the SAME
    * zone + bloom legs the static path uses (OR across the set) —
    * the DSv2 generalization of dynamic partition pruning, here over
    * CLUSTERING metadata instead of directory partitions.
    *
    * In clusterBy-KEYED mode the reported KeyGroupedPartitioning is a
    * contract — partition COUNT and KEYS must not change after
    * planning — so runtime filters prune files WITHIN each keyed
    * partition (an all-pruned partition keeps its key over an empty
    * file list) instead of re-resolving the snapshot: the
    * storage-partitioned join keeps its shape AND skips the build
    * side's dead files. */
  @volatile private var runtime: Array[Filter] = Array.empty
  @volatile private var filesCache: Seq[String] = null

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.collect {
      case f if Seq(IntegerType, LongType, DateType, FloatType, DoubleType,
          org.apache.spark.sql.types.StringType).contains(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    if (clusterCols.isEmpty) {
      runtime = filters.filter(GraftScanBuilder.skippable)
      filesCache = null
    } else {
      // freeze the keyed structure FIRST (it derives from the static
      // file set), then record the filters for within-group pruning
      keyedPlan
      runtime = filters.filter(GraftScanBuilder.skippable)
    }

  private def liveFiles: Seq[String] = {
    val cached = filesCache
    if (cached != null) cached
    else {
      val spark = SparkSession.active
      val preds = GraftScan.skipPredsOf(spark, tablePath, version, pushed ++ runtime)
      val files =
        if (preds.isEmpty) CommitLog.snapshot(spark, tablePath, Some(version))
        else CommitLog.prunedFilesFor(spark, tablePath, Some(version), preds)
      filesCache = files
      files
    }
  }

  private lazy val clusterCols: Seq[String] =
    Option(options.get("clusterBy")).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      .filter(c => required.fieldNames.contains(c))

  // COLUMN MAPPING: zone lookups key physically; clusterCols stay
  // logical for the reported partitioning/ordering expressions
  private lazy val physMap: Map[String, String] =
    GraftScan.mappingOf(SparkSession.active, tablePath, version)
  private def physOf(c: String): String = physMap.getOrElse(c, c)

  private lazy val zoneStats: CommitLog.FileStats =
    CommitLog.fileStats(SparkSession.active, tablePath, Some(version))

  /** Files grouped by their cluster-key point-zone tuple; None when
    * clustering is off or any file's zone is not a point. */
  private lazy val keyedGroups: Option[Seq[(Seq[Double], Seq[String])]] = {
    if (clusterCols.isEmpty) None
    else {
      val zones = zoneStats
      val keyed = liveFiles.map { f =>
        val key = clusterCols.map(c => zones.get(f).flatMap(_.get(physOf(c))) match {
          case Some((lo, hi)) if lo == hi && !lo.isNaN => Some(lo)
          case _ => None
        })
        if (key.forall(_.isDefined)) Some(key.flatten -> f) else None
      }
      if (keyed.exists(_.isEmpty)) None
      else Some(keyed.flatten.groupBy(_._1).toSeq
        .sortBy(_._1.mkString(","))
        .map { case (k, fs) => k -> fs.map(_._2) })
    }
  }

  /** PARTIALLY-CLUSTERED SPJ (the skew escape valve): one key tuple =
    * one task serializes a hot key's whole file set at 100 TB. When a
    * group's metadata row count exceeds this threshold, the group is
    * reported as one keyed partition PER FILE (same key on each) —
    * with spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    * .enabled Spark keeps the splits as separate tasks and replicates
    * the other side's matching partition over them; without it Spark
    * simply regroups same-key splits into one task, so splitting is
    * never wrong. Row counts come from the log's reserved per-file
    * stat (zero filesystem calls; byte skew tracks row skew for a
    * fixed schema); a group missing any count stays unsplit —
    * conservative. */
  private lazy val splitThresholdRows: Long =
    SparkSession.active.conf
      .getOption("spark.graft.spj.splitThresholdRows")
      .map(_.toLong).getOrElse(4L * 1000 * 1000)

  /** The keyed input partitions, splitting hot groups per-file. Built
    * once: outputPartitioning reports its length and
    * planInputPartitions returns it, so the two can never disagree. */
  private lazy val keyedPlan: Option[Array[InputPartition]] =
    keyedGroups.map { groups =>
      val spark = SparkSession.active
      groups.flatMap { case (key, fs) =>
        val parts = GraftScan.partitionsFor(spark, tablePath, version, fs)
          .map(_.asInstanceOf[GraftPartition])
        val rows = fs.map(f =>
          zoneStats.get(f).flatMap(_.get(CommitLog.RowCountStat)).map(_._1))
        val hot = fs.length > 1 && rows.forall(_.isDefined) &&
          rows.flatten.sum > splitThresholdRows.toDouble
        if (hot) parts.map(p => GraftKeyedPartition(Array(p), boxKey(key)): InputPartition)
        else Seq(GraftKeyedPartition(parts, boxKey(key)): InputPartition)
      }.toArray
    }

  private def boxKey(vals: Seq[Double]): InternalRow = {
    val boxed: Array[Any] = vals.zip(clusterCols).map { case (v, c) =>
      (required.fields.find(_.name == c).get.dataType match {
        case IntegerType | DateType => Int.box(v.toInt)
        case LongType => Long.box(v.toLong)
        case FloatType => Float.box(v.toFloat)
        case DoubleType => Double.box(v)
        case _ => Double.box(v)
      }): Any
    }.toArray
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(boxed)
  }

  /** CONSTANT-KEY ordering (SupportsReportOrdering): in clusterBy-keyed
    * mode every reported partition carries exactly one cluster-key
    * tuple, so rows within a partition are trivially non-decreasing in
    * the cluster columns — PROVIDED the key columns are null-free in
    * every live file. A point zone alone cannot prove that (min/max
    * ignore NULLs — a file of key-5 rows plus NULL-key rows still
    * presents the point zone 5, and its rows are NOT ordered), so the
    * proof is the reserved per-file non-null count: `__nn_c == __rows`
    * for every cluster column in every file. Files that predate the
    * stat decline conservatively (sorts stay — never wrong, just
    * slower). With the proof, a co-clustered sort-merge join drops
    * BOTH per-partition sorts on top of dropping both shuffles — the
    * full Iceberg/Delta storage-partitioned-join discipline: at 100 TB
    * the join reads co-located files straight into the merge. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (keyedPlan.isDefined && clusterColsNullFree)
      clusterCols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
    else Array.empty

  private lazy val clusterColsNullFree: Boolean =
    liveFiles.forall { f =>
      val st = zoneStats.getOrElse(f, Map.empty)
      st.get(CommitLog.RowCountStat).exists { case (rows, _) =>
        clusterCols.forall(c =>
          st.get(CommitLog.nonNullStat(physOf(c))).exists(_._1 == rows))
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPlan match {
      case Some(parts) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          clusterCols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(c)
              : org.apache.spark.sql.connector.expressions.Expression).toArray,
          parts.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          liveFiles.size)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    keyedPlan match {
      case Some(parts) =>
        val rt = runtime
        if (rt.isEmpty) parts
        else {
          // within-group runtime pruning: same zone + bloom legs as
          // the unkeyed path, applied per file with the partition
          // list (count, order, keys) left exactly as reported
          val preds = GraftScan.skipPredsOf(spark, tablePath, version, rt)
          if (preds.isEmpty) parts
          else {
            val blooms = CommitLog.fileBlooms(spark, tablePath, Some(version))
            val prefix = tablePath + "/"
            parts.map {
              case k: GraftKeyedPartition =>
                GraftKeyedPartition(k.files.filter(p =>
                  CommitLog.fileMightMatch(p.filePath.stripPrefix(prefix),
                    zoneStats, blooms, preds)), k.key): InputPartition
              case p => p
            }
          }
        }
      case None =>
        GraftScan.partitionsFor(spark, tablePath, version, liveFiles)
    }
  }

  /** The pushed and runtime filters skip row groups inside each file;
    * the zone and Bloom legs above already skipped whole files. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new GraftReaderFactory(GraftScan.parquetRead(spark, required,
      GraftScan.mappingOf(spark, tablePath, version), (pushed ++ runtime).toSeq))
  }
}

object GraftScan {

  /** logical→physical rename map of the table's declared schema at
    * `version` (empty when unmapped) — shipped to the partition
    * readers so file-column matching never depends on Spark
    * preserving field metadata through column pruning. */
  private[grafttable] def mappingOf(spark: SparkSession, tablePath: String,
      version: Long): Map[String, String] =
    CommitLog.tableSchema(spark, tablePath, Some(version))
      .filter(graft.operators.ColumnMapping.hasMapping)
      .map(d => d.fields.iterator
        .filter(f => graft.operators.ColumnMapping.physical(f) != f.name)
        .map(f => f.name -> graft.operators.ColumnMapping.physical(f)).toMap)
      .getOrElse(Map.empty)
  /** The column a skippable v1 filter predicates on, if any. */
  private[grafttable] def filterColumn(f: Filter): Option[String] = f match {
    case GreaterThan(c, _) => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _) => Some(c)
    case LessThanOrEqual(c, _) => Some(c)
    case EqualTo(c, _) => Some(c)
    case In(c, _) => Some(c)
    case _ => None
  }

  /** Pushed v1 filters → the log's skip predicates. Equality on a
    * numeric column contributes BOTH legs (zone range [v,v] and, when
    * the probe types soundly, a Bloom probe); strict comparisons use
    * their inclusive bound (conservative: a file whose max equals a
    * strict lower bound survives and the residual filter decides).
    * Shared by the batch scan and the row-level COW scan. */
  private[grafttable] def skipPredsOf(spark: SparkSession, tablePath: String,
      version: Long, pushed0: Array[Filter]): CommitLog.SkipPreds = {
    // COLUMN MAPPING: filters arrive with LOGICAL names; zones and
    // blooms are keyed by PHYSICAL names — translate
    // once here so every consumer (batch scan, COW scan, runtime
    // filters) consults the right keys
    val pushed = CommitLog.tableSchema(spark, tablePath, Some(version))
      .filter(graft.operators.ColumnMapping.hasMapping) match {
        case Some(d) => pushed0.map(graft.operators.ColumnMapping
          .mapFilter(_, graft.operators.ColumnMapping.physicalName(d, _)))
        case None => pushed0
      }
    val ranges = Seq.newBuilder[(String, Double, Double)]
    val probes = Seq.newBuilder[(String, Long)]
    val probeSets = Seq.newBuilder[(String, Seq[Long])]
    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue()
    // a data column literally named like a reserved stats key would
    // prune against the STAT entries of files that predate the column
    // (e.g. "__rows" = 5 would drop every file not exactly 5 rows
    // long) — those columns never skip, same decline as exactType
    def reserved(c: String): Boolean =
      c == CommitLog.RowCountStat || c.startsWith(CommitLog.NonNullStatPrefix)
    pushed.foreach {
      case f if GraftScan.filterColumn(f).exists(reserved) => ()
      case GreaterThan(c, v) => ranges += ((c, num(v), Double.PositiveInfinity))
      case GreaterThanOrEqual(c, v) => ranges += ((c, num(v), Double.PositiveInfinity))
      case LessThan(c, v) => ranges += ((c, Double.NegativeInfinity, num(v)))
      case LessThanOrEqual(c, v) => ranges += ((c, Double.NegativeInfinity, num(v)))
      case EqualTo(c, v) =>
        if (v.isInstanceOf[Number]) ranges += ((c, num(v), num(v)))
        CommitLog.probeHashFor(spark, tablePath, Some(version), c, v)
          .foreach(h => probes += ((c, h)))
      case In(c, vs) if vs != null && vs.nonEmpty =>
        // null never matches IN, so the non-null values carry the leg
        val nn = vs.filter(_ != null)
        if (nn.nonEmpty) {
          if (nn.forall(_.isInstanceOf[Number])) {
            val ds = nn.map(num)
            ranges += ((c, ds.min, ds.max)) // sound envelope of the set
          }
          // bloom OR-probe: only when EVERY value hashes portably —
          // a partial set would prune files holding the unhashed rest
          val hs = nn.toSeq.map(v =>
            CommitLog.probeHashFor(spark, tablePath, Some(version), c, v))
          if (hs.forall(_.isDefined)) probeSets += ((c, hs.flatten))
        }
      case _ => ()
    }
    CommitLog.SkipPreds(ranges.result(), probes.result(), probeSets.result())
  }

  /** File list → DV-resolved reader partitions at `version`: inline
    * vectors decode driver-side (small by contract), sidecars travel
    * as paths the executor loads, with one broadcast of the session's
    * Hadoop conf when the list holds any. Shared by the batch scan,
    * the table stream's snapshot batch and the copy-on-write scan. */
  private[grafttable] def partitionsFor(spark: SparkSession,
      tablePath: String, version: Long, files: Seq[String]): Array[InputPartition] = {
    val dvRefs = CommitLog.deletionVectorRefs(spark, tablePath, Some(version))
    lazy val conf = SerializableHadoopConf.broadcast(spark)
    files.map { f =>
      val p = GraftPartition(s"$tablePath/$f", null, null, null)
      (dvRefs.get(f) match {
        case Some(enc) if enc.startsWith("@") =>
          p.copy(dvSidecar = s"$tablePath/${CommitLog.LogDir}/${enc.drop(1)}", conf = conf)
        case Some(enc) => p.copy(dvInline = java.util.Base64.getDecoder.decode(enc))
        case None => p
      }): InputPartition
    }.toArray
  }

  /** The one parquet read of every graft table scan: `schema` with
    * `_file` served as each file's path. */
  private[grafttable] def parquetRead(spark: SparkSession, schema: StructType,
      nameMap: Map[String, String], filters: Seq[Filter]): ParquetRead =
    ParquetRead(spark, schema, StructType(Seq(StructField(
      GraftFileMetaColumn.name(), StringType, nullable = false))), nameMap, filters)
}

case class GraftPartition(filePath: String, dvInline: Array[Byte],
    dvSidecar: String, conf: Broadcast[SerializableHadoopConf])
    extends InputPartition

/** One storage-partitioned-join partition: ALL the files sharing one
  * cluster-key tuple, the key exposed so Spark's KeyGroupedPartitioning
  * machinery can co-locate it with the other join side's matching
  * partition. */
case class GraftKeyedPartition(files: Array[GraftPartition], key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Reads each file of a partition through [[ParquetRead]], masking
  * its deletion vector; a keyed (SPJ) partition chains its files.
  * Inline vectors arrive in the partition, sidecars load on the
  * executor through the partition's broadcast Hadoop conf. */
class GraftReaderFactory(read: ParquetRead) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition match {
      case p: GraftPartition => Array(p)
      case k: GraftKeyedPartition => k.files
    }
    ParquetRead.reader(files.iterator.flatMap { p =>
      GraftPartitionReader.filesOpened.incrementAndGet()
      val dv = if (p.dvSidecar == null) p.dvInline
        else graft.plans.DvLoad.bytesFor(p.dvSidecar, p.conf.value.value)
      read.rows(p.filePath, InternalRow(UTF8String.fromString(p.filePath)), dv)
    })
  }
}

object GraftPartitionReader {
  /** Data files actually OPENED by readers in this JVM — the
    * observable the runtime-filtering and pruning specs assert on
    * (local-mode only; production metrics ride Spark's own scan
    * metrics). */
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0)
}
