package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.operators.ColumnMapping

/** The one parquet read path of the graft sources (the `graft` batch
  * scan, its table stream, the copy-on-write scan and `graft-changes`):
  * Spark's own parquet reader, built once on the driver with the
  * session's Hadoop conf, which Spark broadcasts to the tasks.
  *
  *  - Data columns are requested by PHYSICAL name (column mapping) and
  *    served under their logical names; columns a file lacks null-fill.
  *  - `constants` are columns no file stores (`_file`, the change
  *    feed's `_change_type` / `_commit_version`): each file's values
  *    ride its `PartitionedFile` as partition values.
  *  - `filters` skip row groups through Spark's `ParquetFilters`; rows
  *    are never filtered, so every pushed filter stays residual.
  *  - Deletion vectors mask on Spark's row index with the same
  *    [[graft.plans.BitsetAggregate.testBit]] the SQL scan path uses.
  *
  * A projection holding a DECIMAL takes Spark's row reader, which
  * rescales a file's decimal to the declared precision and scale; the
  * vectorized reader refuses a narrower one. */
final class ParquetRead private (read: PartitionedFile => Iterator[InternalRow],
    output: StructType, ordinals: IndexedSeq[Int], rowIndex: Int)
    extends Serializable {

  /** The rows of one file. With a vector `dv`, rows whose bit is set
    * are dropped, or with `keepSet` the only ones kept. */
  def rows(path: String, constants: InternalRow, dv: Array[Byte],
      keepSet: Boolean = false): Iterator[InternalRow] = {
    val all = read(PartitionedFile(constants, SparkPath.fromPath(new Path(path)),
      0L, Long.MaxValue))
    val live = if (dv == null) all else all.filter(r =>
      graft.plans.BitsetAggregate.testBit(dv, r.getLong(rowIndex)) == keepSet)
    val out = ProjectingInternalRow(output, ordinals)
    live.map { r => out.project(r); out }
  }
}

object ParquetRead {

  def apply(spark: SparkSession, output: StructType, constants: StructType,
      nameMap: Map[String, String], filters: Seq[Filter]): ParquetRead = {
    def physical(f: StructField) = nameMap.getOrElse(f.name, ColumnMapping.physical(f))
    val data = output.fields.filterNot(f => constants.fieldNames.contains(f.name))
    // reader layout: data columns, the row index, then the constants
    val required = GraftColumns.asNullable(StructType(data.map(f =>
      f.copy(name = physical(f))) :+
        StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)))
    val ordinals = output.fields.toIndexedSeq.map { f =>
      val c = constants.fieldNames.indexOf(f.name)
      if (c >= 0) required.length + c else data.indexOf(f)
    }
    val vectorized = !data.exists(f => GraftColumns.holds(f.dataType, _.isInstanceOf[DecimalType]))
    val format = if (vectorized) new ParquetFileFormat else new RowParquetFormat
    val read = format.buildReaderWithPartitionValues(spark, required, constants,
      required, filters.map(ColumnMapping.mapFilter(_, c => nameMap.getOrElse(c, c))),
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    new ParquetRead(read, output, ordinals, data.length)
  }

  /** A partition reader over rows; each file's reader closes when its
    * rows run out, or when the task ends. */
  def reader(rows: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Spark's parquet format with the vectorized reader switched off. */
private final class RowParquetFormat extends ParquetFileFormat {
  override def getSqlConf(spark: SparkSession): SQLConf = {
    val conf = super.getSqlConf(spark).clone()
    conf.setConf(SQLConf.PARQUET_VECTORIZED_READER_ENABLED, false)
    conf
  }
}
