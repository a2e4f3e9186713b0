package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark helpers the graft code needs that are `private[sql]` or
  * `private[spark]`, hence this file's package.
  *
  * Column <-> Catalyst expression conversion for the graft Column
  * helpers (graft.plans.GraftFunctions): [[expression]] converts
  * eagerly, so a builder sees `lit(k)` as a foldable literal. The type
  * helpers serve the parquet read path (graft.sources.ParquetRead). */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `s` with every field, element and value nullable, at any depth. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Whether `dt` or any type nested in it satisfies `f`. */
  def holds(dt: DataType, f: DataType => Boolean): Boolean = dt.existsRecursively(f)
}
