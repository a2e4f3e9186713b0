package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression conversion for the graft Column
  * helpers (graft.plans.GraftFunctions). Spark's converters are
  * `private[sql]`, hence this file's package. [[expression]] converts
  * eagerly, so a builder sees `lit(k)` as a foldable literal. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
}
