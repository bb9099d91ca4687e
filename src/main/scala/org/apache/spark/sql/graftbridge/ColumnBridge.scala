package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the supported extension point for registering custom Catalyst
  * expressions as user-facing Columns (Spark 4 moved Column onto
  * ColumnNode, so `new Column(expr)` no longer exists).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The additive-only schema-evolution gate: the first field of
    * `expected` that `actual` also has, but with a different type
    * (compared by `DataType.sameType`, which ignores nullability and is
    * private[sql]), paired with its type in `actual`. Columns present
    * on one side only are additive evolution and never reported.
    */
  def changedType(expected: org.apache.spark.sql.types.StructType,
                  actual: org.apache.spark.sql.types.StructType)
      : Option[(org.apache.spark.sql.types.StructField, org.apache.spark.sql.types.DataType)] = {
    val present = actual.fields.map(f => f.name -> f.dataType).toMap
    expected.fields.iterator.flatMap(f => present.get(f.name).map(f -> _))
      .find { case (f, dt) => !dt.sameType(f.dataType) }
  }

  /** `StructType.asNullable` is private[sql] — re-exported for the
    * schema-sidecar writer (file-source reads force nullability, so
    * recorded schemas normalize the same way).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
