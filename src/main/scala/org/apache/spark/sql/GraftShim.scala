package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Bridge to the classic backend's Column⇄Expression converters, which are
  * `private[sql]` in Spark 4 (Column is ColumnNode-backed there). This is the
  * supported extension seam for libraries that ship custom Catalyst
  * expressions without a FunctionRegistry round-trip. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Input-type contracts of the graft array kernels (`TypeCollection` is
    * `private[sql]` too): primitive integral arrays, and primitive numeric
    * arrays. Decimals are excluded, as in `Constraints.requireNumericArray`:
    * the kernels' `ElemReader` reads primitive slots only. */
  val integralArray: AbstractDataType = TypeCollection(
    ArrayType(ByteType), ArrayType(ShortType), ArrayType(IntegerType), ArrayType(LongType))
  val numericArray: AbstractDataType = TypeCollection(
    ArrayType(ByteType), ArrayType(ShortType), ArrayType(IntegerType), ArrayType(LongType),
    ArrayType(FloatType), ArrayType(DoubleType))
}
