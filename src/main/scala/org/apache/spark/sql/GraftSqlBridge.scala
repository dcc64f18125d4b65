package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` helpers for Column ↔ catalyst Expression
  * conversion (Spark 4 moved `Column` to a ColumnNode representation; the
  * classic converters live behind `private[sql]`). Standard technique for
  * libraries shipping custom Catalyst expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** STRING or BINARY, as an `ExpectsInputTypes` entry (`TypeCollection`
    * is `private[sql]`).
    */
  val stringOrBinary = types.TypeCollection(types.StringType, types.BinaryType)

  /** Register a function into an existing session's registry (the
    * per-session twin of `SparkSessionExtensions.injectFunction`).
    */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        info, builder)
}
