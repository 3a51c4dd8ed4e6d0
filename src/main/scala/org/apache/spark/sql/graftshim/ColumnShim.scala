package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column <-> Expression converters,
  * needed to expose the custom [[graft.ns.ResolveNs]] Catalyst expression as a
  * public `Column` (Spark 4 hides the Expression-backed Column constructor).
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function descriptor on an ALREADY-BUILT session (tests; a
    * fresh session uses `spark.sql.extensions=graft.ns.GraftExtensions`).
    * `sessionState` is `private[sql]`, hence this shim.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** A DataFrame over rows already in Catalyst's internal format (the
    * `private[sql]` constructor `createDataFrame` uses after converting).
    */
  def fromInternalRows(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType
  ): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
