package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 moved Column onto
  * ColumnNode and made the converters `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so custom-expression
  * libraries expose them from inside the package — the same pattern
  * Spark's own connectors use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s logical plan as a DataFrame of `spark`. A `foreachBatch`
    * frame belongs to the stream's cloned session, whose fresh session
    * UUID gives every query its own executor classloader — and the
    * codegen cache is per classloader, so each query recompiles the
    * same classes. Re-rooted in a long-lived session, the batch's
    * downstream plan compiles once per JVM.
    */
  def inSession(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
        .queryExecution.logical)

  /** Register a SQL function on a LIVE session (sessionState is
    * `private[sql]`); the extensions path (`graft.GraftExtensions`)
    * covers sessions built with `withExtensions` / `spark.sql.extensions`.
    */
  def registerFunction(spark: SparkSession, name: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** The exact error an ANSI double→decimal cast raises on precision
    * overflow (`QueryExecutionErrors` is `private[sql]`); the fused
    * round-to-decimal kernel re-throws it for bit-and-error parity.
    */
  def decimalPrecisionOverflowError(
      value: org.apache.spark.sql.types.Decimal, precision: Int,
      scale: Int): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .cannotChangeDecimalPrecisionError(value, precision, scale)
}
