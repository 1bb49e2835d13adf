package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column to a ColumnNode wrapper; the Expression↔Column
  * bridge (`classic.ExpressionUtils`) is `private[sql]`. This shim exposes
  * it to graft's native expressions — same technique Spark connectors use.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s analyzed plan as a DataFrame of session `s`
    * (`classic.Dataset.ofRows` is `private[sql]` too). */
  def inSession(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)
}
