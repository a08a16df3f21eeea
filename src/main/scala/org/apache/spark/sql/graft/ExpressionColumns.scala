package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression as a Column. Spark keeps that constructor
  * `private[sql]`, so the engine's typed kernel constructors
  * (`graft.functions.NativeExpressions`) reach it through this package. */
object ExpressionColumns {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
