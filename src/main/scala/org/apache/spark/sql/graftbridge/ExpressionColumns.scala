package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst `Expression` <-> `Column`, for graft's native codegen
  * expressions ([[graft.plans.Md5Long56]], [[graft.plans.FixedDotProduct]],
  * [[graft.plans.GopherStats]]). Spark keeps the conversion
  * `private[sql]`, so this object lives under `org.apache.spark.sql`.
  * A Column built here carries the case class itself, so it resolves on
  * any session, with or without `GraftExtensions`. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
