package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Builds a Catalyst expression over column arguments and returns it as a
  * Column, so a native expression needs no entry in any session's function
  * registry. It lives in Spark's package only because the Column ⇄
  * Expression conversions are package-private there; nothing here touches
  * session state. */
object NativeColumn {
  def apply(args: Column*)(build: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))
}
