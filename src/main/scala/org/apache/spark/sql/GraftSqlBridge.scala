package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 made the Column↔Expression conversions `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so custom native
  * expressions (graft.functions.*) need this one-file shim living in the
  * `org.apache.spark.sql` package to wrap/unwrap them.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Extract a literal long argument from a SQL function call (fold the
    * expression if constant; reject column references — the parameter is
    * part of the function's identity, not data).
    */
  def longLiteral(e: Expression): Long = e match {
    case lit if lit.foldable =>
      lit.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case other => throw new IllegalArgumentException(
          s"expected an integer literal, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"expected a literal argument, got ${other.sql}")
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (-1:
    * off) — the bound under which Catalyst ships a relation whole. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold

  /** Register a native function on a LIVE session (the public
    * `SparkSessionExtensions.injectFunction` channel only applies at
    * session build time).
    */
  def registerFunction(spark: SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
