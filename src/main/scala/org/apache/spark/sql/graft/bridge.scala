package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made the classic
  * converters `private[sql]`, so custom native expressions (e.g.
  * [[graft.functions.DotF64]]) need this one-hop accessor inside the
  * spark.sql package tree — the standard pattern for Catalyst extension
  * libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function into an existing session's registry —
    * `sessionState` is `private[sql]` in Spark 4, so the accessor lives
    * here with the other bridge hops. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Run `body` on `exec` through Spark's own
    * `SQLExecution.withThreadLocalCaptured`: the pooled thread gets the
    * caller's local properties (job group, job tags, `spark.sql.*`) and
    * active session, so its jobs look like the caller's. The Spark
    * method takes the classic session, hence the hop. */
  def withThreadLocalCaptured[T](spark: org.apache.spark.sql.SparkSession,
      exec: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      exec)(body)

  /** `StructType.asNullable` (`private[spark]`): the nullability every
    * file-source read applies to its data schema. */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable
}
