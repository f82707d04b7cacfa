package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr: Expression)` constructor (the
  * Connect refactor routes columns through ColumnNode); the supported
  * classic-session wrapper lives behind `private[sql]`. This one-liner in
  * the sql package tree is the standard extension-library bridge for
  * exposing custom Catalyst expressions as Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode -> catalyst conversion. Unlike [[expression]] (which
    * defers behind an opaque wrapper the analyzer treats as a leaf), this
    * yields the real catalyst tree — with UnresolvedFunction nodes the
    * analyzer then resolves — which is what an injected FunctionBuilder
    * must return when its body is built with the Column API. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}

/** Test-support bridge into `private[spark]` scheduler internals (this
  * package is inside org.apache.spark, so the access is legal): lets
  * specs drain the async listener bus deterministically instead of
  * sleeping a fixed interval and hoping the event arrived. */
object ListenerBridge {
  def waitUntilListenerBusEmpty(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** The exceptions built-in checks throw — `raise_error(msg)`'s
  * `USER_RAISED_EXCEPTION` SparkRuntimeException, whose constructor is
  * `private[spark]`, and ANSI `element_at`'s out-of-bounds error — so a
  * native expression's loud failure reads the same as the check it
  * replaced. */
object ErrorBridge {
  def userRaised(msg: String): RuntimeException =
    new org.apache.spark.SparkRuntimeException("USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** The ANSI `element_at(array, index)` error for a 1-based `index`
    * past the array's `numElements`. */
  def elementAtOutOfBounds(index: Int, numElements: Int): RuntimeException =
    org.apache.spark.sql.errors.QueryExecutionErrors.invalidElementAtIndexError(
      index, numElements, null)
}
