package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow glue onto Spark's `private[sql]` surface (Column ↔ Catalyst
  * Expression, function registration). Lives under `org.apache.spark.sql`
  * for visibility — the standard pattern for Spark extension libraries;
  * everything else in graft stays in public API land.
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder so `spark.sql("fn(...)")`
    * resolves it (temp function in the session's FunctionRegistry). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Blocks until the async listener bus has delivered every event
    * posted so far — a handshake, where a fixed sleep would race. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
