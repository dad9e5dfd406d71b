package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversion —
  * the standard extension-library shim (cf. how Spark-native libraries
  * expose custom Catalyst expressions as user-facing Columns). */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column→Expression conversion: unlike [[expression]] (a lazy
    * wrapper the analyzer unpacks only at plan boundaries), this runs
    * the full node converter — required when a composed Column is
    * returned from a FunctionRegistry builder, where the result embeds
    * directly into an expression tree. */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Drain the (private[spark]) listener bus — lets tests that count
    * jobs via a SparkListener observe a deterministic event count. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** private[sql] InternalRow-RDD → DataFrame (no Row re-encoding) —
    * the return path for operators that must drop to the RDD layer for
    * a fixed partition lineage (withRowIndex's zipWithIndex). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
