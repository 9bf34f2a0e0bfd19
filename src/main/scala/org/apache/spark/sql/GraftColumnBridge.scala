package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters, so the
  * graft library can register custom Catalyst expressions (e.g.
  * graft.functions.DotProductDouble) as Columns. Standard extension-library
  * technique: Spark's own connector ecosystem uses the same package-scoped
  * access for this. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap an RDD of InternalRows as a DataFrame — the `private[sql]`
    * `SparkSession.internalCreateDataFrame` entry point. The InternalRow
    * twin of `createDataFrame(RDD[Row], schema)`: no external-Row
    * conversion, the scan node projects each row to unsafe format itself
    * (opt r14 — the StableIds/Packing two-phase operators' output path). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
