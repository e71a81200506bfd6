package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column⇄Expression converters — the
  * supported way for an external library to wrap a custom Catalyst
  * `Expression` (e.g. [[graft.functions.HashedWordBigrams]]) as a
  * user-facing `Column` on Spark 4's ColumnNode API.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully CONVERT a Column to its catalyst tree (not the lazy
    * [[classic.ColumnNodeExpression]] wrapper `expression` returns,
    * whose children are internal ColumnNodes invisible to catalyst
    * traversals) — needed to read the attribute names a caller-built
    * predicate references before resolution.
    */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** `DataType.sameType` (equality modulo nullability) is
    * `private[spark]`; the replica store's schema-evolution guard needs
    * it to compare manifest field types without tripping on nullable
    * drift inside nested structs.
    */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** `StructType.asNullable` is `private[spark]`: the schema a parquet
    * read under an explicit schema returns.
    */
  def asNullable(t: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = t.asNullable

  /** `Dataset.ofRows` is `private[sql]` — needed to wrap a custom
    * logical plan node (graft's native as-of join) as a DataFrame.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-wrap a V1 streaming `Sink.addBatch` DataFrame — whose logical
    * plan is the micro-batch's IncrementalExecution — as a plain batch
    * DataFrame over the ALREADY-PLANNED physical RDD
    * (`internalCreateDataFrame` is `private[sql]`). Downstream actions
    * re-run the planned RDD deterministically instead of re-analyzing a
    * streaming plan — the established pattern for V1 sinks that
    * transform their batch.
    */
  def fromExecutedPlan(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    d.sparkSession.internalCreateDataFrame(
      d.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Wrap a batch DataFrame as a streaming-flagged one — what a V1
    * `Source.getBatch` must return (the engine asserts
    * `isStreaming = true` on V1 source batches).
    */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    d.sparkSession.internalCreateDataFrame(
      d.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
