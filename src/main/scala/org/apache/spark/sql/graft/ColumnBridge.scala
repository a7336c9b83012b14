package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made `Column` an opaque ColumnNode wrapper; the conversion
  * helpers (`classic.ExpressionUtils`) are `private[sql]`, so a
  * library that builds Columns from its own native expressions
  * (NgramsF & friends) needs this one-object shim compiled into the
  * `org.apache.spark.sql` namespace — the same access route Spark
  * extension libraries (Delta, Sedona, ...) use. No Spark internals
  * are modified; this only re-exports two conversions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with its floating-point values normalized the way join keys
    * are (`NaN`s equal, `-0.0` = `0.0`) — the `private[sql]`
    * `NormalizeFloatingNumbers.normalize`; `e` must be resolved. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Two parquet schemas merged the way `mergeSchema` merges footers
    * (the `private[sql]` `StructType.merge`). */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
                   b: org.apache.spark.sql.types.StructType,
                   caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** A DataFrame over an already-analyzed logical plan, attribute ids
    * preserved — how the row-level DML commands re-enter the target /
    * source relations their resolved expressions reference
    * (`classic.Dataset.ofRows` is `private[sql]`, same access story
    * as the Column conversions above). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Pin a V1 streaming sink's micro-batch to its OWN (incremental)
    * execution — `LogicalRDD.fromDataset(qe.toRdd, ...)`, exactly what
    * Spark's ForeachBatchSink does before handing the frame to user
    * code. A sink that instead calls `batch.write...` re-plans
    * `data.logicalPlan` from scratch, which re-plans stateful
    * operators as plain per-batch aggregates (losing accumulated
    * state under Complete mode) and re-executes the source scan. */
  def materializedBatch(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = data.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, node)
  }

  /** Mark a composed batch plan as a STREAMING micro-batch — what a
    * V1 `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`). Same route Delta's source takes
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`):
    * the RDD lineage is built lazily here, no job runs until the
    * sink consumes the batch. */
  def asStreamingBatch(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = data.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = true)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, node)
  }
}
