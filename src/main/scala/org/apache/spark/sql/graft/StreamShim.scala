package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The Spark-internal seams graft uses. Those below are `private[sql]`
  * members this object lives in the `org.apache.spark.sql` namespace to
  * reach at compile time. Two more are public classes of Spark's
  * internal packages, used where they are needed:
  *  - `execution.datasources`' `HadoopFsRelation` over a `FileIndex`:
  *    `graft.sources.VersionedTable.scanFiles` builds every frame over a
  *    table's logged data files from its own index, so Spark plans the
  *    scan from the log's file list (no listing) and hands the pushed
  *    data filters to the log's stats pruner;
  *  - `sources.CatalystScan`: the `graft-versioned` batch relation
  *    receives a query's resolved filter expressions for the same pruner.
  * No other Spark internals are touched; everything else in graft is
  * public API (or, for `graft.sql.SqlDml` and the `graft.sql` function
  * tables, the unresolved plans and expressions Spark's own parser and
  * analyzer hand over).
  *
  *  - [[asStreamingFrame]]: a DSv1 streaming `Source.getBatch` must return
  *    a DataFrame whose logical plan carries `isStreaming = true`
  *    (MicroBatchExecution asserts it), and the only constructor for such
  *    a frame — `internalCreateDataFrame(rdd, schema, isStreaming = true)`
  *    — is `private[sql]`. This is the standard public-connector pattern
  *    for DSv1 sources (Spark's own FileStreamSource builds its batches
  *    exactly this way).
  *  - [[column]] / [[expression]]: the expressions of a parsed
  *    MERGE/UPDATE/DELETE plan, and a SQL function's arguments, become
  *    Columns through `classic.ExpressionUtils.column`; a MERGE
  *    condition's Column, and the Column a scalar function builds, go
  *    back to their unresolved expressions.
  *  - [[frame]]: a table function's `TABLE(…)` argument arrives as a
  *    logical plan; `classic.Dataset.ofRows` makes it a DataFrame.
  */
object StreamShim {

  /** Re-plan `df` (a finished batch read) as a streaming-tagged frame:
    * the batch plan's rows become the micro-batch's input relation.
    */
  def asStreamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A catalyst expression — resolved or not — as a Column; the frame it
    * is used on resolves it, as it would an `expr` string.
    */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst expression behind a Column, unresolved as written
    * (an `expr` string parsed by `spark`'s parser).
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** A logical plan — resolved or not — as a DataFrame of `spark`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
