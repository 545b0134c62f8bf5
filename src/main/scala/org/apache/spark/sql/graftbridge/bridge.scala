package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` conversions — required for exposing
  * custom Catalyst expressions and logical plans through the public API in
  * Spark 4 (the classic `Column.expr` / `Dataset.ofRows` paths are no
  * longer public). Standard pattern for extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan node. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until the listener bus has delivered every posted event (a
    * listener counting jobs reads a settled count after it). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The analyzed logical plan backing a Dataset. */
  def analyzedPlan(df: Dataset[_]): LogicalPlan = df.queryExecution.analyzed

  // ---- Arrow interchange (private[sql] in Spark 4) ----------------------
  // Spark ships complete Spark-schema <-> Arrow-schema conversion and a
  // row -> Arrow-vector writer for its own Python/R interchange; re-doing
  // either per-type by hand would just re-implement tested code with new
  // bugs. Exposed here for graft.sources.ArrowIpc.

  def toArrowSchema(schema: org.apache.spark.sql.types.StructType,
      timeZoneId: String): org.apache.arrow.vector.types.pojo.Schema =
    org.apache.spark.sql.util.ArrowUtils.toArrowSchema(
      schema, timeZoneId, errorOnDuplicatedFieldNames = true, largeVarTypes = false)

  def fromArrowSchema(schema: org.apache.arrow.vector.types.pojo.Schema)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.util.ArrowUtils.fromArrowSchema(schema)

  /** Thin public handle on Spark's InternalRow -> Arrow vector writer. */
  final class RowArrowWriter private[graftbridge] (
      w: org.apache.spark.sql.execution.arrow.ArrowWriter) {
    def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = w.write(row)
    def finish(): Unit = w.finish()
    def reset(): Unit = w.reset()
  }

  def arrowRowWriter(root: org.apache.arrow.vector.VectorSchemaRoot): RowArrowWriter =
    new RowArrowWriter(org.apache.spark.sql.execution.arrow.ArrowWriter.create(root))

  /** DataFrame over an RDD of InternalRows (the catalyst-typed ingest
    * path — no external-Row conversion pass). */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
