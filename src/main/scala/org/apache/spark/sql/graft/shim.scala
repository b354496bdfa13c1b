package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API. Spark 4 made Column construction from expressions
  * `private[sql]` (columnNodeSupport.scala); this shim re-exports just the
  * two conversions graft needs. Lives in the `org.apache.spark.sql`
  * namespace solely for access; contains no Spark code.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a raw logical plan (Dataset.ofRows went `private[sql]`
    * with the Spark 4 classic split). Commands execute eagerly, exactly
    * like `spark.sql`.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Streaming-tagged DataFrame over already-computed internal rows — what
    * a V1 streaming `Source.getBatch` must return (the engine asserts
    * `isStreaming`; `internalCreateDataFrame` went `private[sql]` with the
    * Spark 4 classic split).
    */
  def streamingDataFrame(spark: org.apache.spark.sql.SparkSession,
                         rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                         schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Batch DataFrame over a streaming micro-batch's internal rows — what a
    * V1 `Sink.addBatch` must do before handing the data to a normal batch
    * writer (the incoming frame is incremental-execution-planned; writing
    * it directly would re-trigger the streaming planner).
    */
  def batchDataFrame(spark: org.apache.spark.sql.SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Fork an isolated session over the same SparkContext: shared cached
    * data and catalog, but an independent runtime SQLConf — so a single
    * write can run under a session-scoped conf (e.g. a custom commit
    * protocol) without leaking it to concurrent queries on the caller's
    * session. `cloneSession` (runtime state copied) went `private[sql]`
    * with the Spark 4 classic split.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Drop the blocks of `df`'s local checkpoint now rather than when a GC
    * finds the RDD unreachable. `RDD.unpersist` would do the same but
    * warn that the truncated lineage cannot be recomputed — which is the
    * point of dropping it.
    */
  def dropLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ =>
    }

  /** Register a function builder on an EXISTING session's registry (the
    * extensions path only applies at session construction).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
}
