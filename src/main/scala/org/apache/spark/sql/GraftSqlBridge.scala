package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** `Dataset.ofRows` is private[sql]; graft's custom logical plans
  * ([[graft.plans.AsofJoinPlan]]) need a DataFrame wrapper around a plan
  * they construct. This bridge lives in the org.apache.spark.sql package
  * for that one accessor — the standard technique for libraries that add
  * operators (no Spark internals are modified or copied).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Re-wrap a batch DataFrame's physical RDD as a streaming
    * (isStreaming=true) frame — what a V1 streaming `Source.getBatch` must
    * return (MicroBatchExecution asserts it). `internalCreateDataFrame` is
    * private[sql]; this bridge is the standard technique for V1 custom
    * sources (used by graft.streaming.TableChangesSource).
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    cdf.sparkSession.sqlContext.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  /** Wrap a Catalyst expression as a user-facing Column (private[sql]
    * ExpressionUtils) — how graft.lake.GraftSql turns the parser's
    * UPDATE/DELETE conditions and assignment values into API calls.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A DataFrame's analyzed logical plan — what graft.lake.GraftSql
    * substitutes for a `VERSION AS OF` relation inside a parsed statement
    * (the analyzer leaves already-resolved subtrees alone).
    */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  /** The inverse of [[asStreamingFrame]]: rebind a micro-batch's
    * streaming-planned rows as a plain batch frame — what a V1 `Sink`'s
    * addBatch must do before handing the data to writers that re-plan it
    * (used by graft.streaming.TableSink).
    */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    cdf.sparkSession.sqlContext.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = false)
  }

  /** The session's stable UUID (`sessionUUID` is on the classic class, not
    * the API trait) — graft.lake.GraftSql keys its table registry by it so
    * registrations never leak across sessions.
    */
  def sessionUuid(spark: SparkSession): String =
    spark.asInstanceOf[CSparkSession].sessionUUID

  /** A copy of the session (`cloneSession` is private[sql]) that keeps its
    * runtime conf, temp views, functions, extra strategies and rules —
    * graft.lake.Interpreted runs a table's own commit plans in one.
    */
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[CSparkSession].cloneSession()
}
