package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Public face of the `private[sql]` streaming-fallback trait
  * ([[connector.catalog.V2TableWithV1Fallback]]) — the dispatch hook
  * Spark's analyzer (`RelationResolution`) and `DataStreamWriter.toTable`
  * both match on to route `readStream.table(...)` / `writeStream
  * .toTable(...)` of a DSv2 table through its V1 streaming source/sink.
  * The trait is Scala-`private[sql]` though JVM-public (the same
  * extension-package convention the rest of this shim exists for); this
  * empty subtrait re-exports it, nothing more.
  */
trait GraftV1FallbackTable extends connector.catalog.V2TableWithV1Fallback

object GraftSqlShim {
  /** A resolved [[LogicalPlan]] wrapped back into a user-facing DataFrame.
    * `Dataset.ofRows` is package-private by design (Spark expects
    * extensions to live under this package for it), so this forwarding
    * call is the doorway. It serves [[graft.plans.GenTableDml]] only: the
    * `INSERT` and `MERGE INTO` commands run their analyzed source query
    * through the DataFrame API.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression behind a (resolved) Column — Spark 4 moved this
    * off the public Column API into `classic.ExpressionUtils`. */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The inverse: a Column over a catalyst expression (the SQL DML
    * rewrite hands name-unresolved expressions back to the DataFrame
    * API, which re-resolves them against the table's own frame).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A batch frame re-wrapped with `isStreaming = true` — what a DSv1
    * streaming [[org.apache.spark.sql.execution.streaming.Source]] must
    * return from `getBatch` (the engine asserts it), and exactly the
    * `internalCreateDataFrame(..., isStreaming = true)` call Spark's own
    * v1 sources (FileStreamSource, KafkaSource) make. With [[asBatchFrame]]
    * (its sink-side inverse), the only other `private[sql]` surface this
    * library takes.
    */
  def asStreamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val cd = df.asInstanceOf[classic.Dataset[Row]]
    cs.internalCreateDataFrame(cd.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse, for a DSv1 streaming SINK: the frame `addBatch`
    * receives is streaming-tagged (batch actions on it throw
    * "Queries with streaming sources must be executed with
    * writeStream.start()"), so a sink that runs its own jobs re-wraps the
    * batch's already-planned RDD as a batch frame — the exact move
    * Spark's own ForeachBatchSink makes.
    */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val cd = df.asInstanceOf[classic.Dataset[Row]]
    val cs = cd.sparkSession
    cs.internalCreateDataFrame(cd.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }
}
