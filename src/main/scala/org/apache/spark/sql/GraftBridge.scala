package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Narrow bridge into Spark's `private[sql]` and `private[spark]` surface.
  *
  * Spark 4.x made `Column(expr)` / `ExpressionUtils` / the function
  * registry `private[sql]`; graft's native Catalyst expressions
  * ([[graft.functions.JsonIsValid]] etc.) still need Column wrapping and
  * SQL-name registration. Everything here delegates to public-jar classes
  * of Apache Spark itself — this file only exists to sit in the `sql`
  * package so the accessors resolve.
  */
object GraftBridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function built from raw expressions. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A new session sharing `spark`'s context and catalog, with copies of
    * its SQL conf, temp views and functions: conf set on the clone leaves
    * `spark` unchanged. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `spark`'s SQL conf. */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The Hadoop conf a file scan with these data-source `options` reads
    * under (session SQL conf and options included). */
  def hadoopConf(spark: SparkSession, options: Map[String, String]): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConfWithOptions(options)

  /** Adds to the running task's input metrics, as a file scan does; the
    * incrementers are `private[spark]`. */
  def addInput(context: TaskContext, bytes: Long, records: Long): Unit = {
    val m = context.taskMetrics().inputMetrics
    m.incBytesRead(bytes)
    m.incRecordsRead(records)
  }

  /** A DataFrame over the analyzed `plan`, as Spark's own v1 sources
    * return a micro-batch. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Starts the streaming `df` into `sink`, a v1 streaming sink instance,
    * in append mode, checkpointing to `checkpoint`: what
    * `DataStreamWriter.start` does once it has built its own sink, which
    * leaves no sink to register. */
  def startQuery(df: DataFrame, sink: Sink, checkpoint: String, trigger: Trigger): StreamingQuery = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.streams.startQuery(None, Some(checkpoint), ds, Map("checkpointLocation" -> checkpoint),
      sink, OutputMode.Append(), trigger = trigger)
  }
}
