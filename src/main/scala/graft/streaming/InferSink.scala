package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.sources.WriteToMicroBatchDataSourceV1

import graft.schema.{Ddl, SchemaInference}
import graft.sources.LineRanges

/** The v1 streaming sink of [[InferStream.run]]: folds each micro-batch of
  * a text stream into `evo` and, when the merged schema changes, hands the
  * refreshed DDL to `onDdl`.
  *
  * A batch reaches `addBatch` as the analyzed plan
  * `WriteToMicroBatchDataSourceV1` → `Project [value AS value]` → the
  * batch's text relation (a streaming `LogicalRelation` whose file index
  * holds just the batch's files: graft's [[BatchFileIndex]] for a plain
  * local directory, Spark's `InMemoryFileIndex` for any other
  * source path). Below the write node that is the bare
  * relation [[LineRanges.plan]] tests for batch input, so a plain batch
  * folds on the byte path and every other one folds the batch's own rows
  * (`queryExecution.toRdd`, what Spark's `ForeachBatchSink` executes): no
  * second query is planned either way. A byte-path batch whose plan is
  * one range sequence (a batch of at most `spark.sql.files.openCostInBytes`,
  * 4 MB by default, when `defaultParallelism` is above 1) is folded on the
  * stream thread itself and runs no Spark job
  * ([[SchemaInference.rangeStats]]); a larger one runs one job. Stopping
  * the query interrupts an in-place fold, which Spark takes as a stop.
  *
  * The byte path skips the scan, so it adds the batch's lines to the scan
  * leaf's `numOutputRows`, which `StreamingQueryProgress.numInputRows`
  * reads, with or without a job. A batch that throws (in `onDdl` too)
  * fails the query before its commit, so a restart folds it again: the
  * DDL is emitted at least once.
  * The batch is merged into `evo` only once `onDdl` returns, so a restart
  * with the same `evo` emits the DDL again and counts the lines once.
  *
  * Version note: written against Spark 4.1.2, whose v1 `Sink` trait and
  * `WriteToMicroBatchDataSourceV1` node are Spark-internal classes of
  * `org.apache.spark.sql.execution.streaming`. This file is the repo's only
  * user of them, so a Spark upgrade that moves or changes them breaks here
  * alone.
  */
private[streaming] final class InferSink(
    evo: InferStream.SchemaEvolution,
    onDdl: String => Unit,
    tableName: String,
    location: String,
    typed: Boolean) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val exec = data.queryExecution
    val query = exec.analyzed match {
      case w: WriteToMicroBatchDataSourceV1 => w.query
      case p => p
    }
    val stats = LineRanges.plan(data.sparkSession, query, "value") match {
      case Some(ranges) =>
        val s = SchemaInference.rangeStats(data.sparkSession.sparkContext, ranges, typed)
        exec.executedPlan.collectFirst { case scan: FileSourceScanExec => scan }
          .foreach(_.metrics("numOutputRows").add(s.nValid + s.nInvalid))
        s
      // Column 0 is the text source's `value`, its only column.
      case None => SchemaInference.rowStats(exec.toRdd, typed)
    }
    evo.add(stats)(merged => onDdl(Ddl.createExternalTable(merged, tableName, location)))
  }

  override def toString: String = s"InferStream($tableName)"
}
