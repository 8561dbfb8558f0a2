package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.schema.{JNull, JType, RouteStats}

/** Structured-Streaming schema inference — the reference's incremental
  * per-record fold (`CreateHQL.scala:14-20`) lifted to event streams.
  *
  * Each micro-batch runs the single-pass partition fold of
  * [[graft.schema.SchemaInference.routedStats]]; the batch's lattice
  * value is merged into the evolving [[JType]] of [[SchemaEvolution]] —
  * O(schema) state, exactly like the reference's accumulator — and the
  * DDL is re-emitted only when the merged schema's Spark form changes.
  * As the state is never lowered, batch cuts do not change the schema.
  * Each micro-batch reaches graft's own sink ([[InferSink]]) as the
  * batch's text relation, so a plain local batch folds off the file bytes
  * as batch input does (the byte path; on the stream thread, with no Spark
  * job, when the batch is one range), and any other batch folds the rows
  * of the batch's own plan. A plain local directory is listed by graft's
  * own source ([[LocalTextSource]]), which keeps its listing state from
  * one trigger to the next.
  */
object InferStream {

  /** Driver-held evolving schema and routing counts (the stream's only
    * mutable state). */
  final class SchemaEvolution(typed: Boolean = false) {
    @volatile private var current: JType = JNull
    @volatile private var valid, invalid = 0L
    def schema: Option[StructType] = JType.tableSchema(current)
    /** Lines folded into the schema, and lines routed invalid, so far. */
    def validLines: Long = valid
    def invalidLines: Long = invalid
    /** Merge a batch's routed stats, its lattice value and its counts.
      * When the lowered schema changes, the new schema goes to `onChange`
      * first, and the batch is merged only once that returns: a batch
      * whose `onChange` throws leaves the state as it was, so folding it
      * again (after a restart, say) emits the change again and counts its
      * lines once. */
    def add(batch: RouteStats)(onChange: StructType => Unit): Unit = synchronized {
      val next = JType.merge(current, batch.shape, typed)
      if (JType.loweredChanged(current, next)) JType.tableSchema(next).foreach(onChange)
      current = next
      valid += batch.nValid
      invalid += batch.nInvalid
    }
  }

  /** Stream NDJSON files appearing under `inPath`; on every schema
    * change, emit the refreshed CREATE EXTERNAL TABLE DDL via `onDdl`.
    * Invalid lines only bump [[SchemaEvolution.invalidLines]]
    * (poison-free routing). Pass an existing [[SchemaEvolution]] to keep
    * evolving across restarts of the query (the checkpoint dedups input
    * files; the schema state lives with the caller).
    *
    * A plain local directory is read by [[LocalTextSource]]: the files
    * and batches of Spark's `FileStreamSource`, its `sources/0` log and
    * offsets included, without building a Hadoop file index on every
    * trigger. Every other `inPath` keeps Spark's text source: another
    * scheme, a glob, a file sink's output (`_spark_metadata`), a
    * `name=value` subdirectory, or `file:` on a file system that is not
    * stock. The progress's `sources(0).description` names the source
    * (`LocalTextSource[…]` or `FileStreamSource[…]`), and a checkpoint of
    * either resumes under the other.
    *
    * The query runs on a clone of `spark` whose only change is that a
    * local `checkpoint` is written by [[LocalCheckpointFileManager]]:
    * java.nio writes that fork no process, no `.crc` sidecars, no fsync
    * (as with Spark's default manager), and a checkpoint that resumes
    * under Spark's default manager and vice versa. `spark` itself, a
    * non-local checkpoint and every other query keep Spark's default.
    * Listeners registered on `spark.streams` do not see this query; use
    * the returned handle's progress, whose `numInputRows` counts each
    * batch's lines on both of the sink's paths. An exception from `onDdl`
    * fails the query, unwrapped, before the batch commits: a restart on
    * the same checkpoint reads the batch's files again, and a caller-held
    * `state` has not merged the batch, so the restart emits its DDL. */
  def run(
      spark: SparkSession,
      inPath: String,
      checkpoint: String,
      tableName: String,
      location: String,
      onDdl: String => Unit,
      typed: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow(),
      state: Option[SchemaEvolution] = None): StreamingQuery = {
    val evo = state.getOrElse(new SchemaEvolution(typed))
    val session = GraftBridge.cloneSession(spark)
    session.conf.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    val format = LocalTextSource.localDir(session, inPath)
      .fold("text")(_ => classOf[LocalTextSourceProvider].getName)
    GraftBridge.startQuery(session.readStream.format(format).load(inPath),
      new InferSink(evo, onDdl, tableName, location, typed), checkpoint, trigger)
  }

  /** In-stream exact dedup on `idCols` bounded by the watermark —
    * state holds only ids newer than the watermark, so memory is
    * O(ids per watermark horizon), not O(stream). The streaming form of
    * [[graft.operators.Dedup.exact]]. */
  def dedupStream(
      events: DataFrame,
      tsCol: String,
      idCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static enrichment join: each micro-batch of the stream is
    * joined against the (bounded) dimension table, broadcast so the
    * stream side never shuffles — the standard shape for decorating a
    * 100 TB/day event stream with reference data. The static side is
    * re-planned per batch, so a dimension backed by a table picks up
    * slowly-changing updates between batches. */
  def enrich(stream: DataFrame, dim: DataFrame,
             joinExpr: org.apache.spark.sql.Column,
             joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), joinExpr, joinType)

  /** Event-time tumbling window aggregation with a watermark — works on
    * both a streaming and a batch DataFrame (same plan either way). */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowDur: String = "1 hour",
      watermark: String = "10 minutes",
      groupCols: Seq[String] = Seq("event_type")): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +:
        (groupCols.map(col) :+ col("n")): _*)
}
