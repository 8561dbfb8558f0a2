package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Fns
import graft.schema.{Ddl, RouteStats, SchemaInference}

/** NDJSON ingestion with valid/invalid routing — the reference's source +
  * routing surface (SURVEY.md §2 ops #1-3, #11) as two lazily-derived
  * DataFrames instead of NiFi relationships.
  *
  * Scale notes: the validity predicate is a codegen'd native expression
  * evaluated inside the scan's whole-stage-codegen span; no row is ever
  * collected — inference moves only one O(schema) buffer per partition
  * (see [[graft.schema.SchemaInference.routedStats]]). The reference
  * materializes the whole content on one thread and reads it twice
  * (`HiveSchemaGenerator.scala:75,98,116`); we read once and route in the
  * same pass.
  */
final case class Routed(valid: DataFrame, invalid: DataFrame)

object JsonIngest {

  /** One row per NDJSON line, column `value: STRING`
    * (reference: `CreateHQL.scala:8-20` line loop). */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Route lines: `valid` = exactly-one-JSON-object lines (admissible for
    * table inference); `invalid` = everything else, content preserved
    * unchanged (reference failure route, `HiveSchemaGenerator.scala:106-111`;
    * content preservation asserted by its tests). */
  def route(lines: DataFrame, col: String = "value"): Routed = {
    val ok = Fns.json_is_object(lines(col))
    Routed(lines.filter(ok), lines.filter(!ok))
  }

  def routeNdjson(spark: SparkSession, path: String): Routed =
    route(readLines(spark, path))

  /** End-to-end reference pipeline (SURVEY.md §3.1 Spark trace): read →
    * route → infer (skipping invalid lines itself) → render DDL. Returns
    * (ddl, routed); None when no line was a valid JSON object. */
  def inferDdl(
      spark: SparkSession,
      path: String,
      tableName: String,
      location: String,
      typed: Boolean = false): (Option[String], Routed) = {
    val lines = readLines(spark, path)
    val ddl = inferRoutedStats(lines, "value", typed).schema
      .map(Ddl.createExternalTable(_, tableName, location))
    (ddl, route(lines))
  }

  /** Schema inference over a JSON-string column of an arbitrary DataFrame
    * (e.g. `events.props` in the test data). None unless every row, and at
    * least one, is a valid JSON object ([[SchemaInference.infer]]). */
  def inferColumnSchema(df: DataFrame, col: String, typed: Boolean = false): Option[StructType] =
    SchemaInference.infer(df.select(df(col)).as(Encoders.STRING), typed)

  /** The whole reference pipeline — validate, route-count, infer — in ONE
    * scan and ONE parse per line, as one stage with no shuffle
    * ([[SchemaInference.routedStats]]; the reference reads twice,
    * `HiveSchemaGenerator.scala:75,98`; SURVEY.md §4 flags it).
    *
    * On [[readLines]] of local, uncompressed files with default options,
    * the lines are read straight off the file bytes ([[LineRanges]]: no
    * scan plan, no broadcast Hadoop conf, no per-line row copy), with the
    * lines Spark's text source would give; any other `df` is planned and
    * its rows folded. For several files, the field order follows the files
    * sorted by path. */
  def inferRoutedStats(df: DataFrame, col: String, typed: Boolean = false): RouteStats =
    SchemaInference.routedStats(df, col, typed)

  /** One-scan routing to two materialized sinks: rows are written under
    * `_graft_valid=true|false` partitions of `outPath`; the validity
    * predicate is evaluated once per row inside the scan's codegen span
    * (the lazy two-DataFrame [[route]] re-scans if both sides are
    * consumed — use this for bulk routing at scale). */
  def routeWrite(lines: DataFrame, outPath: String, col: String = "value"): Unit =
    lines
      .withColumn("_graft_valid", Fns.json_is_object(lines(col)))
      .write.mode("overwrite")
      .partitionBy("_graft_valid")
      .parquet(outPath)
}
