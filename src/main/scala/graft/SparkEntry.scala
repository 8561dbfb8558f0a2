package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{Assembly, Audit, Behavior, Extended, LlmOps, Mining, Parity, Q, Relational, Search, StreamingQ}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every declared query, in catalog order. */
  def catalog: Seq[Q] =
    Relational.all ++ Parity.all ++ Parity.extra ++ LlmOps.all ++
      Extended.all ++ Behavior.all ++ StreamingQ.all ++ Search.all ++
      Mining.all ++ Assembly.all ++ Audit.all

  /** Flagship: the reference's whole pipeline (validate + route + infer +
    * DDL) over events.props at sf0.001 — ONE scan, one parse per line via
    * `inferRoutedStats`'s partition fold — folded into one row (rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val stats = graft.sources.JsonIngest
      .inferRoutedStats(graft.queries.Tables.events(spark, dir), "props")
    val ddl = stats.schema
      .map(graft.schema.Ddl.createExternalTable(_, "events_props", "/tmp/events_props"))
      .getOrElse("!INVALID")
    import spark.implicits._
    Seq((stats.nValid, stats.nInvalid, ddl)).toDF("n_valid", "n_invalid", "ddl")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
