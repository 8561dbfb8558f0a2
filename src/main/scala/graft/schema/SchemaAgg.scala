package graft.schema

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-group schema inference (SQL, `groupBy`) as a typed [[Aggregator]].
  *
  * The reference's core computation is a sequential fold
  * `schema ← merge(schema, parse(line))` over NDJSON lines
  * (`CreateHQL.scala:12-20`). Because the merge is associative with
  * identity [[JNull]], the same fold distributes as a standard Spark
  * partial + final aggregation: each partition folds its rows into one
  * O(schema) buffer, and only the tiny per-partition schemas cross the
  * wire — never rows.
  *
  * Each row folds in through [[ShapeFold]]: a row leaves the buffer the
  * same object (`eq`) iff merging its shape would not change it, and a
  * row that is not a valid single JSON object (null, or nested deeper
  * than [[JsonShape.MaxDepth]], included) is skipped. A group with no
  * valid row has no schema: its result is SQL `NULL`.
  *
  * @param typed false = the reference's STRING-only Hive lattice
  *              (`CreateHQL.scala:81`); true = LONG/DOUBLE/BOOLEAN/STRING.
  */
final class SchemaAgg(typed: Boolean) extends Aggregator[String, JType, String] {
  override def zero: JType = JNull
  override def reduce(b: JType, line: String): JType =
    new ShapeFold(typed, b).add(line).shape
  override def merge(a: JType, b: JType): JType = JType.merge(a, b, typed)
  /** The group's schema as Spark DataType JSON; null when no row was valid. */
  override def finish(r: JType): String = r match {
    case s: JStruct => JType.toDataType(s).json
    case _          => null
  }
  override def bufferEncoder: Encoder[JType] = JTypeCodec.encoder
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

/** The one rule every per-row inference fold keeps for a bad line: a line
  * [[JsonShape.fold]] finds invalid (not exactly one JSON object, nested
  * past [[JsonShape.MaxDepth]], or null) is counted and skipped, so it
  * never poisons `shape`; every other line widens it. Used by
  * [[SchemaInference.routedStats]], [[SchemaAgg]] and
  * [[graft.streaming.PerKeySchema]]. */
final class ShapeFold(typed: Boolean, var shape: JType = JNull) {
  var nValid, nInvalid = 0L
  def add(line: String): this.type = step(JsonShape.fold(shape, line, typed))
  def add(line: UTF8String): this.type = step(JsonShape.fold(shape, line, typed))
  private def step(next: JType): this.type = {
    if (next eq JTop) nInvalid += 1 else { shape = next; nValid += 1 }
    this
  }
}

/** [[SchemaInference.routedStats]]'s result: the valid rows' merged
  * lattice value, lowered to Spark types only on demand, and the counts. */
final case class RouteStats(shape: JType, nValid: Long, nInvalid: Long) {
  /** The table schema; None when no row was a valid JSON object with a
    * field ([[JType.tableSchema]]). */
  def schema: Option[StructType] = JType.tableSchema(shape)
}

object SchemaInference {

  /** Column-level inference aggregate: `infer_schema_agg(jsonCol)` →
    * DataType-JSON string, NULL for a group with no valid row. Usable in
    * `groupBy(...).agg(...)` for per-key schemas. */
  def infer_schema_agg(col: Column, typed: Boolean = false): Column =
    functions.udaf(new SchemaAgg(typed)).apply(col)

  /** Register `infer_schema_agg` / `infer_schema_agg_typed` for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("infer_schema_agg", functions.udaf(new SchemaAgg(false)))
    spark.udf.register("infer_schema_agg_typed", functions.udaf(new SchemaAgg(true)))
  }

  /** Whole-dataset inference: fold every row of `lines` into one schema.
    * None unless every row, and at least one, is a valid JSON object. */
  def infer(lines: Dataset[String], typed: Boolean = false): Option[StructType] = {
    val stats = routedStats(lines.toDF(), lines.columns.head, typed)
    if (stats.nInvalid > 0) None else stats.schema
  }

  /** Routing + schema inference in ONE pass over `col`, a string column.
    * Each partition folds its rows' UTF-8 bytes through [[ShapeFold]]:
    * valid JSON objects widen its schema, any other row (null included)
    * counts invalid. The partitions' [[JTypeCodec]] buffers are collected
    * and merged in partition-index order, so the job has one stage and no
    * shuffle, and the schema equals the sequential fold, field order
    * included ([[JType.merge]] is associative, keeping first-seen order). */
  def routedStats(df: DataFrame, col: String, typed: Boolean = false): RouteStats = {
    val column = df.select(df(col))
    require(column.schema.head.dataType == StringType,
      s"schema inference reads a string column; $col is ${column.schema.head.dataType.sql}")
    val parts = column.queryExecution.toRdd.mapPartitions { rows =>
      val f = new ShapeFold(typed)
      rows.foreach(r => f.add(r.getUTF8String(0)))
      Iterator.single((new JTypeCodec().encode(f.shape), f.nValid, f.nInvalid))
    }.collect()
    val codec = new JTypeCodec
    parts.foldLeft(RouteStats(JNull, 0L, 0L)) { case (s, (bytes, v, i)) =>
      RouteStats(JType.merge(s.shape, codec.decode(bytes), typed), s.nValid + v, s.nInvalid + i)
    }
  }
}
