package graft.schema

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.{DataType, StructType}

/** Distributed schema inference as a typed [[Aggregator]].
  *
  * The reference's core computation is a sequential fold
  * `schema ← merge(schema, parse(line))` over NDJSON lines
  * (`CreateHQL.scala:12-20`). Because the merge is associative with
  * identity [[JNull]], the same fold distributes as a standard Spark
  * partial + final aggregation: each partition folds its rows into one
  * O(schema) buffer, and only the tiny per-partition schemas cross the
  * wire — never rows. At 100 TB the driver sees O(partitions × |schema|)
  * bytes, which is what makes this design scale where the reference's
  * single-threaded loop cannot.
  *
  * Each row folds in through [[JsonShape.fold]]. Subsumption contract: a
  * row leaves the buffer the same object (`eq`) iff merging its shape
  * would not change it; such a row builds no shape and runs no merge.
  *
  * Rows that are not valid single JSON objects, including rows nested
  * deeper than [[JsonShape.MaxDepth]], poison the result to [[JTop]];
  * pre-filter with [[graft.functions.Fns.json_is_object]] to route them
  * to an invalid side instead (SURVEY.md §2 op #3/#11).
  *
  * @param typed false = the reference's STRING-only Hive lattice
  *              (`CreateHQL.scala:81`); true = LONG/DOUBLE/BOOLEAN/STRING.
  */
final class SchemaAgg(typed: Boolean) extends Aggregator[String, JType, String] {
  override def zero: JType = JNull
  override def reduce(b: JType, line: String): JType =
    JsonShape.fold(b, line, typed)
  override def merge(a: JType, b: JType): JType = JType.merge(a, b, typed)
  /** Lossless Spark DataType JSON (parse back with [[SchemaInference.schemaFromJson]]). */
  override def finish(r: JType): String = JType.toDataType(r) match {
    case s: StructType => s.json
    case _             => SchemaInference.InvalidSchema
  }
  override def bufferEncoder: Encoder[JType] = JTypeCodec.encoder
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

object SchemaInference {

  /** Sentinel returned when the merged top level was not a JSON object —
    * the caller must treat the input as unroutable (the reference instead
    * renders literal `ERROR` into the DDL, `CreateHQL.scala:91`). */
  val InvalidSchema = "!INVALID"

  /** Column-level inference aggregate: `infer_schema_agg(jsonCol)` →
    * DataType-JSON string. Usable in `groupBy(...).agg(...)` for per-key
    * schemas. */
  def infer_schema_agg(col: Column, typed: Boolean = false): Column =
    functions.udaf(new SchemaAgg(typed)).apply(col)

  /** Register `infer_schema_agg` / `infer_schema_agg_typed` for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("infer_schema_agg", functions.udaf(new SchemaAgg(false)))
    spark.udf.register("infer_schema_agg_typed", functions.udaf(new SchemaAgg(true)))
  }

  /** Whole-dataset inference: fold every row of `lines` into one schema.
    * Returns None when the input contained no usable JSON objects. */
  def infer(lines: Dataset[String], typed: Boolean = false): Option[StructType] = {
    val json = lines.select(infer_schema_agg(lines.col(lines.columns.head), typed))
      .as(Encoders.STRING).head()
    schemaFromJson(json)
  }

  /** Post-aggregation attribute-map normalization ([[JType.mapify]])
    * applied per top-level column (the table's own column set is never
    * collapsed — only nested structs can become maps). */
  def mapifySchema(s: StructType, threshold: Int, typed: Boolean): StructType =
    StructType(s.fields.map(f => f.copy(dataType =
      JType.toDataType(
        JType.mapify(JType.fromDataType(f.dataType), threshold, typed)))))

  def schemaFromJson(json: String): Option[StructType] =
    if (json == null || json == InvalidSchema) None
    else DataType.fromJson(json) match {
      case s: StructType => Some(s)
      case _             => None
    }
}
