package graft.schema

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.StructType

/** Routing + schema inference in ONE pass over the input.
  *
  * The reference reads the content twice — once to validate, once to
  * infer (`HiveSchemaGenerator.scala:75,98`) — and SURVEY.md §4 calls that
  * out as the thing not to reproduce at 100 TB. This aggregator folds
  * both concerns into a single partial+final aggregation: each line is
  * walked once by [[JsonShape.fold]]; valid JSON objects fold into the
  * running schema, everything else only bumps the invalid counter. Only
  * O(schema)+2 longs cross the wire per partition.
  *
  * Subsumption contract: a line leaves the schema slot the same object
  * (`eq`) iff merging its shape would not change it; such a line builds
  * no shape and runs no merge. A line nested deeper than
  * [[JsonShape.MaxDepth]] counts as invalid.
  */
final case class RouteStats(schemaJson: String, nValid: Long, nInvalid: Long) {
  def schema: Option[StructType] = SchemaInference.schemaFromJson(schemaJson)
}

final class RouteAgg(typed: Boolean)
    extends Aggregator[String, (JType, Long, Long), RouteStats] {

  override def zero: (JType, Long, Long) = (JNull, 0L, 0L)

  /** The schema slot only ever folds valid objects, so it is never
    * [[JTop]], and [[JsonShape.fold]] returning `JTop` means the line is
    * invalid. */
  override def reduce(b: (JType, Long, Long), line: String): (JType, Long, Long) = {
    val s = JsonShape.fold(b._1, line, typed)
    if (s eq JTop) (b._1, b._2, b._3 + 1) else (s, b._2 + 1, b._3)
  }

  override def merge(a: (JType, Long, Long), b: (JType, Long, Long)): (JType, Long, Long) =
    (JType.merge(a._1, b._1, typed), a._2 + b._2, a._3 + b._3)

  override def finish(r: (JType, Long, Long)): RouteStats = {
    val json = JType.toDataType(r._1) match {
      case s: StructType if r._2 > 0 => s.json
      case _                         => SchemaInference.InvalidSchema
    }
    RouteStats(json, r._2, r._3)
  }

  override def bufferEncoder: Encoder[(JType, Long, Long)] =
    Encoders.tuple(JTypeCodec.encoder, Encoders.scalaLong, Encoders.scalaLong)
  override def outputEncoder: Encoder[RouteStats] = Encoders.product[RouteStats]
}

object RouteAgg {
  /** `route_infer_agg(jsonCol)` → struct(schemaJson, nValid, nInvalid). */
  def route_infer_agg(col: Column, typed: Boolean = false): Column =
    org.apache.spark.sql.functions.udaf(new RouteAgg(typed)).apply(col)
}
