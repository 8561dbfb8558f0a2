package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.schema.{JsonShape, JType}

/** Per-key evolving schemas via `flatMapGroupsWithState` — the custom
  * stateful-streaming operator (SURVEY.md §2.2 streaming row): one
  * O(schema) state entry per key, an output row only when that key's
  * merged schema changes. State is stored as Spark DataType JSON (string
  * state → stable across restarts, no kryo in the state store).
  */
final case class KeyedSchema(key: String, schemaJson: String)

object PerKeySchema {

  private def foldGroup(
      typed: Boolean)(
      key: String,
      rows: Iterator[(String, String)],
      state: GroupState[String]): Iterator[KeyedSchema] = {
    val prior: JType = state.getOption
      .map(j => JType.fromDataType(DataType.fromJson(j)))
      .getOrElse(graft.schema.JNull)
    val merged = rows.foldLeft(prior) { case (acc, (_, json)) =>
      JsonShape.fold(acc, json, typed)
    }
    JType.toDataType(merged) match {
      case s: StructType =>
        val sj = s.json
        if (state.getOption.contains(sj)) Iterator.empty
        else {
          state.update(sj)
          Iterator.single(KeyedSchema(key, sj))
        }
      case _ => Iterator.empty // poisoned or empty group: keep prior state
    }
  }

  /** `(key, jsonString)` stream → `KeyedSchema` updates. Works on batch
    * and streaming Datasets (Update mode when streaming). */
  def evolve(
      pairs: Dataset[(String, String)],
      typed: Boolean = false): Dataset[KeyedSchema] =
    pairs
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldGroup(typed))(Encoders.STRING, Encoders.product[KeyedSchema])
}
