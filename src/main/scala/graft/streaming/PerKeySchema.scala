package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.schema.{JNull, JType, JTypeCodec, ShapeFold}

/** One key's schema update: the merged lattice value as [[JTypeCodec]]
  * bytes, lowered to Spark types only on demand. */
final case class KeyedSchema(key: String, shape: Array[Byte]) {
  def schema: StructType =
    JType.toDataType(new JTypeCodec().decode(shape)).asInstanceOf[StructType]
}

/** Per-key evolving schemas via `flatMapGroupsWithState` — the custom
  * stateful-streaming operator (SURVEY.md §2.2 streaming row): one
  * O(schema) state entry per key, an output row only when that key's
  * lowered schema changes. The state is the key's merged [[JType]] as
  * [[JTypeCodec]] bytes, so batch cuts and restarts do not change the
  * schema. Each row folds in through [[ShapeFold]]: an invalid line is
  * skipped, and a key with no valid line has no state and emits nothing.
  */
object PerKeySchema {

  private def foldGroup(
      typed: Boolean)(
      key: String,
      rows: Iterator[(String, String)],
      state: GroupState[Array[Byte]]): Iterator[KeyedSchema] = {
    val codec = new JTypeCodec
    val prior = state.getOption.fold(JNull: JType)(codec.decode)
    val f = new ShapeFold(typed, prior)
    rows.foreach { case (_, json) => f.add(json) }
    if (f.shape == prior) Iterator.empty
    else {
      val bytes = codec.encode(f.shape)
      state.update(bytes)
      if (JType.loweredChanged(prior, f.shape)) Iterator.single(KeyedSchema(key, bytes))
      else Iterator.empty
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
        foldGroup(typed))(Encoders.BINARY, Encoders.product[KeyedSchema])
}
