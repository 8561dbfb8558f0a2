package graft.schema

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonToken, StreamReadConstraints}
import org.apache.spark.unsafe.types.UTF8String

/** Streaming (token-level, no DOM) extraction of a JSON record's ''shape''.
  *
  * Replaces the reference's per-line `Json.parse` + shape-as-`JsValue` IR
  * (`CreateHQL.scala:19`, SURVEY.md §1.1) with a single Jackson token pass
  * that builds the [[JType]] directly — O(record) time, O(schema) memory,
  * no intermediate JSON tree.
  *
  * The per-row hot path of every inference fold is [[fold]]: it walks a
  * line's tokens against the running schema and builds nothing when the
  * line leaves the schema unchanged, which is almost every line of a
  * uniform stream. [[of]] + [[JType.merge]] stay the reference it falls
  * back to.
  *
  * '''Nesting rule.''' Every parser comes from one factory whose read
  * constraints cap nesting at [[MaxDepth]] objects/arrays. A deeper line
  * fails to parse, so it is invalid everywhere at once: [[of]], [[fold]]
  * and the validity predicates. The cap keeps each inferred schema within
  * what the DataType-JSON round trip, [[JTypeCodec]] and the recursive
  * walks here can carry; without it one deep line failed a whole job.
  */
object JsonShape {

  /** Deepest object/array nesting a line may have and still be valid. */
  val MaxDepth = 100

  private val factory = new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.builder().maxNestingDepth(MaxDepth).build())
    .build()

  /** Shape of one JSON document, or None if it does not parse as a single
    * complete JSON value (trailing garbage counts as invalid — stricter
    * than the reference's first-value-only `checkJSONValid`,
    * `HiveSchemaGenerator.scala:77-95`; divergence noted in SURVEY.md §2 #3). */
  def of(json: String, typed: Boolean): Option[JType] = {
    if (json == null) return None
    val p = factory.createParser(json)
    try {
      val t = p.nextToken()
      if (t == null) return None
      val shape = read(p, t, typed)
      if (p.nextToken() != null) None else Some(shape) // require EOF
    } catch {
      case _: Exception => None
    } finally p.close()
  }

  private def read(p: JsonParser, t: JsonToken, typed: Boolean): JType = t match {
    case JsonToken.START_OBJECT =>
      val fields = Vector.newBuilder[(String, JType)]
      var tok = p.nextToken()
      while (tok != JsonToken.END_OBJECT) {
        val name = p.currentName()
        fields += name -> read(p, p.nextToken(), typed)
        tok = p.nextToken()
      }
      JStruct(fields.result())
    case JsonToken.START_ARRAY =>
      // Merge ALL element shapes (sane divergence from the reference's
      // head-only array handling, CreateHQL.scala:55 — see SURVEY.md §1.2).
      var elem: JType = JNull
      var tok = p.nextToken()
      while (tok != JsonToken.END_ARRAY) {
        elem = JType.merge(elem, read(p, tok, typed), typed)
        tok = p.nextToken()
      }
      JArr(elem)
    case JsonToken.VALUE_NULL => JNull
    case other                => scalar(other, typed)
  }

  private def scalar(t: JsonToken, typed: Boolean): JType = t match {
    case JsonToken.VALUE_STRING  => JStr
    case JsonToken.VALUE_NUMBER_INT   => if (typed) JLong else JStr
    case JsonToken.VALUE_NUMBER_FLOAT => if (typed) JDouble else JStr
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => if (typed) JBool else JStr
    case other => throw new IllegalStateException(s"unexpected token $other")
  }

  /** Shape for inference over NDJSON rows: a record whose top level is not
    * an object poisons the aggregate to [[JTop]] (the reference silently
    * emits `ERROR` DDL instead — `CreateHQL.scala:91`, SURVEY.md §1.2). */
  def ofRecord(json: String, typed: Boolean): JType = of(json, typed) match {
    case Some(s: JStruct) => s
    case Some(_)          => JTop
    case None             => JTop
  }

  /** One step of the inference fold: equals
    * `JType.merge(acc, ofRecord(line, typed), typed)`.
    *
    * Subsumption contract: the returned accumulator is `acc` itself (`eq`)
    * iff merging the line's shape would not change it. Such a line is
    * checked by one token walk against `acc` and builds no shape and runs
    * no merge; a line that widens `acc` or is invalid falls back to
    * [[ofRecord]] + [[JType.merge]]. An invalid line (not exactly one JSON
    * object, or nested deeper than [[MaxDepth]]) yields [[JTop]]; a `JTop`
    * accumulator absorbs every line unparsed. */
  def fold(acc: JType, line: String, typed: Boolean): JType =
    if (acc eq JTop) JTop
    else walk(line, acc, typed, anyValue = false) match {
      case Covered => acc
      case Invalid => JTop
      case _ =>
        val merged = JType.merge(acc, ofRecord(line, typed), typed)
        // A line can leave `acc` equal while the walk gave up on it: an
        // earlier duplicate key that the last one overrides, or a name
        // `acc` itself holds twice.
        if (merged == acc) acc else merged
    }

  private final val Covered = 0
  private final val Widens = 1
  private final val Invalid = 2

  /** Walks `line` against `acc`: [[Covered]] when it is one complete JSON
    * value (an object unless `anyValue`) that `acc` subsumes, [[Invalid]]
    * when it is none, [[Widens]] when the walk stopped at a value `acc`
    * does not subsume. With `acc` = [[JStr]], which subsumes every value,
    * the walk only skips containers: that is the validity check. */
  private def walk(line: String, acc: JType, typed: Boolean, anyValue: Boolean): Int = {
    if (line == null) return Invalid
    val p = factory.createParser(line)
    try {
      val t = p.nextToken()
      if (t == null || (t != JsonToken.START_OBJECT && !anyValue)) Invalid
      else if (!covers(p, t, acc, typed)) Widens
      else if (p.nextToken() != null) Invalid
      else Covered
    } catch {
      case _: Exception => Invalid
    } finally p.close()
  }

  /** True iff `JType.merge(acc, shape of the value at t) == acc`. Reads the
    * whole value when true; may stop inside it when false. */
  private def covers(p: JsonParser, t: JsonToken, acc: JType, typed: Boolean): Boolean =
    t match {
      case JsonToken.VALUE_NULL => true
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY if acc eq JStr =>
        p.skipChildren()
        true
      case JsonToken.START_OBJECT => acc match {
        case s: JStruct =>
          var tok = p.nextToken()
          while (tok != JsonToken.END_OBJECT) {
            val i = s.slot(p.currentName())
            if (i < 0 || !covers(p, p.nextToken(), s.fields(i)._2, typed)) return false
            tok = p.nextToken()
          }
          true
        case _ => false
      }
      case JsonToken.START_ARRAY => acc match {
        // An array's shape merges all its elements, so `acc` subsumes it
        // iff it subsumes every element.
        case JArr(e) =>
          var tok = p.nextToken()
          while (tok != JsonToken.END_ARRAY) {
            if (!covers(p, tok, e, typed)) return false
            tok = p.nextToken()
          }
          true
        case _ => false
      }
      case _ =>
        val s = scalar(t, typed)
        (acc eq s) || (acc eq JStr) || ((acc eq JDouble) && (s eq JLong))
    }

  /** True iff the string is exactly one parseable JSON value. */
  def isValid(json: String): Boolean = walk(json, JStr, typed = false, anyValue = true) == Covered

  /** Codegen entry point for [[graft.functions.JsonIsValid]]. */
  def isValidUTF8(s: UTF8String): Boolean = s != null && isValid(s.toString)

  /** True iff valid JSON AND the top level is an object — the contract a
    * record must meet to contribute to table-schema inference. */
  def isValidObject(json: String): Boolean =
    walk(json, JStr, typed = false, anyValue = false) == Covered

  def isValidObjectUTF8(s: UTF8String): Boolean =
    s != null && isValidObject(s.toString)
}
