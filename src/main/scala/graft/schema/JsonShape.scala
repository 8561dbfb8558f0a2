package graft.schema

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonToken, StreamReadConstraints}
import org.apache.spark.unsafe.Platform
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
  * what [[JTypeCodec]], the lowering to Spark types and the recursive
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
    * an object is [[JTop]], which the inference folds skip as invalid
    * ([[ShapeFold]]; the reference silently emits `ERROR` DDL instead —
    * `CreateHQL.scala:91`, SURVEY.md §1.2). */
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
    else settle(acc, walk(parser(line), acc, typed, anyValue = false), line, typed)

  /** [[fold]] over a row's UTF-8 bytes, parsed where they sit: equals
    * `fold(acc, line.toString, typed)`, `eq` included. A null row is
    * invalid. */
  def fold(acc: JType, line: UTF8String, typed: Boolean): JType =
    if (acc eq JTop) JTop
    else settle(acc, walk(parser(line), acc, typed, anyValue = false), line, typed)

  /** The fold step once `line` (a `String` or a `UTF8String`) was walked;
    * it is decoded only when it widens `acc`. */
  private def settle(acc: JType, walked: Int, line: AnyRef, typed: Boolean): JType = walked match {
    case Covered => acc
    case Invalid => JTop
    case _ =>
      val merged = JType.merge(acc, ofRecord(line.toString, typed), typed)
      // `acc` can come out equal though the walk gave up: a duplicate key
      // that a later one overrides, or a name `acc` itself holds twice.
      if (merged == acc) acc else merged
  }

  private final val Covered = 0
  private final val Widens = 1
  private final val Invalid = 2

  /** Walks the line `p` reads against `acc`: [[Covered]] when it is one
    * complete JSON value (an object unless `anyValue`) that `acc` subsumes,
    * [[Invalid]] when it is none (a null `p` is a null line), [[Widens]]
    * when the walk stopped at a value `acc` does not subsume. With `acc` =
    * [[JStr]], which subsumes every value, the walk only skips containers:
    * that is the validity check. */
  private def walk(p: JsonParser, acc: JType, typed: Boolean, anyValue: Boolean): Int = {
    if (p == null) return Invalid
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

  private def parser(line: String): JsonParser =
    if (line == null) null else factory.createParser(line)

  /** Over the row's bytes where they sit when [[inPlace]] holds, else over
    * `toString` (malformed bytes read as U+FFFD); null for a null row. */
  private def parser(s: UTF8String): JsonParser =
    if (s == null) null
    else s.getBaseObject match {
      case b: Array[Byte] if inPlace(s) =>
        factory.createParser(b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => factory.createParser(s.toString)
    }

  /** True iff Jackson decodes `s` as `toString` does: well-formed UTF-8
    * (Unicode Table 3-7) that Jackson's encoding detection takes for UTF-8
    * (no NUL in the first four bytes, no byte-order mark). */
  private def inPlace(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = if (i < n) Platform.getByte(base, off + i) & 0xff else -1
    if (at(0) == 0 || at(1) == 0 || at(2) == 0 || at(3) == 0 ||
        (at(0) == 0xef && at(1) == 0xbb && at(2) == 0xbf)) return false
    var i = 0
    while (i < n) {
      if (i + 8 <= n && (Platform.getLong(base, off + i) & 0x8080808080808080L) == 0) i += 8
      else if (at(i) < 0x80) i += 1
      else {
        // The sequence `b` leads: its length and its second byte's range.
        val b = at(i)
        val len =
          if (b < 0xc2) 0 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else if (b < 0xf5) 4 else 0
        val lo = if (b == 0xe0) 0xa0 else if (b == 0xf0) 0x90 else 0x80
        val hi = if (b == 0xed) 0x9f else if (b == 0xf4) 0x8f else 0xbf
        if (len == 0 || at(i + 1) < lo || at(i + 1) > hi) return false
        var k = 2
        while (k < len) { if ((at(i + k) & 0xc0) != 0x80) return false; k += 1 }
        i += len
      }
    }
    true
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

  /** True iff the row is exactly one parseable JSON value; codegen entry
    * point for [[graft.functions.JsonIsValid]]. */
  def isValidUTF8(s: UTF8String): Boolean =
    walk(parser(s), JStr, typed = false, anyValue = true) == Covered

  /** True iff valid JSON AND the top level is an object — the contract a
    * record must meet to contribute to table-schema inference. */
  def isValidObjectUTF8(s: UTF8String): Boolean =
    walk(parser(s), JStr, typed = false, anyValue = false) == Covered
}
