package graft.schema

/** Schema lattice for JSON shape inference.
  *
  * Re-expresses the reference engine's inference lattice
  * (`nifi-hive-schema-generator-processors/.../CreateHQL.scala:50-66`) as a
  * small serializable ADT instead of reusing parsed JSON trees as schema IR.
  *
  * Two lattices are supported:
  *
  *  - '''Hive mode''' (the reference's semantics, `CreateHQL.scala:81`):
  *    every primitive collapses to [[JString]] — the only constructors are
  *    `STRING | ARRAY<t> | STRUCT<...>`; any conflict widens to `STRING`
  *    (`CreateHQL.scala:63-64`); `null` is the merge identity
  *    (`CreateHQL.scala:53-54`).
  *  - '''Typed mode''' (a sane extension): primitives keep
  *    LONG/DOUBLE/BOOLEAN/STRING; `LONG ⊔ DOUBLE = DOUBLE`; any other
  *    primitive conflict, or scalar-vs-composite conflict, widens to STRING
  *    (matching Spark's own `JsonInferSchema.compatibleType` lattice top).
  *
  * Deliberate divergences from the reference (documented in SURVEY.md §1.2):
  *  - struct field order is deterministic '''first-seen''' order, not Scala
  *    hash-map order (`CreateHQL.scala:58`);
  *  - arrays merge '''all''' elements, not just the head
  *    (`CreateHQL.scala:55,72-73` drops fields present only in 2nd+ elements);
  *  - a top-level non-object record shapes to [[JTop]], so the inference
  *    folds count it invalid and skip it instead of emitting `ERROR` DDL
  *    (`CreateHQL.scala:91`).
  *
  * The merge is associative and commutative-up-to-field-order, so it
  * distributes (see [[SchemaInference.routedStats]] and [[SchemaAgg]]).
  */
sealed trait JType extends Serializable

/** Bottom / merge identity (reference: `CreateHQL.scala:53-54`). */
case object JNull extends JType
/** Lattice top among primitives; every conflict widens here. */
case object JStr extends JType
case object JLong extends JType
case object JDouble extends JType
case object JBool extends JType
final case class JArr(elem: JType) extends JType
/** First-seen field order preserved. */
final case class JStruct(fields: Vector[(String, JType)]) extends JType {
  /** Field position by name for [[JsonShape.fold]]'s subsumption walk;
    * -1 marks a name held twice. Built on the first lookup (only
    * accumulators are ever looked up) and dropped with the struct. */
  @transient private lazy val slots: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](fields.size * 2)
    var i = 0
    fields.foreach { case (k, _) =>
      m.put(k, if (m.containsKey(k)) -1 else i)
      i += 1
    }
    m
  }
  /** Position of the one field named `name`; -1 when absent or held twice. */
  private[schema] def slot(name: String): Int = {
    val i = slots.get(name)
    if (i == null) -1 else i
  }
}
/** String-keyed map — never produced by raw inference (JSON objects
  * parse as [[JStruct]], like the reference, `CreateHQL.scala:57-61`);
  * introduced only by the post-aggregation [[JType.mapify]]
  * normalization for attribute-map-shaped structs. */
final case class JMap(value: JType) extends JType
/** Poison: a top-level record was not a JSON object (or structurally
  * unusable). [[JsonShape.fold]] returns it for such a line; the
  * inference folds skip that line ([[ShapeFold]]). */
case object JTop extends JType

object JType {

  /** Least upper bound of two shapes. Associative; commutative up to
    * first-seen struct field order. `typed=false` is the reference's
    * STRING-only Hive lattice. */
  def merge(a: JType, b: JType, typed: Boolean): JType = (a, b) match {
    case (JTop, _) | (_, JTop)    => JTop
    case (JNull, x)               => x
    case (x, JNull)               => x
    case (JArr(x), JArr(y))       => JArr(merge(x, y, typed))
    case (JStruct(ax), JStruct(bx)) =>
      if (ax.isEmpty) JStruct(bx)
      else if (bx.isEmpty) JStruct(ax)
      else {
        val bm = bx.toMap
        val aKeys = ax.iterator.map(_._1).toSet
        val mergedA = ax.map { case (k, v) =>
          bm.get(k) match {
            case Some(bv) => k -> merge(v, bv, typed)
            case None     => k -> v
          }
        }
        JStruct(mergedA ++ bx.filterNot { case (k, _) => aKeys.contains(k) })
      }
    // Map ⊔ map joins values; map ⊔ struct folds the struct's values in
    // (a struct IS a map observation once one side has been normalized).
    case (JMap(x), JMap(y))       => JMap(merge(x, y, typed))
    case (JMap(x), JStruct(fs))   =>
      JMap(fs.foldLeft(x) { case (acc, (_, v)) => merge(acc, v, typed) })
    case (JStruct(fs), JMap(x))   =>
      JMap(fs.foldLeft(x) { case (acc, (_, v)) => merge(acc, v, typed) })
    case (x, y) if x == y         => x
    case (JLong, JDouble) | (JDouble, JLong) if typed => JDouble
    // Any other conflict (scalar vs scalar, scalar vs composite,
    // array vs struct) widens to STRING — reference `CreateHQL.scala:63-64`.
    case _                        => JStr
  }

  /** Post-aggregation normalization: collapse structs that look like
    * string-keyed attribute maps into `MAP<STRING, τ>`.
    *
    * The reference renders EVERY JSON object as a STRUCT
    * (`CreateHQL.scala:57-61,75-79`) — so a high-cardinality key space
    * (its own test fixture's `updatedAttributes`,
    * `T/resources/flowfile.json`) becomes an ever-growing struct whose
    * DDL changes with every new key. A struct with at least `threshold`
    * keys whose values share one uniform type is collapsed to [[JMap]]
    * of that type instead.
    *
    * Runs AFTER the distributed fold, never inside it: the threshold
    * test is not associative (two half-sized observations could each
    * stay below it), while the post-pass sees the final key set —
    * keeping [[merge]] a true lattice join that Spark can parallelize.
    */
  def mapify(t: JType, threshold: Int, typed: Boolean): JType = t match {
    case JStruct(fs) =>
      val norm = fs.map { case (k, v) => k -> mapify(v, threshold, typed) }
      if (norm.size >= threshold) {
        val lub = norm.foldLeft(JNull: JType) {
          case (acc, (_, v)) => merge(acc, v, typed)
        }
        val uniform = norm.forall { case (_, v) => v == lub || v == JNull }
        if (uniform && lub != JNull && lub != JTop) JMap(lub)
        else JStruct(norm)
      } else JStruct(norm)
    case JArr(e)  => JArr(mapify(e, threshold, typed))
    case JMap(v)  => JMap(mapify(v, threshold, typed))
    case other    => other
  }

  import org.apache.spark.sql.types._

  /** Lower to a Spark SQL type. [[JNull]] leaves render as STRING (an
    * all-null field has no evidence; STRING is the safe lattice top —
    * matches the reference's empty-array → ARRAY&lt;STRING&gt; behavior,
    * `CreateHQL.scala:42,81`). */
  def toDataType(t: JType): DataType = t match {
    case JNull | JStr | JTop => StringType
    case JLong               => LongType
    case JDouble             => DoubleType
    case JBool               => BooleanType
    case JArr(e)             => ArrayType(toDataType(e))
    case JMap(v)             => MapType(StringType, toDataType(v))
    case JStruct(fs) =>
      StructType(fs.map { case (k, v) => StructField(k, toDataType(v)) })
  }

  /** The table schema of an inference fold's value: its Spark struct, or
    * None when the value is not an object or has no field (every valid
    * line was `{}`), as Hive rejects a table with no column. Every fold's
    * output edge ([[RouteStats.schema]],
    * [[graft.streaming.InferStream.SchemaEvolution]]) goes through it. */
  def tableSchema(t: JType): Option[StructType] = toDataType(t) match {
    case s: StructType if s.nonEmpty => Some(s)
    case _                           => None
  }

  /** True iff `after`'s Spark form differs from `before`'s: the change
    * test of every schema an inference fold emits as it evolves
    * ([[graft.streaming.InferStream.SchemaEvolution]],
    * [[graft.streaming.PerKeySchema]]). A `JNull` → `JStr` step changes
    * the lattice value but not the Spark form. */
  def loweredChanged(before: JType, after: JType): Boolean =
    after != before && toDataType(after) != toDataType(before)
}
