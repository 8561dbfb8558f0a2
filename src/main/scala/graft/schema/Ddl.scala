package graft.schema

import org.apache.spark.sql.types._

/** Hive DDL rendering — the reference's output surface
  * (`CreateHQL.scala:68-99`): `DROP TABLE` + `CREATE EXTERNAL TABLE` with
  * tab-indented backticked columns, JsonSerDe row format and an HDFS
  * location, with `[.-] → _` identifier sanitization (`CreateHQL.scala:97`).
  *
  * Differences from the reference (SURVEY.md §7.4):
  *  - column order is deterministic first-seen order (reference is Scala
  *    hash-map order, `CreateHQL.scala:58`);
  *  - sanitization is applied to field ''names'' recursively, not via a
  *    regex over the whole rendered block (same result on the reference's
  *    grammar — type keywords contain no `.` or `-` — but robust);
  *  - `dropIfExists=true` renders `DROP TABLE IF EXISTS` (the reference's
  *    unguarded `DROP TABLE` fails on a fresh metastore,
  *    `CreateHQL.scala:95`); pass false for byte-parity.
  */
object Ddl {

  val JsonSerDe = "org.apache.hive.hcatalog.data.JsonSerDe"

  /** Reference `CreateHQL.scala:97`: dots/dashes in JSON keys (e.g. NiFi
    * attribute names like `server.timezone`) are illegal in Hive
    * identifiers. */
  def sanitizeName(name: String): String = name.replaceAll("[.-]", "_")

  def sanitize(dt: DataType): DataType = dt match {
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(name = sanitizeName(f.name), dataType = sanitize(f.dataType))))
    case ArrayType(e, n) => ArrayType(sanitize(e), n)
    case MapType(k, v, n) => MapType(sanitize(k), sanitize(v), n)
    case other => other
  }

  /** Hive type name for a leaf (typed lattice renders real Hive
    * primitives; the STRING-only lattice never produces them). */
  private def leaf(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE"
    case BooleanType            => "BOOLEAN"
    case _                      => "STRING"
  }

  /** Recursive pretty-printer, reference `CreateHQL.scala:68-83`:
    * tab-indented, `ARRAY<...>` / `STRUCT<`k`: ...>` / leaf. */
  def render(dt: DataType, indent: Int = 0, key: Option[String] = None): String = {
    val pad = "\t" * indent
    pad + key.fold("")(_ + " ") + (dt match {
      case ArrayType(e, _) =>
        Seq("ARRAY<", render(e, indent + 1), s"$pad>").mkString("\n")
      // Map with a leaf value renders inline (`MAP<STRING,STRING>` — the
      // attribute-map shape mapify produces); composite values indent
      // like ARRAY. Hive map keys are always STRING in this lattice.
      case MapType(_, v, _)
          if !v.isInstanceOf[ArrayType] && !v.isInstanceOf[StructType] &&
            !v.isInstanceOf[MapType] =>
        s"MAP<STRING,${leaf(v)}>"
      case MapType(_, v, _) =>
        Seq("MAP<STRING,", render(v, indent + 1), s"$pad>").mkString("\n")
      case StructType(fs) =>
        "STRUCT<\n" + fs.map { f =>
          render(f.dataType, indent + 1, Some("`" + f.name + "`:"))
        }.mkString(",\n") + "\n" + pad + ">"
      case other => leaf(other)
    })
  }

  /** Column block of a CREATE TABLE — reference `definition`,
    * `CreateHQL.scala:85-92`. */
  def columns(schema: StructType, indent: Int = 1): String =
    schema.fields.map { f =>
      render(f.dataType, indent, Some("`" + f.name + "`"))
    }.mkString(",\n")

  /** The CREATE statement alone (no DROP prefix, no trailing `;`) —
    * executable as a single `spark.sql` call in Hive mode. */
  def createStatement(
      schema: StructType,
      name: String,
      location: String,
      serde: String = JsonSerDe): String = {
    // Hive rejects an empty column block with a parse error that names
    // neither the table nor the cause.
    require(schema.nonEmpty, s"table $name has no column; Hive rejects a CREATE with none")
    Seq(
      s"CREATE EXTERNAL TABLE $name (",
      columns(sanitize(schema).asInstanceOf[StructType]),
      s") ROW FORMAT SERDE '$serde'",
      s"location '$location'").mkString("\n")
  }

  /** Hive-partitioned variant: `partitions` (name → Hive type) render
    * as `PARTITIONED BY` and are EXCLUDED from the column block (Hive
    * stores partition values in the directory layout, not the files).
    * At 100 TB a dt/source partition scheme is what makes
    * partition-pruned scans and `DROP PARTITION` retention possible —
    * the reference has no analog (single-table DDL only). */
  def createPartitionedStatement(
      schema: StructType,
      partitions: Seq[(String, String)],
      name: String,
      location: String,
      serde: String = JsonSerDe): String = {
    // Compare SANITIZED, case-folded names: Hive identifiers are
    // case-insensitive and this module's whole point is [.-]→_
    // sanitization — matching raw names would let "server.timezone"
    // slip past a "server_timezone" partition spec and render the same
    // column in both the column block and PARTITIONED BY (invalid DDL).
    def norm(n: String) = sanitizeName(n).toLowerCase(java.util.Locale.ROOT)
    val pnames = partitions.map(p => norm(p._1)).toSet
    val dataCols = StructType(schema.fields.filterNot(f => pnames.contains(norm(f.name))))
    // Hive rejects a CREATE TABLE with an empty column block; catching it
    // here turns "every schema field was claimed as a partition" into a
    // clear error instead of invalid DDL shipped to the metastore.
    require(dataCols.nonEmpty,
      s"partition spec ${partitions.map(_._1).mkString("[", ",", "]")} covers " +
        "every schema field; at least one non-partition column is required")
    val pclause = partitions
      .map { case (p, t) => s"`${sanitizeName(p)}` $t" }.mkString(", ")
    Seq(
      s"CREATE EXTERNAL TABLE $name (",
      columns(sanitize(dataCols).asInstanceOf[StructType]),
      s") PARTITIONED BY ($pclause)",
      s"ROW FORMAT SERDE '$serde'",
      s"location '$location'").mkString("\n")
  }

  /** Full artifact — reference `table`, `CreateHQL.scala:94-99`. */
  def createExternalTable(
      schema: StructType,
      name: String,
      location: String,
      dropIfExists: Boolean = true,
      serde: String = JsonSerDe): String = {
    val drop = if (dropIfExists) s"DROP TABLE IF EXISTS $name;" else s"DROP TABLE $name;"
    drop + "\n" + createStatement(schema, name, location, serde) + ";"
  }

  /** Field-level drift between an old inferred schema and a re-inference
    * on a newer cohort — the migration-planning step when a producer
    * rollout changes the payload shape. Names compare after
    * sanitization + case-fold (Hive identifier semantics); types
    * compare on the rendered Hive type, so INT vs LONG (same BIGINT
    * leaf) is NOT a retype while BIGINT→STRING widening is. */
  final case class SchemaDrift(
      added: Seq[StructField],
      removed: Seq[String],
      retyped: Seq[(String, String, String)])

  def diffSchemas(oldS: StructType, newS: StructType): SchemaDrift = {
    def norm(n: String) = sanitizeName(n).toLowerCase(java.util.Locale.ROOT)
    def hive(dt: DataType) = render(sanitize(dt))
    // Distinct JSON keys can collide after sanitize+case-fold
    // ("server.zone" vs "server_zone"): a Map would silently keep one
    // and the drift report would lose the other — and the rendered DDL
    // for such a schema is invalid anyway (duplicate Hive columns).
    // Fail fast with the colliding names instead of misreporting.
    for (fields <- Seq(oldS.fields, newS.fields)) {
      val dup = fields.groupBy(f => norm(f.name)).filter(_._2.length > 1)
      require(dup.isEmpty,
        "schema fields collide after sanitization (duplicate Hive " +
          s"columns): ${dup.values.flatten.map(_.name).mkString(", ")}")
    }
    val o = oldS.fields.map(f => norm(f.name) -> f).toMap
    val n = newS.fields.map(f => norm(f.name) -> f).toMap
    SchemaDrift(
      added = newS.fields.filterNot(f => o.contains(norm(f.name))).toVector,
      removed = oldS.fields.map(_.name).filterNot(x => n.contains(norm(x))).toVector,
      retyped = oldS.fields.flatMap { f =>
        n.get(norm(f.name)).collect {
          case g if hive(g.dataType) != hive(f.dataType) =>
            (f.name, hive(f.dataType), hive(g.dataType))
        }
      }.toVector)
  }

  /** Hive migration script for a drift: one ADD COLUMNS for the new
    * fields plus a CHANGE COLUMN per retype, both name-sorted for
    * determinism. Removed fields are deliberately NOT dropped — Hive
    * cannot drop a column without rewriting the data; they simply read
    * NULL for new files and stay queryable for old ones. */
  def alterStatements(table: String, drift: SchemaDrift): Seq[String] = {
    val adds =
      if (drift.added.isEmpty) Seq.empty[String]
      else Seq(s"ALTER TABLE $table ADD COLUMNS (" +
        drift.added.sortBy(_.name).map(f =>
          s"`${sanitizeName(f.name)}` ${render(sanitize(f.dataType))}")
          .mkString(", ") + ")")
    val changes = drift.retyped.sortBy(_._1).map { case (c, _, nt) =>
      s"ALTER TABLE $table CHANGE COLUMN `${sanitizeName(c)}` `${sanitizeName(c)}` $nt"
    }
    adds ++ changes
  }

  /** Spark-executable equivalent (`USING JSON`): Spark's non-Hive catalogs
    * reject `ROW FORMAT SERDE` but this registers the same external JSON
    * table against the session catalog (SURVEY.md §2 op #9). */
  def createTableSparkSql(schema: StructType, name: String, location: String): Seq[String] = {
    val cols = sanitize(schema).asInstanceOf[StructType].fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    Seq(
      s"DROP TABLE IF EXISTS $name",
      s"CREATE TABLE $name ($cols) USING JSON LOCATION '$location'")
  }
}
