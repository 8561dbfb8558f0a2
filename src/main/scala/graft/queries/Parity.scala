package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.schema.{Ddl, JType}
import graft.sources.JsonIngest
import Tables.{events, t}

/** Reference-parity queries: the NiFi processor's whole capability
  * (validate → route → infer → DDL, `HiveSchemaGenerator.scala:60-114`,
  * `CreateHQL.scala:6-99`) surfaced as driver-checkable queries over the
  * `events.props` JSON column.
  */
object Parity {

  /** Independent hand-written expectation for the inferred DDL over
    * `events.props` (every record is `{"k": <int>}`; Hive lattice
    * collapses the int to STRING, typed mode keeps BIGINT). */
  private def expectedDdl(hiveType: String): String =
    "DROP TABLE IF EXISTS events_props;\n" +
      "CREATE EXTERNAL TABLE events_props (\n" +
      "\t`k` " + hiveType + "\n" +
      ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n" +
      "location '/tmp/events_props';"

  private def constOracle(value: String, colName: String): String =
    "SELECT '" + value.replace("'", "''") + "' AS " + colName

  val all: Seq[Q] = Seq(

    Q("p01_route_counts",
      "Valid/invalid routing counts over events.props in ONE pass " +
        "(conditional aggregate over the codegen'd json_is_object predicate — " +
        "no double scan, unlike the reference's read-twice onTrigger).",
      (s, dir) => events(s, dir).agg(
        sum(when(Fns.json_is_object(col("props")), 1L).otherwise(0L))
          .cast("long").as("n_valid"),
        sum(when(Fns.json_is_object(col("props")), 0L).otherwise(1L))
          .cast("long").as("n_invalid")),
      Some("""SELECT
        | CAST(count(*) FILTER (WHERE json_valid(props) AND json_type(props) = 'OBJECT') AS BIGINT) AS n_valid,
        | CAST(count(*) FILTER (WHERE NOT (json_valid(props) AND json_type(props) = 'OBJECT')) AS BIGINT) AS n_invalid
        |FROM events""".stripMargin)),

    Q("p02_infer_ddl",
      "End-to-end reference pipeline: distributed schema inference over " +
        "events.props (STRING-only Hive lattice) rendered as the CREATE " +
        "EXTERNAL TABLE artifact.",
      (s, dir) => {
        val ddl = JsonIngest
          .inferColumnSchema(events(s, dir), "props")
          .map(Ddl.createExternalTable(_, "events_props", "/tmp/events_props"))
          .getOrElse("!INVALID")
        import s.implicits._
        Seq(ddl).toDF("ddl")
      },
      Some(constOracle(expectedDdl("STRING"), "ddl"))),

    Q("p03_infer_ddl_typed",
      "Same pipeline on the typed lattice: integers stay BIGINT.",
      (s, dir) => {
        val ddl = JsonIngest
          .inferColumnSchema(events(s, dir), "props", typed = true)
          .map(Ddl.createExternalTable(_, "events_props", "/tmp/events_props"))
          .getOrElse("!INVALID")
        import s.implicits._
        Seq(ddl).toDF("ddl")
      },
      Some(constOracle(expectedDdl("BIGINT"), "ddl")))
    ,
    Q("p04_route_infer_single_pass",
      "Validate + route-count + infer + DDL in ONE pass (a per-partition " +
        "fold): the scalable form of the reference's read-twice loop.",
      (s, dir) => {
        val stats = JsonIngest.inferRoutedStats(events(s, dir), "props")
        val ddl = stats.schema
          .map(Ddl.createExternalTable(_, "events_props", "/tmp/events_props"))
          .getOrElse("!INVALID")
        import s.implicits._
        Seq((stats.nValid, stats.nInvalid, ddl)).toDF("n_valid", "n_invalid", "ddl")
      },
      Some(("""SELECT
        | CAST(count(*) FILTER (WHERE json_valid(props) AND json_type(props) = 'OBJECT') AS BIGINT) AS n_valid,
        | CAST(count(*) FILTER (WHERE NOT (json_valid(props) AND json_type(props) = 'OBJECT')) AS BIGINT) AS n_invalid,
        | '""" + expectedDdl("STRING").replace("'", "''") + """' AS ddl
        |FROM events""").stripMargin))
    ,
    Q("p06_group_schemas",
      "Per-key schema inference: the UDAF inside groupBy — one inferred " +
        "schema per event_type, only O(groups × schema) leaves the agg.",
      (s, dir) => events(s, dir)
        .groupBy("event_type")
        .agg(graft.schema.SchemaInference
          .infer_schema_agg(col("props")).as("schema_json"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        | '{"type":"struct","fields":[{"name":"k","type":"string","nullable":true,"metadata":{}}]}' AS schema_json
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("p05_catalog_roundtrip",
      "Op #9 end-to-end: dump the JSON column as NDJSON, infer its " +
        "schema, register the external table in the session catalog, and " +
        "query it back through the catalog by name.",
      (s, dir) => {
        val props = events(s, dir).select(col("props"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-p05").toString
        props.write.mode("overwrite").text(s"$tmp/data")
        val schema = JsonIngest
          .inferColumnSchema(props, "props")
          .getOrElse(sys.error("no schema inferred"))
        val table = s"graft_p05_${CatalogRun.n.incrementAndGet()}"
        graft.catalog.Register.externalJsonTable(s, schema, table, s"$tmp/data")
        s.table(table).agg(
          count(lit(1)).as("n"),
          sum(col("k").cast("long")).cast("long").as("sum_k"))
      },
      Some("""SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events""".stripMargin)),

    Q("p07_schema_migration",
      "Schema EVOLUTION — the capability the reference's CREATE-only DDL " +
        "stops short of: re-infer on a NEW data cohort and emit the Hive " +
        "migration plan. The new cohort simulates a producer rollout via " +
        "a regex rewrite of the real payloads (k re-emitted as a quoted " +
        "string = retype; a fresh v2 field = addition). Cost is one " +
        "O(schema)-to-the-driver inference aggregation per cohort; the " +
        "migration DDL is ADD COLUMNS + CHANGE COLUMN (removals stay — " +
        "Hive can't drop a column without rewriting the data).",
      (s, dir) => {
        val ev = events(s, dir)
        val oldS = JsonIngest.inferColumnSchema(
          ev.filter(col("event_id") % 5 =!= 0), "props", typed = true)
        val newS = JsonIngest.inferColumnSchema(
          ev.filter(col("event_id") % 5 === 0)
            .withColumn("props", regexp_replace(col("props"),
              "\\{\"k\": (\\d+)\\}", "{\"k\": \"$1\", \"v2\": \"beta\"}")),
          "props", typed = true)
        val drift = (oldS, newS) match {
          case (Some(o), Some(n)) => Ddl.diffSchemas(o, n)
          case _                  => Ddl.SchemaDrift(Nil, Nil, Nil)
        }
        val ddl = Ddl.alterStatements("events_props", drift).mkString(";\n")
        import s.implicits._
        Seq((drift.added.size.toLong, drift.removed.size.toLong,
          drift.retyped.size.toLong, ddl))
          .toDF("n_added", "n_removed", "n_retyped", "migration_ddl")
      },
      // The oracle re-derives the drift from the DATA (json_keys +
      // json_type per cohort, same regex rewrite) — not a pasted string.
      Some("""WITH o AS (
        |  SELECT k,
        |    CASE WHEN bool_and(json_type(props, '$.' || k) IN ('UBIGINT','BIGINT','INTEGER'))
        |         THEN 'BIGINT' ELSE 'STRING' END AS t
        |  FROM (SELECT props, unnest(json_keys(props)) AS k
        |        FROM events WHERE event_id % 5 <> 0)
        |  GROUP BY k),
        |n AS (
        |  SELECT k,
        |    CASE WHEN bool_and(json_type(props, '$.' || k) IN ('UBIGINT','BIGINT','INTEGER'))
        |         THEN 'BIGINT' ELSE 'STRING' END AS t
        |  FROM (SELECT props, unnest(json_keys(props)) AS k FROM (
        |          SELECT regexp_replace(props,
        |            '\{"k": (\d+)\}', '{"k": "\1", "v2": "beta"}') AS props
        |          FROM events WHERE event_id % 5 = 0))
        |  GROUP BY k),
        |added AS (SELECT k, t FROM n WHERE k NOT IN (SELECT k FROM o)),
        |removed AS (SELECT k FROM o WHERE k NOT IN (SELECT k FROM n)),
        |retyped AS (SELECT o.k, n.t AS nt FROM o JOIN n USING (k) WHERE o.t <> n.t),
        |stmts AS (
        |  SELECT * FROM (
        |    SELECT 0 AS ord, '' AS k,
        |      'ALTER TABLE events_props ADD COLUMNS (' ||
        |      string_agg('`' || k || '` ' || t, ', ' ORDER BY k) || ')' AS stmt
        |    FROM added HAVING COUNT(*) > 0
        |    UNION ALL
        |    SELECT 1, k,
        |      'ALTER TABLE events_props CHANGE COLUMN `' || k || '` `' || k || '` ' || nt
        |    FROM retyped))
        |SELECT
        |  (SELECT COUNT(*) FROM added) AS n_added,
        |  (SELECT COUNT(*) FROM removed) AS n_removed,
        |  (SELECT COUNT(*) FROM retyped) AS n_retyped,
        |  (SELECT string_agg(stmt, ';' || chr(10) ORDER BY ord, k) FROM stmts)
        |    AS migration_ddl""".stripMargin))
  )

  private object CatalogRun {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  val extra: Seq[Q] = Seq(
    Q("p08_param_eval",
      "Op #12 as a DISTRIBUTED query: the reference evaluates " +
        "`${attr}` expression-language per flowfile on one thread " +
        "(HiveSchemaGenerator.scala:65-73); here graft.catalog.Params " +
        "resolves the same template against each record's attribute map " +
        "in a UDF, then routing counts per resolved target — per-record " +
        "dynamic table names at scan throughput. Unknown attributes " +
        "resolve to '' (NiFi EL behavior), exercised by ${missing}.",
      (s, dir) => {
        val resolve = udf((template: String, et: String, uid: Long) =>
          graft.catalog.Params.resolve(template,
            Map("event_type" -> et, "user" -> uid.toString)))
        events(s, dir)
          .select(resolve(
            lit("events_${event_type}/u=${user}/x=${missing}"),
            col("event_type"), col("user_id")).as("target"))
          .groupBy(substring_index(col("target"), "/", 1).as("table_name"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("target")).as("n_targets"))
          .orderBy("table_name")
      },
      Some("""SELECT 'events_' || event_type AS table_name,
        | COUNT(*) AS n,
        | CAST(COUNT(DISTINCT 'events_' || event_type || '/u=' || user_id
        |   || '/x=') AS BIGINT) AS n_targets
        |FROM events GROUP BY 1 ORDER BY table_name""".stripMargin)),

    Q("p09_hive_metastore_roundtrip",
      "Op #9 against a REAL HiveExternalCatalog (enableHiveSupport + " +
        "embedded derby — the metastore code path the reference's DDL " +
        "targets, minus the thrift hop; graft.catalog.HiveMode): execute " +
        "the reference-shaped CREATE EXTERNAL TABLE ... ROW FORMAT SERDE " +
        "... LOCATION DDL against the Hive catalog, gate the stored " +
        "metadata (EXTERNAL type + serde lib via the catalog API), then " +
        "re-read the table by name through the HiveTableScan path and " +
        "aggregate. The serde is the engine's own graft.hive.JsonLineSerDe " +
        "(this distribution ships no hcatalog JsonSerDe jar, and Hive " +
        "instantiates the serde class at CREATE time — shipping a working " +
        "serde makes the reference's DDL executable, not just renderable).",
      (s, dir) => {
        val props = events(s, dir).select(col("props"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-p09").toString
        val hs = graft.catalog.HiveMode.session(s)
        val serdeTable = s"graft_p09_serde_${CatalogRun.n.incrementAndGet()}"
        try {
          props.write.mode("overwrite").text(s"$tmp/data")
          val schema = JsonIngest
            .inferColumnSchema(props, "props", typed = true)
            .getOrElse(sys.error("no schema inferred"))
          val ourSerde = classOf[graft.hive.JsonLineSerDe].getName
          hs.sql(s"DROP TABLE IF EXISTS $serdeTable")
          hs.sql(Ddl.createStatement(schema, serdeTable, s"$tmp/data",
            serde = ourSerde))
          val meta = graft.catalog.MetastoreInternal
            .tableMetadata(hs, serdeTable)
          val serdeLib = meta.storage.serde.getOrElse("")
          require(meta.tableType.name == "EXTERNAL",
            s"p09: expected EXTERNAL table in Hive catalog, got " +
              s"${meta.tableType.name}")
          require(serdeLib == ourSerde,
            s"p09: Hive catalog stored serde '$serdeLib', expected '$ourSerde'")
          val res = hs.table(serdeTable)
            .agg(count(lit(1)).as("n"),
              sum(col("k")).cast("long").as("sum_k"))
            .select(col("n"), col("sum_k"),
              lit(hs.conf.get("spark.sql.catalogImplementation"))
                .as("catalog_impl"),
              lit(meta.tableType.name).as("table_type"),
              lit(serdeLib).as("serde_lib"))
            .localCheckpoint()
          res
        } finally {
          // In finally: a tripped require must not leak the catalog
          // entry (counter-unique names would otherwise accumulate in
          // the JVM-lifetime derby catalog).
          hs.sql(s"DROP TABLE IF EXISTS $serdeTable")
          Rm.rf(tmp)
        }
      },
      Some("""SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | 'hive' AS catalog_impl,
        | 'EXTERNAL' AS table_type,
        | 'graft.hive.JsonLineSerDe' AS serde_lib
        |FROM events""".stripMargin)),

    Q("p10_map_type_inference",
      "MAP-type inference — the capability the reference's lattice lacks " +
        "but its own fixture begs for (T/resources/flowfile.json's " +
        "updatedAttributes is a string->string attribute map that " +
        "CreateHQL.scala:57-61 renders as an ever-growing STRUCT whose " +
        "DDL churns on every new key): after the distributed fold, " +
        "JType.mapify collapses a nested struct with >= 32 uniformly-" +
        "typed keys into MAP<STRING,t>, while the 2-key meta struct " +
        "stays a STRUCT. Payloads are fixture-shaped JSON built from " +
        "events (per-record singleton attribute maps keyed by user), so " +
        "the pre-collapse key count is data-derived and oracled; the " +
        "normalization is a driver-side O(schema) post-pass, so the " +
        "aggregation stays an associative lattice join.",
      (s, dir) => {
        val j = events(s, dir).select(concat(
          lit("{\"meta\": {\"src\": \"nifi\", \"v\": 1}, " +
            "\"updatedAttributes\": {\"u"),
          col("user_id"), lit("\": \""), col("event_type"), lit("\"}}"))
          .as("payload"))
        val stats = JsonIngest.inferRoutedStats(j, "payload", typed = true)
        val structy = stats.schema.filter(_ => stats.nInvalid == 0)
          .getOrElse(sys.error("p10: no schema inferred"))
        val nKeys = structy("updatedAttributes").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fields.length
        val mapped = JType.toDataType(JType.mapify(stats.shape, threshold = 32, typed = true))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val ddl = Ddl.createExternalTable(
          mapped, "events_attrs", "/tmp/events_attrs")
        import s.implicits._
        Seq((ddl, nKeys.toLong)).toDF("ddl", "n_attr_keys")
      },
      Some("SELECT '" + (
        "DROP TABLE IF EXISTS events_attrs;\n" +
          "CREATE EXTERNAL TABLE events_attrs (\n" +
          "\t`meta` STRUCT<\n" +
          "\t\t`src`: STRING,\n" +
          "\t\t`v`: BIGINT\n" +
          "\t>,\n" +
          "\t`updatedAttributes` MAP<STRING,STRING>\n" +
          ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n" +
          "location '/tmp/events_attrs';").replace("'", "''") +
        "' AS ddl, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_attr_keys " +
        "FROM events")),

    Q("p11_hive_serde_insert",
      "The Hive SINK side of p09: INSERT INTO a JsonLineSerDe table " +
        "through InsertIntoHiveTable — each row is SERIALIZED by the " +
        "engine's serde (the write direction p09's scan doesn't touch), " +
        "producing NDJSON files under the table location, then read " +
        "back twice: once via hs.table (Hive scan through the serde) " +
        "and once as plain spark.read.json over the raw files — both " +
        "aggregates must agree with each other and the oracle, proving " +
        "the serialized bytes are real NDJSON, not just " +
        "serde-roundtrippable.",
      (s, dir) => {
        val hs = graft.catalog.HiveMode.session(s)
        val table = s"graft_p11_${CatalogRun.n.incrementAndGet()}"
        val tmp = java.nio.file.Files.createTempDirectory("graft-p11").toString
        try {
          hs.sql(s"DROP TABLE IF EXISTS $table")
          hs.sql(s"CREATE EXTERNAL TABLE $table " +
            "(user_id BIGINT, event_type STRING, value_cents BIGINT) " +
            s"ROW FORMAT SERDE '${classOf[graft.hive.JsonLineSerDe].getName}' " +
            s"STORED AS TEXTFILE LOCATION '$tmp/data'")
          events(hs, dir)
            .select(col("user_id"), col("event_type"),
              // integer cents so the JSON number roundtrip is exact
              round(col("value") * 100).cast("long").as("value_cents"))
            .createOrReplaceTempView("p11_src")
          hs.sql(s"INSERT INTO $table SELECT * FROM p11_src")
          val viaHive = hs.table(table)
            .agg(count(lit(1)).as("n"),
              sum(col("value_cents")).cast("long").as("sum_cents"),
              countDistinct(col("event_type")).as("n_types"))
            .head()
          val viaJson = hs.read
            .schema("user_id LONG, event_type STRING, value_cents LONG")
            .json(s"$tmp/data")
            .agg(count(lit(1)).as("n"),
              sum(col("value_cents")).cast("long").as("sum_cents"))
            .head()
          require(viaHive.getLong(0) == viaJson.getLong(0) &&
              viaHive.getLong(1) == viaJson.getLong(1),
            s"p11: serde-written files disagree between Hive scan " +
              s"($viaHive) and plain JSON read ($viaJson)")
          import s.implicits._
          Seq((viaHive.getLong(0), viaHive.getLong(1), viaHive.getLong(2)))
            .toDF("n", "sum_cents", "n_types")
        } finally {
          // In finally so a tripped require doesn't leak the catalog
          // entry (counter-unique names accumulate otherwise).
          hs.sql(s"DROP TABLE IF EXISTS $table")
          Rm.rf(tmp)
        }
      },
      Some("""SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events""".stripMargin)),

    Q("p12_csv_infer",
      "Schema inference extended to a SECOND wire format — the " +
        "reference infers JSON only (P/CreateHQL.scala:8-20); real " +
        "NiFi flows carry CSV too. Type sniffing is ONE distributed " +
        "aggregation of bool_and lattice facts per column (all-digits " +
        "→ BIGINT, else all-numeric → DOUBLE, else all-date → DATE, " +
        "else STRING — the widening order of the reference's " +
        "conflict→STRING rule, op #6, applied to typed sniffing), " +
        "then a schema-sized projection renders the verdicts; no row " +
        "ever reaches the driver. The oracle re-derives every " +
        "bool_and fact and the same CASE lattice.",
      (s, dir) => {
        val line = concat_ws(",",
          col("o_orderkey"),
          col("o_totalprice"),
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
        val parsed = t(s, dir, "orders")
          .filter(col("o_orderkey") < 1000)
          .select(from_csv(line.as("line"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "c1 STRING, c2 STRING, c3 STRING, c4 STRING"),
            Map.empty[String, String]).as("r"))
          .select(col("r.*"))
        def digitsOk(c: String) =
          bool_and(col(c).rlike("^-?[0-9]+$")).as(s"${c}_l")
        def doubleOk(c: String) =
          bool_and(expr(s"try_cast($c AS DOUBLE) IS NOT NULL")).as(s"${c}_d")
        def dateOk(c: String) =
          bool_and(expr(s"try_cast($c AS DATE) IS NOT NULL")).as(s"${c}_t")
        val cols = Seq("c1", "c2", "c3", "c4")
        val facts = parsed.agg(
          digitsOk(cols.head), (cols.tail.map(digitsOk) ++
            cols.map(doubleOk) ++ cols.map(dateOk)): _*)
        def verdict(c: String) =
          when(col(s"${c}_l"), "BIGINT")
            .when(col(s"${c}_d"), "DOUBLE")
            .when(col(s"${c}_t"), "DATE")
            .otherwise("STRING")
        facts.select(explode(array(cols.zipWithIndex.map { case (c, i) =>
            struct(lit(i + 1L).as("pos"), lit(c).as("col_name"),
              verdict(c).as("hive_type"))
          }: _*)).as("e"))
          .select(col("e.pos"), col("e.col_name"), col("e.hive_type"))
          .orderBy("pos")
      },
      Some("""WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS c1,
        |         CAST(o_totalprice AS VARCHAR) AS c2,
        |         o_orderpriority AS c3,
        |         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS c4
        |  FROM orders WHERE o_orderkey < 1000),
        |f AS (
        |  SELECT
        |    bool_and(regexp_matches(c1, '^-?[0-9]+$')) AS c1_l,
        |    bool_and(regexp_matches(c2, '^-?[0-9]+$')) AS c2_l,
        |    bool_and(regexp_matches(c3, '^-?[0-9]+$')) AS c3_l,
        |    bool_and(regexp_matches(c4, '^-?[0-9]+$')) AS c4_l,
        |    bool_and(TRY_CAST(c1 AS DOUBLE) IS NOT NULL) AS c1_d,
        |    bool_and(TRY_CAST(c2 AS DOUBLE) IS NOT NULL) AS c2_d,
        |    bool_and(TRY_CAST(c3 AS DOUBLE) IS NOT NULL) AS c3_d,
        |    bool_and(TRY_CAST(c4 AS DOUBLE) IS NOT NULL) AS c4_d,
        |    bool_and(TRY_CAST(c1 AS DATE) IS NOT NULL) AS c1_t,
        |    bool_and(TRY_CAST(c2 AS DATE) IS NOT NULL) AS c2_t,
        |    bool_and(TRY_CAST(c3 AS DATE) IS NOT NULL) AS c3_t,
        |    bool_and(TRY_CAST(c4 AS DATE) IS NOT NULL) AS c4_t
        |  FROM src)
        |SELECT CAST(pos AS BIGINT) AS pos, col_name,
        |  CASE WHEN l THEN 'BIGINT' WHEN d THEN 'DOUBLE'
        |       WHEN t THEN 'DATE' ELSE 'STRING' END AS hive_type
        |FROM (
        |  SELECT 1 AS pos, 'c1' AS col_name, c1_l AS l, c1_d AS d, c1_t AS t FROM f
        |  UNION ALL SELECT 2, 'c2', c2_l, c2_d, c2_t FROM f
        |  UNION ALL SELECT 3, 'c3', c3_l, c3_d, c3_t FROM f
        |  UNION ALL SELECT 4, 'c4', c4_l, c4_d, c4_t FROM f)
        |ORDER BY pos""".stripMargin)),

    Q("p13_corrupt_record",
      "PERMISSIVE-mode corrupt-record capture — the BUILT-IN " +
        "counterpart of the engine's own json_is_valid routing " +
        "(op #3/#11): every 13th payload is deterministically " +
        "corrupted (d15's injection discipline), the NDJSON is read " +
        "back with columnNameOfCorruptRecord, and corrupt rows " +
        "surface as (null fields + raw line) WITHOUT failing the " +
        "scan — the schema-on-read quarantine column a lakehouse " +
        "ingest keeps next to explicit routing. Valid-side aggregate " +
        "and corrupt counts must equal the oracle's modular " +
        "arithmetic.",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-p13").toString
        try {
          events(s, dir)
            .select(when(col("event_id") % 13 === 0,
                concat(lit("{bad"), col("props")))
              .otherwise(col("props")).as("value"))
            .write.mode("overwrite").text(s"$tmp/in")
          val parsed = s.read
            .schema("k BIGINT, _corrupt_record STRING")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(s"$tmp/in")
          parsed.agg(
              count(lit(1)).as("n"),
              count(col("_corrupt_record")).as("n_corrupt"),
              sum(col("k")).cast("long").as("sum_k_valid"),
              sum(when(col("_corrupt_record").startsWith("{bad"), 1L)
                .otherwise(0L)).cast("long").as("n_corrupt_tagged"))
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some("""SELECT COUNT(*) AS n,
        | CAST(COUNT(*) FILTER (WHERE event_id % 13 = 0) AS BIGINT)
        |   AS n_corrupt,
        | CAST(SUM(CASE WHEN event_id % 13 <> 0
        |   THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END)
        |   AS BIGINT) AS sum_k_valid,
        | CAST(COUNT(*) FILTER (WHERE event_id % 13 = 0) AS BIGINT)
        |   AS n_corrupt_tagged
        |FROM events""".stripMargin)),

    Q("p14_hive_migration_exec",
      "p07's migration DDL EXECUTED, closing the drift loop end to end " +
        "(reference context: the generated DDL's whole purpose is " +
        "downstream execution, P/CreateHQL.scala:94-99): create the " +
        "old-cohort JsonLineSerDe table in the derby metastore, infer " +
        "the new cohort (retyped k + added v2), render " +
        "Ddl.alterStatements and APPLY them — ADD COLUMNS through " +
        "Spark SQL; the CHANGE COLUMN retype through the session " +
        "catalog's alterTableDataSchema (Spark's SQL surface refuses " +
        "Hive column-type changes; the metastore schema alteration is " +
        "exactly what Hive's CHANGE COLUMN performs) — then land the " +
        "new cohort's files and re-read EVERYTHING through the serde " +
        "under the migrated schema: old rows' numeric k now reads as " +
        "STRING (retype applies in place, no data rewrite), v2 is " +
        "NULL for old rows and set for new ones.",
      (s, dir) => {
        val hs = graft.catalog.HiveMode.session(s)
        val table = s"graft_p14_${CatalogRun.n.incrementAndGet()}"
        val tmp = java.nio.file.Files.createTempDirectory("graft-p14").toString
        try {
          val ev = events(s, dir)
          val oldDocs = ev.filter(col("event_id") % 5 =!= 0)
            .select(col("props"))
          val newDocs = ev.filter(col("event_id") % 5 === 0)
            .select(regexp_replace(col("props"), "\\{\"k\": (\\d+)\\}",
              "{\"k\": \"$1\", \"v2\": \"beta\"}").as("props"))
          oldDocs.write.mode("overwrite").text(s"$tmp/data")
          val oldS = JsonIngest
            .inferColumnSchema(oldDocs, "props", typed = true)
            .getOrElse(sys.error("p14: no old-cohort schema"))
          val newS = JsonIngest
            .inferColumnSchema(newDocs, "props", typed = true)
            .getOrElse(sys.error("p14: no new-cohort schema"))
          val ourSerde = classOf[graft.hive.JsonLineSerDe].getName
          hs.sql(s"DROP TABLE IF EXISTS $table")
          hs.sql(Ddl.createStatement(oldS, table, s"$tmp/data",
            serde = ourSerde))
          val drift = Ddl.diffSchemas(oldS, newS)
          val stmts = Ddl.alterStatements(table, drift)
          val (changes, adds) =
            stmts.partition(_.contains(" CHANGE COLUMN "))
          require(adds.nonEmpty && changes.nonEmpty,
            s"p14: expected both ADD and CHANGE statements, got $stmts")
          adds.foreach(hs.sql(_))
          // Apply each rendered CHANGE COLUMN by rewriting that
          // column's type in the metastore data schema (the internal-
          // API call lives in MetastoreInternal, ADVICE r07).
          val retypedTo = drift.retyped.map {
            case (c, _, "STRING") =>
              Ddl.sanitizeName(c) ->
                (org.apache.spark.sql.types.StringType:
                  org.apache.spark.sql.types.DataType)
            case (c, _, other) =>
              sys.error(s"p14: unexpected retype target $other for $c")
          }.toMap
          graft.catalog.MetastoreInternal.retypeColumns(hs, table, retypedTo)
          hs.catalog.refreshTable(table)
          val meta = graft.catalog.MetastoreInternal.tableMetadata(hs, table)
          require(meta.dataSchema("k").dataType ==
              org.apache.spark.sql.types.StringType,
            s"p14: k not retyped in metastore: ${meta.dataSchema("k")}")
          require(meta.dataSchema.fieldNames.contains("v2"),
            "p14: v2 not added in metastore")
          newDocs.write.mode("append").text(s"$tmp/data")
          hs.catalog.refreshTable(table)
          val res = hs.table(table)
            .agg(
              count(lit(1)).as("n"),
              sum(col("k").cast("long")).cast("long").as("sum_k"),
              count(col("v2")).as("n_v2"))
            .select(col("n"), col("sum_k"), col("n_v2"),
              lit(drift.added.size.toLong).as("n_added"),
              lit(drift.retyped.size.toLong).as("n_retyped"),
              lit(meta.dataSchema("k").dataType.simpleString).as("k_type"))
            .localCheckpoint()
          res
        } finally {
          // In finally so a tripped require doesn't leak the catalog
          // entry (counter-unique names accumulate otherwise).
          hs.sql(s"DROP TABLE IF EXISTS $table")
          Rm.rf(tmp)
        }
      },
      Some("""SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_v2,
        | CAST(1 AS BIGINT) AS n_added,
        | CAST(1 AS BIGINT) AS n_retyped,
        | 'string' AS k_type
        |FROM events""".stripMargin))
  )
}
