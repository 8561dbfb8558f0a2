package graft.schema

import org.apache.spark.sql.types._
import org.scalatest.funspec.AnyFunSpec

class DdlSpec extends AnyFunSpec {

  private val nested = StructType(Seq(
    StructField("event.id", StringType),
    StructField("attrs", StructType(Seq(
      StructField("server-zone", StringType),
      StructField("tags", ArrayType(StringType))))),
    StructField("counts", ArrayType(LongType))))

  describe("Ddl.createExternalTable") {
    it("renders the reference DDL grammar with sanitized identifiers " +
       "(CreateHQL.scala:94-99, sanitize :97)") {
      val ddl = Ddl.createExternalTable(nested, "t", "/loc")
      assert(ddl ==
        "DROP TABLE IF EXISTS t;\n" +
        "CREATE EXTERNAL TABLE t (\n" +
        "\t`event_id` STRING,\n" +
        "\t`attrs` STRUCT<\n" +
        "\t\t`server_zone`: STRING,\n" +
        "\t\t`tags`: ARRAY<\n" +
        "\t\t\tSTRING\n" +
        "\t\t>\n" +
        "\t>,\n" +
        "\t`counts` ARRAY<\n" +
        "\t\tBIGINT\n" +
        "\t>\n" +
        ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n" +
        "location '/loc';")
    }
    it("renders unguarded DROP for byte-parity mode (CreateHQL.scala:95)") {
      val ddl = Ddl.createExternalTable(nested, "t", "/loc", dropIfExists = false)
      assert(ddl.startsWith("DROP TABLE t;\n"))
    }
  }

  describe("partitioned external table DDL") {
    it("excludes partition columns from the column block and sanitizes them") {
      val schema = StructType(Seq(
        StructField("a", StringType),
        StructField("dt", StringType),              // also a partition column
        StructField("server.timezone", StringType), // sanitizes to a partition
        StructField("n", LongType)))
      val ddl = Ddl.createPartitionedStatement(
        schema,
        Seq("DT" -> "STRING", "server_timezone" -> "STRING",
          "src.region" -> "STRING"),
        "t", "/loc")
      assert(ddl.contains(
        "PARTITIONED BY (`DT` STRING, `server_timezone` STRING, `src_region` STRING)"))
      // exclusion matches on sanitized, case-folded names: neither `dt`
      // (case) nor `server_timezone` (dot-sanitized) may appear as a
      // data column
      assert(!ddl.linesIterator.exists(l =>
        (l.trim.startsWith("`dt`") || l.trim.startsWith("`server_timezone`"))
          && !l.contains("PARTITIONED")))
      assert(ddl.contains("`a`") && ddl.contains("`n`"))
      assert(ddl.contains("ROW FORMAT SERDE"))
    }
    it("rejects a partition spec that claims every schema field") {
      val schema = StructType(Seq(
        StructField("dt", StringType), StructField("src", StringType)))
      val e = intercept[IllegalArgumentException] {
        Ddl.createPartitionedStatement(
          schema, Seq("dt" -> "STRING", "src" -> "STRING"), "t", "/loc")
      }
      assert(e.getMessage.contains("non-partition column"))
    }
  }

  describe("schema drift + migration DDL") {
    it("classifies added / removed / retyped fields on sanitized names") {
      val oldS = StructType(Seq(
        StructField("k", LongType), StructField("gone", StringType),
        StructField("server.zone", StringType)))
      val newS = StructType(Seq(
        StructField("k", StringType),           // BIGINT -> STRING retype
        StructField("server_zone", StringType), // same after sanitization
        StructField("v2", StringType)))         // added
      val d = Ddl.diffSchemas(oldS, newS)
      assert(d.added.map(_.name) == Seq("v2"))
      assert(d.removed == Seq("gone"))
      assert(d.retyped == Seq(("k", "BIGINT", "STRING")))
    }
    it("does not flag INT vs LONG (same Hive leaf) as a retype") {
      val d = Ddl.diffSchemas(
        StructType(Seq(StructField("k", IntegerType))),
        StructType(Seq(StructField("k", LongType))))
      assert(d.retyped.isEmpty && d.added.isEmpty && d.removed.isEmpty)
    }
    it("renders name-sorted ADD COLUMNS + CHANGE COLUMN and skips drops") {
      val drift = Ddl.SchemaDrift(
        added = Seq(StructField("zb", StringType), StructField("aa", LongType)),
        removed = Seq("gone"),
        retyped = Seq(("k", "BIGINT", "STRING")))
      val stmts = Ddl.alterStatements("t", drift)
      assert(stmts == Seq(
        "ALTER TABLE t ADD COLUMNS (`aa` BIGINT, `zb` STRING)",
        "ALTER TABLE t CHANGE COLUMN `k` `k` STRING"))
    }
  }

  describe("catalog registration (op #9)") {
    it("executes the Spark-SQL equivalent and the table is queryable") {
      val spark = graft.TestSpark.spark
      val dir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/d.json"), """{"a": "x", "n": 1}""" + "\n")
      val schema = StructType(Seq(
        StructField("a", StringType), StructField("n", LongType)))
      val hiveDdl = graft.catalog.Register
        .externalJsonTable(spark, schema, "graft_ddl_spec", dir)
      assert(hiveDdl.contains("CREATE EXTERNAL TABLE graft_ddl_spec"))
      val rows = spark.table("graft_ddl_spec").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 1L)))
      spark.sql("DROP TABLE graft_ddl_spec")
    }
    it("registers through the Hive metastore with hiveMode = true") {
      val hs = graft.catalog.HiveMode.session(graft.TestSpark.spark)
      val dir = java.nio.file.Files.createTempDirectory("graft-ddl-hive").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/d.json"), """{"a": "x", "n": 1}""" + "\n")
      val schema = StructType(Seq(
        StructField("a", StringType), StructField("n", LongType)))
      val hiveDdl = graft.catalog.Register
        .externalJsonTable(hs, schema, "graft_ddl_spec_hive", dir, hiveMode = true)
      // The rendered reference DDL still names the hcatalog serde.
      assert(hiveDdl == Ddl.createExternalTable(schema, "graft_ddl_spec_hive", dir))
      assert(hs.table("graft_ddl_spec_hive").schema.map(f => f.name -> f.dataType) ==
        Seq("a" -> StringType, "n" -> LongType))
      hs.sql("DROP TABLE graft_ddl_spec_hive")
    }
    it("registers an inferred object whose only field is {} with hiveMode = true") {
      val hs = graft.catalog.HiveMode.session(graft.TestSpark.spark)
      val dir = java.nio.file.Files.createTempDirectory("graft-ddl-hive-empty").toString
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/d.json"), """{"a": {}}""" + "\n")
      val schema = graft.sources.JsonIngest
        .inferRoutedStats(graft.sources.JsonIngest.readLines(hs, dir), "value").schema.get
      graft.catalog.Register.externalJsonTable(hs, schema, "graft_ddl_spec_hive_empty", dir, hiveMode = true)
      assert(hs.table("graft_ddl_spec_hive_empty").schema.fieldNames.toSeq == Seq("a"))
      hs.sql("DROP TABLE graft_ddl_spec_hive_empty")
    }
    it("refuses a CREATE with no column, naming the table") {
      val e = intercept[IllegalArgumentException](Ddl.createStatement(StructType(Nil), "t_none", "/loc"))
      assert(e.getMessage.contains("t_none"))
    }
  }
}
