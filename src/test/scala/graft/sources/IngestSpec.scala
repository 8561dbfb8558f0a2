package graft.sources

import org.apache.spark.sql.Encoders
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.schema.SchemaInference

/** End-to-end ingestion tests mirroring the reference's two black-box
  * tests (`HiveSchemaGeneratorSpec.scala:37-74`: happy path on a 6-line
  * nested NDJSON fixture, failure path on "ThisIsNotJSON", content
  * preservation) plus the single-pass RouteAgg and routeWrite paths.
  */
class IngestSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark

  /** 6 NDJSON provenance-style records in the same shape family as the
    * reference fixture (nested structs, dotted keys, stringified JSON,
    * arrays) — authored here, not copied. */
  private val goodLines: Seq[String] = Seq(
    """{"eventId": "e-1", "ordinals": [1, 2], "type": "RECEIVE", "millis": 100, "attrs": {"server.timezone": "utc", "pii-data": "[\"none\"]"}}""",
    """{"eventId": "e-2", "ordinals": [3], "type": "DROP", "millis": 110, "attrs": {"server.timezone": "cst", "content-length": "568"}}""",
    """{"eventId": "e-3", "ordinals": [], "type": "SEND", "millis": 120, "attrs": {"path": "./"}}""",
    """{"eventId": "e-4", "ordinals": [4, 5, 6], "type": "RECEIVE", "millis": 130, "details": "Remote DN=none"}""",
    """{"eventId": "e-5", "ordinals": [7], "type": "FORK", "millis": 140, "attrs": {"server.timezone": "utc", "uuid": "u-5"}}""",
    """{"eventId": "e-6", "ordinals": [8], "type": "JOIN", "millis": 150, "children": [{"id": "c-1"}, {"size": 9}]}""")

  private def writeNdjson(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    java.nio.file.Files.writeString(dir.resolve("data.ndjson"),
      lines.mkString("", "\n", "\n"))
    dir.toString
  }

  describe("route + inferDdl (reference happy path)") {
    it("routes all 6 records valid, preserves content, renders DDL") {
      val path = writeNdjson(goodLines)
      val (ddl, routed) = JsonIngest.inferDdl(spark, path, "myDataTable", "/test")
      assert(routed.valid.count() == 6)
      assert(routed.invalid.count() == 0)
      // content preservation: the valid side carries the lines unchanged
      val got = routed.valid.select("value").as(Encoders.STRING).collect().toSet
      assert(got == goodLines.toSet)
      val d = ddl.get
      assert(d.startsWith("DROP TABLE IF EXISTS myDataTable;"))
      assert(d.contains("CREATE EXTERNAL TABLE myDataTable ("))
      assert(d.contains("`server_timezone`: STRING"))  // [.-] -> _ sanitize
      assert(d.contains("`pii_data`: STRING"))
      assert(d.contains("location '/test';"))
      // all-element array merge: children field union of both elements
      assert(d.contains("`id`: STRING") && d.contains("`size`: STRING"))
    }
  }

  describe("route (reference failure path)") {
    it("routes garbage to invalid with content preserved") {
      val path = writeNdjson(Seq("ThisIsNotJSON"))
      val routed = JsonIngest.routeNdjson(spark, path)
      assert(routed.valid.count() == 0)
      assert(routed.invalid.count() == 1)
      assert(routed.invalid.select("value").as(Encoders.STRING).head() == "ThisIsNotJSON")
    }
    it("routes top-level arrays to invalid (vs reference silent ERROR DDL)") {
      val path = writeNdjson(Seq("[1, 2, 3]", """{"a": 1}"""))
      val routed = JsonIngest.routeNdjson(spark, path)
      assert(routed.valid.count() == 1)
      assert(routed.invalid.count() == 1)
    }
  }

  describe("single-pass RouteAgg") {
    it("computes routing counts AND schema in one aggregation") {
      val path = writeNdjson(goodLines ++ Seq("ThisIsNotJSON", "[1]"))
      val lines = JsonIngest.readLines(spark, path)
      val stats = JsonIngest.inferRoutedStats(lines, "value")
      assert(stats.nValid == 6)
      assert(stats.nInvalid == 2)
      val schema = stats.schema.get
      assert(schema.fieldNames.contains("eventId"))
      assert(schema.fieldNames.contains("children"))
    }
    it("returns no schema when nothing is valid") {
      val path = writeNdjson(Seq("nope", "[1]"))
      val stats = JsonIngest.inferRoutedStats(
        JsonIngest.readLines(spark, path), "value")
      assert(stats.nValid == 0 && stats.nInvalid == 2 && stats.schema.isEmpty)
    }
    it("counts lines nested past the cap as invalid without failing the job") {
      val cap = graft.schema.JsonShape.MaxDepth
      def nested(n: Int): String = "{\"deep\":" * n + "1" + "}" * n
      val path = writeNdjson(goodLines ++ Seq(nested(cap), nested(cap + 1), nested(500), nested(900)))
      val lines = JsonIngest.readLines(spark, path)
      val stats = JsonIngest.inferRoutedStats(lines, "value")
      assert(stats.nValid == 7 && stats.nInvalid == 3)
      // The line at the cap lands in the schema and survives its round trip.
      assert(stats.schema.get.fieldNames.contains("deep"))
      val routed = JsonIngest.route(lines)
      assert(routed.valid.count() == 7 && routed.invalid.count() == 3)
    }
  }

  describe("routeWrite (one-scan two-sink routing)") {
    it("writes valid/invalid partitions in a single pass") {
      val path = writeNdjson(goodLines ++ Seq("ThisIsNotJSON"))
      val out = java.nio.file.Files.createTempDirectory("graft-routed").toString
      JsonIngest.routeWrite(JsonIngest.readLines(spark, path), out)
      // Partition-column type inference yields STRING for booleans.
      val back = spark.read.parquet(out)
      val counts = back.groupBy("_graft_valid").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("true" -> 6L, "false" -> 1L))
    }
  }

  describe("reference fixture (read from /root/reference at runtime)") {
    it("infers the reference's provenance-event shape with sanitized keys") {
      val fixture = java.nio.file.Paths.get(
        "/root/reference/nifi-hive-schema-generator-processors/src/test/resources/flowfile.json")
      assume(java.nio.file.Files.exists(fixture), "reference fixture not present")
      val (ddl, routed) = JsonIngest.inferDdl(
        spark, fixture.getParent.toString + "/flowfile.json", "myDataTable", "/test")
      // All 6 provenance records are valid JSON objects.
      assert(routed.valid.count() == 6)
      assert(routed.invalid.count() == 0)
      val d = ddl.get
      // Lattice proof on real nested data: nested attribute maps become
      // STRUCTs, dotted/dashed NiFi keys are sanitized, arrays render
      // ARRAY<...>, and every primitive collapses to STRING.
      assert(d.contains("`updatedAttributes` STRUCT<"))
      assert(d.contains("`server_timezone`: STRING"))
      assert(d.contains("`childIds` ARRAY"))          // array in all 6 records
      assert(d.contains("`eventOrdinal` STRING"))     // array in 2, scalar in 4
                                                      // → conflict widens to STRING
      assert(d.contains("`timestampMillis` STRING"))
      assert(!d.contains("BIGINT"))  // hive lattice: STRING-only primitives
      // every rendered identifier is sanitized ([.-] -> _)
      val idents = "`([^`]*)`".r.findAllMatchIn(d).map(_.group(1)).toSeq
      assert(idents.nonEmpty)
      assert(idents.forall(i => !i.contains(".") && !i.contains("-")))
    }
  }

  describe("SchemaInference.infer (whole-dataset fold)") {
    it("matches reference lattice on mixed records") {
      import spark.implicits._
      val ds = Seq("""{"a": 1}""", """{"a": "x", "b": [1]}""").toDS()
      val schema = SchemaInference.infer(ds).get
      assert(schema.fieldNames.toSeq == Seq("a", "b"))
      assert(schema("a").dataType.typeName == "string")
    }
  }
}
