package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.schema.SchemaInference
import graft.sources.JsonIngest

/** Manual end-to-end drive of the library surface: register functions,
  * route a JSON column, infer a schema, render DDL. Run with
  * `sbt "runMain graft.tools.Smoke [sfDir]"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SchemaInference.register(spark)
    graft.GraftExtensions.install(spark)
    println("[smoke] GraftExtensions SQL surface:")
    spark.sql(
      """SELECT minhash_sigs('the quick brown fox jumps', 4) AS sigs,
        |       minhash_sigs('x', 4) AS too_short,
        |       json_is_valid('{"a":1}') AS jv,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |       vec_dist2(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d2
        |""".stripMargin).show(false)

    val events = spark.read.parquet(s"$sfDir/events.parquet")
    events.createOrReplaceTempView("events")

    // Column API: single-pass routing counts over events.props.
    val counts = events.agg(
      sum(when(Fns.json_is_object(col("props")), 1L).otherwise(0L)).as("n_valid"),
      sum(when(Fns.json_is_object(col("props")), 0L).otherwise(1L)).as("n_invalid"))
    println("[smoke] routing counts:")
    counts.show(false)

    // SQL API: registered function names.
    println("[smoke] SQL json_is_valid over literals:")
    spark.sql(
      """SELECT json_is_valid('{"a":1}') AS obj, json_is_valid('[1,2]') AS arr,
        |       json_is_valid('{"a":1} trailing') AS trailing,
        |       json_is_valid('nope') AS bad, json_is_object('[1,2]') AS arr_obj
        |""".stripMargin).show(false)

    // Inference + DDL over the events.props column.
    val schema = JsonIngest.inferColumnSchema(events, "props")
    println(s"[smoke] inferred schema: ${schema.map(_.treeString).getOrElse("NONE")}")
    val ddl = schema.map(graft.schema.Ddl.createExternalTable(_, "events_props", "/tmp/events_props"))
    println(s"[smoke] DDL:\n${ddl.getOrElse("NONE")}")

    // SQL aggregate path.
    println("[smoke] infer_schema_agg via SQL:")
    spark.sql("SELECT infer_schema_agg(props) AS s FROM events").show(false)

    // NDJSON file routing (the reference's whole pipeline).
    val tmp = java.nio.file.Files.createTempDirectory("graft-smoke")
    java.nio.file.Files.writeString(tmp.resolve("data.ndjson"),
      """{"a": 1, "b": {"c-d": [1, 2]}}
        |ThisIsNotJSON
        |{"a": "x", "e.f": true}
        |[1,2,3]
        |""".stripMargin)
    val (ddl2, routed) = JsonIngest.inferDdl(spark, tmp.toString, "t_nd", "/tmp/t_nd")
    println(s"[smoke] ndjson valid=${routed.valid.count()} invalid=${routed.invalid.count()}")
    println(s"[smoke] ndjson DDL:\n${ddl2.getOrElse("NONE")}")

    // Nullability probe: minhash_sigs over a NON-nullable computed column
    // yielding a short doc must stay filterable (nullable=true override;
    // without it the optimizer folds the IS NOT NULL away).
    val kept = spark.range(1).toDF("id")
      .selectExpr("minhash_sigs(concat('a ', id)) AS s")
      .filter("s IS NOT NULL").count()
    println(s"[smoke] short-doc sigs surviving IS NOT NULL filter: $kept (want 0)")

    // Per-record parameter evaluation (reference op #12) + deterministic dedup.
    println("[smoke] Params: " + graft.catalog.Params.resolve(
      "/warehouse/${destination.schema}/${destination.table.name}",
      Map("destination.schema" -> "example", "destination.table.name" -> "t1"))
      + " | missing->'" + graft.catalog.Params.resolve("${nope}", Map()) + "'")
    import spark.implicits._
    val dd = Seq((3L, "dup"), (1L, "dup"), (2L, "uniq")).toDF("id", "txt")
    println("[smoke] exactKeepMin kept ids: " +
      graft.operators.Dedup.exactKeepMin(dd, col("txt"), col("id"))
        .select("id").as[Long].collect().sorted.mkString(","))

    // The driver's t1 smoke path.
    println("[smoke] SparkEntry.entry:")
    graft.SparkEntry.entry(spark).show(false)

    // Streaming: evolving-schema NDJSON stream through the public API.
    val sIn = java.nio.file.Files.createTempDirectory("graft-smoke-stream")
    val sCp = java.nio.file.Files.createTempDirectory("graft-smoke-cp")
    java.nio.file.Files.writeString(sIn.resolve("b1.ndjson"),
      "{\"a\": 1}\n{\"a\": 2, \"b\": \"x\"}\nnot-json\n")
    val evo = new graft.streaming.InferStream.SchemaEvolution()
    graft.streaming.InferStream.run(
      spark, sIn.toString, sCp.toString, "t_stream", "/loc",
      ddl => println(s"[smoke] stream DDL:\n$ddl"),
      state = Some(evo)).awaitTermination()
    java.nio.file.Files.writeString(sIn.resolve("b2.ndjson"), "{\"c\": [true]}\n")
    graft.streaming.InferStream.run(
      spark, sIn.toString, sCp.toString, "t_stream", "/loc",
      ddl => println(s"[smoke] stream DDL evolved:\n$ddl"),
      state = Some(evo)).awaitTermination()
    spark.stop()
  }
}
