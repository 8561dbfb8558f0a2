package landbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.catalog.HiveMode
import graft.functions.Fns
import graft.schema._
import graft.sources.JsonIngest
import graft.streaming.InferStream

/** One JVM of the landing benchmark: generate the workload's inputs, set up
  * Spark and the Hive catalog, warm up, then run the workload's op closed
  * loop (one caller) for the measured time and write one JSON result file.
  *
  * Usage: `landbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>`
  */
object Main {

  val Serde: String = classOf[graft.hive.JsonLineSerDe].getName
  val SampleLines = 1000
  // Lines per drop: an op should take well under a second, so that a run
  // holds many of them.
  val FlowfileLines = 12000

  final class Ctx(val spark: SparkSession, val hs: SparkSession, val tr: Tracer)

  /** What an op returns to its check and to the per-layer metrics. */
  final case class OpOut(lines: Long, info: Map[String, Double], check: () => Option[String])

  trait Workload {
    /** Generates inputs; excluded from `setup_s`. */
    def prep(work: Path, seed: Long): Unit
    /** Starts what the op needs (a stream, say) before the warm-up ops. */
    def start(c: Ctx): Unit = ()
    /** Readies op `i`'s input outside the op's wall. */
    def prepare(i: Int): Unit = ()
    /** Untimed ops inside `setup_s`. The first op runs several times slower
      * while classes load, and op times keep falling over the next few as
      * the JIT compiles; the stream's register path (every fifth file)
      * needs two passes, files 4 and 9. */
    def warmupOps: Int = 10
    def op(c: Ctx, i: Int): OpOut
    /** The drop op `i` read, for the traced run's layer arms. */
    def drop(i: Int): Drop
    /** Every drop generated so far. */
    def drops: Seq[Drop]
    def stop(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val uptimeAtEntry = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    require(argv.length == 6, "usage: landbench.Main <workload> <seed> <seconds> <trace> <work> <out>")
    val Array(name, seedS, secondsS, traceS, workS, outS) = argv
    val wl: Workload = name match {
      case "land_flowfiles"   => new Land
      case "stream_flowfiles" => new Stream
      case other              => sys.error(s"unknown workload $other")
    }
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val tr = new Tracer(traced)

    val prepNs = System.nanoTime()
    (0 until 20).foreach(_ => HostRef.run()) // compiled before it is timed
    wl.prep(work, seed)
    val prepS = (System.nanoTime() - prepNs) / 1e9

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(s"setup.$name")(body) finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val spark = phase("spark_session") {
      SparkSession.builder()
        .master("local[2]").appName("landbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val hs = phase("catalog_init") {
      val h = HiveMode.session(spark)
      h.sql("SHOW DATABASES").collect()
      h
    }
    val c = new Ctx(spark, hs, tr)

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val arms = mutable.ArrayBuffer.empty[Map[String, Double]]
    var opId = 0
    def runOp(measured: Boolean, withTrace: Boolean): Int = {
      val i = opId
      opId += 1
      tr.enabled = withTrace
      tr.op = i
      wl.prepare(i)
      val ref = if (measured) HostRef.run() else 0.0
      BenchBus.drain(spark.sparkContext)
      val s0 = counters.snapshot
      val j0 = JvmCounters.snapshot
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Right(tr.span("op")(wl.op(c, i))) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      BenchBus.drain(spark.sparkContext)
      val s1 = counters.snapshot
      val j1 = JvmCounters.snapshot
      val err = out.fold(e => Some(s"op threw: $e"), o =>
        try o.check() catch { case e: Exception => Some(s"check threw: $e") })
      tr.enabled = traced
      if (measured) {
        ops += Map("id" -> i, "traced" -> withTrace, "wall_s" -> wall, "ref_s" -> ref,
          "lines" -> out.fold(_ => 0L, _.lines), "ok" -> err.isEmpty, "error" -> err.orNull,
          "info" -> out.fold(_ => Map.empty[String, Double], _.info),
          "counters" -> (counters.delta(s0, s1, t0ms, t1ms) ++ JvmCounters.delta(j0, j1)))
      } else require(err.isEmpty, s"warm-up op $i failed: ${err.get}")
      i
    }

    phase("start")(wl.start(c))
    (0 until wl.warmupOps).foreach(k => phase(s"warmup_op$k")(runOp(measured = false, withTrace = traced)))
    if (traced) layerArms(c, wl.drop(0))
    val firstOpNs = System.nanoTime()
    val setupS = uptimeAtEntry + (firstOpNs - entryNs) / 1e9 - prepS

    // Closed loop, one caller. The traced run pairs an untraced and a traced
    // op, so the tracing overhead is measured in the same windows, and runs
    // the layer arms after each pair. The pair's order alternates, so the op
    // that follows the arms is traced in half of the pairs.
    JvmCounters.tracking = true
    val deadline = firstOpNs + (seconds * 1e9).toLong
    var pair = 0
    while (ops.isEmpty || System.nanoTime() < deadline) {
      if (traced) {
        val first = pair % 2 == 0
        val a = runOp(measured = true, withTrace = first)
        val b = runOp(measured = true, withTrace = !first)
        arms += layerArms(c, wl.drop(if (first) a else b))
        pair += 1
      } else runOp(measured = true, withTrace = false)
    }
    // One full collection while tracking, so the peak includes a heap that
    // holds only live data even when no GC fell inside the timed ops.
    System.gc()
    Thread.sleep(200) // GC notifications arrive on another thread
    JvmCounters.tracking = false
    val heapPeakMb = JvmCounters.peakLiveMb

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "prep_s" -> prepS, "setup_phases" -> phases,
      "heap_live_peak_mb" -> heapPeakMb,
      "record_bytes" -> wl.drops.map(_.bytes).sum.toDouble / wl.drops.map(_.lines).sum,
      "master" -> spark.sparkContext.master,
      "jvm_flags" -> rt.getInputArguments.toArray.toSeq,
      "ops" -> ops, "arms" -> arms,
      "spans" -> (if (traced) tr.closed else Nil))
    wl.stop()
    Files.write(Paths.get(outS), Json(result).getBytes(StandardCharsets.UTF_8))
    System.exit(0) // Spark's shutdown hook stops the context
  }

  // ----------------------------------------------------------------- checks

  /** Struct fields sorted by name at every level: inferred field order
    * follows the order in which partitions merge, so schemas compare
    * without it. */
  def canon(dt: DataType): DataType = dt match {
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = canon(f.dataType))).sortBy(_.name))
    case ArrayType(e, n) => ArrayType(canon(e), n)
    case MapType(k, v, n) => MapType(canon(k), canon(v), n)
    case other => other
  }

  def refSchema(ref: JType): DataType = canon(JType.toDataType(ref))

  def firstLines(p: Path, n: Int): Vector[String] = {
    val it = Files.lines(p, StandardCharsets.UTF_8)
    try { val b = Vector.newBuilder[String]; it.limit(n.toLong).forEach(l => b += l); b.result() }
    finally it.close()
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val samples = mutable.Map.empty[Path, Vector[String]]

  /** The traced run's layer arms over the drop an op read; outside the op's
    * wall. Each times one layer on its own. */
  def layerArms(c: Ctx, d: Drop): Map[String, Double] = c.tr.span("arms") {
    val spark = c.spark
    val (_, scanS) = secs(c.tr.span("arm.sources.scan")(
      JsonIngest.readLines(spark, d.path.toString).write.format("noop").mode("overwrite").save()))
    val (okRows, validityS) = secs(c.tr.span("arm.functions.validity")(
      JsonIngest.readLines(spark, d.path.toString).filter(Fns.json_is_object(col("value"))).count()))
    require(okRows == d.valid, s"json_is_object kept $okRows rows, generator planted ${d.valid} valid")
    val (agg, schemaAggS) = secs(c.tr.span("arm.schema.schemaagg")(
      SchemaInference.infer(spark.read.textFile(d.validPath.toString))))
    require(agg.map(canon).contains(refSchema(d.ref)), "SchemaAgg schema differs from the reference fold")
    val (_, readJsonS) = secs(c.tr.span("arm.schema.readjson")(
      spark.read.json(d.validPath.toString).schema))

    val sample = samples.getOrElseUpdate(d.path, firstLines(d.path, SampleLines))
    val (shapes, parseS) = secs(c.tr.span("arm.schema.parse")(sample.map(JsonShape.of(_, false))))
    val structs = shapes.collect { case Some(s: JStruct) => s }
    val (_, mergeS) = secs(c.tr.span("arm.schema.merge")(
      structs.foldLeft(JNull: JType)((acc, s) => JType.merge(acc, s, false))))
    var acc: JType = JNull
    var changed = 0
    structs.foreach { s =>
      val next = JType.merge(acc, s, false)
      if (next != acc) changed += 1
      acc = next
    }
    val codec = new JTypeCodec
    val reps = 20
    val bytes = codec.encode(d.ref)
    val (_, codecS) = secs(c.tr.span("arm.schema.codec")(
      (0 until reps).foreach(_ => codec.decode(codec.encode(d.ref)))))
    require(codec.decode(bytes) == d.ref, "JTypeCodec round trip changed the schema")
    Map(
      "sources.scan_s" -> scanS,
      "functions.validity_s" -> validityS,
      "functions.invalid_rows" -> (d.lines - okRows).toDouble,
      "schema.schemaagg_s" -> schemaAggS,
      "schema.readjson_s" -> readJsonS,
      "schema.parse_us" -> parseS / sample.size * 1e6,
      "schema.merge_us" -> mergeS / math.max(1, structs.size) * 1e6,
      "schema.merge_changed_ratio" -> changed.toDouble / math.max(1, structs.size),
      "schema.codec_us" -> codecS / reps * 1e6,
      "schema.buffer_bytes" -> bytes.length.toDouble)
  }

  /** Renders the DDL artifact, then registers the table through
    * `JsonLineSerDe`: the default hcatalog serde is not on the classpath. */
  def land(c: Ctx, schema: StructType, table: String, location: String): String = {
    val ddl = c.tr.span("schema.ddl_render")(Ddl.createExternalTable(schema, table, location))
    c.tr.span("catalog.register") {
      c.hs.sql(s"DROP TABLE IF EXISTS $table")
      c.hs.sql(c.tr.span("schema.ddl_render")(Ddl.createStatement(schema, table, location, serde = Serde)))
    }
    ddl
  }

  def metastoreColumns(c: Ctx, table: String): Int = c.hs.table(table).schema.length

  // --------------------------------------------------------------- workloads

  /** `land_flowfiles` cycles through three drops of flowfile-shaped
    * records (2% invalid). One op: read → route + infer → schema → DDL →
    * register. */
  final class Land extends Workload {
    private val made = mutable.ArrayBuffer.empty[Drop]
    private val table = "landbench_flowfiles"

    def prep(work: Path, seed: Long): Unit = {
      val dir = work.resolve("in")
      (0 until 3).foreach { d =>
        val r = new Random(seed * 31 + d)
        made += Gen.write(dir.resolve(s"drop-$d.ndjson"), dir.resolve(s"valid-$d.ndjson"),
          FlowfileLines, 0.02, r)(i => Gen.flowfile(r, d * 1000000L + i))
      }
    }

    def drops: Seq[Drop] = made.toSeq
    def drop(i: Int): Drop = made(i % made.size)

    def op(c: Ctx, i: Int): OpOut = {
      val d = drop(i)
      val lines = c.tr.span("sources.read_lines")(JsonIngest.readLines(c.spark, d.path.toString))
      val stats = c.tr.span("schema.routeagg")(JsonIngest.inferRoutedStats(lines, "value"))
      val schema = c.tr.span("schema.from_json")(stats.schema)
        .getOrElse(sys.error("no schema inferred"))
      val ddl = land(c, schema, table, d.path.getParent.toString)
      OpOut(d.lines,
        Map("schema.ddl_bytes" -> ddl.getBytes(StandardCharsets.UTF_8).length.toDouble,
          "schema.columns" -> schema.length.toDouble),
        () =>
          if (stats.nValid != d.valid || stats.nInvalid != d.invalid)
            Some(s"counts ${stats.nValid}/${stats.nInvalid}, planted ${d.valid}/${d.invalid}")
          else if (canon(schema) != refSchema(d.ref)) Some("schema differs from the reference fold")
          else if (metastoreColumns(c, table) != schema.length)
            Some(s"metastore has ${metastoreColumns(c, table)} columns, schema ${schema.length}")
          else None)
    }
  }

  /** `stream_flowfiles`: one long-running `InferStream.run` query; each op
    * moves one 2k-record flowfile file into the watched directory and
    * waits for it to be processed. Every fifth file adds a top-level key,
    * so the stream re-emits the DDL, which `onDdl` registers. */
  final class Stream extends Workload {
    private val FileLines = 2000
    private var seed = 0L
    private var work: Path = _
    private var query: StreamingQuery = _
    private val evo = new InferStream.SchemaEvolution(typed = false)
    private val files = mutable.Map.empty[Int, Drop]
    private var cumulative: JType = JNull
    private var expectEmit = 0
    private var expectSchema: DataType = StructType(Nil)
    @volatile private var emits = 0
    private var lastBatch = -1L

    def prep(work: Path, seed: Long): Unit = {
      this.seed = seed
      this.work = work
      Files.createDirectories(work.resolve("stream/in"))
    }

    /** File `i`, generated before the op that moves it. */
    private def stage(i: Int): Drop = files.getOrElseUpdate(i, {
      val r = new Random(seed * 31 + i)
      val extra = if (i % 5 == 4) s"planted${i / 5}" else null
      Gen.write(work.resolve(s"stream/staged/file-$i.ndjson"), work.resolve(s"stream/valid/file-$i.ndjson"),
        FileLines, 0.02, r)(j => Gen.flowfile(r, i * 100000L + j, extra))
    })

    def drop(i: Int): Drop = stage(i).copy(path = work.resolve(s"stream/in/file-$i.ndjson"))
    def drops: Seq[Drop] = files.values.toSeq

    override def start(c: Ctx): Unit = {
      val table = "landbench_stream"
      query = InferStream.run(c.spark, work.resolve("stream/in").toString,
        work.resolve("stream/ckpt").toString, table, work.resolve("stream/in").toString,
        onDdl = ddl => c.tr.span("catalog.register") {
          emits += 1
          ddl.replace(s"'${Ddl.JsonSerDe}'", s"'$Serde'").split(";\n")
            .map(_.trim.stripSuffix(";")).filter(_.nonEmpty).foreach(c.hs.sql)
        },
        trigger = Trigger.ProcessingTime(0L), state = Some(evo))
    }

    override def prepare(i: Int): Unit = {
      val before = expectSchema
      cumulative = JType.merge(cumulative, stage(i).ref, typed = false)
      expectSchema = refSchema(cumulative)
      expectEmit = if (expectSchema != before) 1 else 0
    }

    def op(c: Ctx, i: Int): OpOut = {
      val f = stage(i)
      val emitsBefore = emits
      val expect = expectEmit
      val want = expectSchema
      c.tr.span("stream.move")(Files.move(f.path, drop(i).path, StandardCopyOption.ATOMIC_MOVE))
      c.tr.span("streaming.process")(query.processAllAvailable())
      val progress = query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
      progress.lastOption.foreach(p => lastBatch = p.batchId)
      val dur = Seq("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "triggerExecution").map { k =>
        k -> progress.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum.toDouble
      }.toMap
      val emitted = emits - emitsBefore
      OpOut(f.lines,
        Map("streaming.add_batch_ms" -> dur("addBatch"), "streaming.latest_offset_ms" -> dur("latestOffset"),
          "streaming.get_batch_ms" -> dur("getBatch"), "streaming.query_planning_ms" -> dur("queryPlanning"),
          "streaming.wal_commit_ms" -> dur("walCommit"), "streaming.commit_offsets_ms" -> dur("commitOffsets"),
          "streaming.trigger_ms" -> dur("triggerExecution"), "streaming.ddl_emits" -> emitted.toDouble,
          "schema.columns" -> evo.schema.fold(0)(_.length).toDouble),
        () => {
          val rows = progress.map(_.numInputRows).sum
          val schema = evo.schema.getOrElse(StructType(Nil))
          if (rows != f.lines) Some(s"stream read $rows lines, file has ${f.lines}")
          else if (emitted != expect) Some(s"$emitted DDL emits, planted $expect shape changes")
          else if (canon(schema) != want) Some("stream schema differs from the reference fold")
          else if (metastoreColumns(c, "landbench_stream") != schema.length)
            Some(s"metastore has ${metastoreColumns(c, "landbench_stream")} columns, schema ${schema.length}")
          else None
        })
    }

    override def stop(): Unit = if (query != null) query.stop()
  }
}
