package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class StreamingSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  describe("InferStream.run (evolving-schema NDJSON stream)") {
    it("emits DDL once per schema change across micro-batches") {
      val in = Files.createTempDirectory("graft-stream-in").toString
      val cp = Files.createTempDirectory("graft-stream-cp").toString
      val ddls = scala.collection.mutable.ArrayBuffer.empty[String]
      val evo = new InferStream.SchemaEvolution()

      Files.writeString(java.nio.file.Paths.get(s"$in/b1.ndjson"),
        """{"a": 1}""" + "\n" + """{"a": 2, "b": "x"}""" + "\n")
      val q1 = InferStream.run(spark, in, cp, "t_stream", "/loc",
        ddl => ddls.synchronized { ddls += ddl },
        trigger = Trigger.AvailableNow(), state = Some(evo))
      q1.awaitTermination()
      assert(ddls.size == 1)
      assert(ddls.head.contains("`a` STRING") && ddls.head.contains("`b` STRING"))

      // New file with a new field → schema evolves → one more DDL
      // carrying the union of everything seen so far.
      Files.writeString(java.nio.file.Paths.get(s"$in/b2.ndjson"),
        """{"a": 3, "c": [1]}""" + "\n" + "garbage-line\n")
      val q2 = InferStream.run(spark, in, cp, "t_stream", "/loc",
        ddl => ddls.synchronized { ddls += ddl },
        trigger = Trigger.AvailableNow(), state = Some(evo))
      q2.awaitTermination()
      assert(ddls.size == 2)
      assert(evo.validLines == 3 && evo.invalidLines == 1)
      assert(ddls(1).contains("`a` STRING") && ddls(1).contains("`b` STRING")
        && ddls(1).contains("`c` ARRAY"))

      // Re-delivering an already-seen shape does NOT re-emit.
      Files.writeString(java.nio.file.Paths.get(s"$in/b3.ndjson"),
        """{"a": 9}""" + "\n")
      val q3 = InferStream.run(spark, in, cp, "t_stream", "/loc",
        ddl => ddls.synchronized { ddls += ddl },
        trigger = Trigger.AvailableNow(), state = Some(evo))
      q3.awaitTermination()
      assert(ddls.size == 2)
      assert(evo.validLines == 4 && evo.invalidLines == 1)
    }
    it("gives the schema of the whole input however batches cut it") {
      val in = Files.createTempDirectory("graft-stream-cut-in").toString
      val cp = Files.createTempDirectory("graft-stream-cut-cp").toString
      val ddls = scala.collection.mutable.ArrayBuffer.empty[String]
      val evo = new InferStream.SchemaEvolution()
      val lines = Seq("""{"a": null, "b": null}""", """{"a": [1]}""", """{"b": "x"}""")
      lines.zipWithIndex.foreach { case (line, i) =>
        Files.writeString(java.nio.file.Paths.get(s"$in/b$i.ndjson"), line + "\n")
        InferStream.run(spark, in, cp, "t_stream_cut", "/loc",
          ddl => ddls.synchronized { ddls += ddl },
          trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      }
      val whole = graft.sources.JsonIngest.inferRoutedStats(lines.toDF("value"), "value").schema
      assert(whole.map(_.simpleString).contains("struct<a:array<string>,b:string>"))
      assert(evo.schema == whole)
      // A null-only field turning STRING changes no column: no third DDL.
      assert(ddls.size == 2)
      assert(ddls(1).contains("`a` ARRAY"))
    }

    // A checkpoint that either manager wrote must resume under the other:
    // a plain `readStream.text` → `foreachBatch` query of the same shape
    // runs on Spark's default manager, which writes `.N.crc` sidecars.
    def sidecars(cp: String): Seq[String] =
      Seq("offsets", "commits").flatMap { d =>
        Option(new java.io.File(s"$cp/$d").list()).toSeq.flatten.filter(_.endsWith(".crc"))
      }
    def defaultQuery(in: String, cp: String, seen: scala.collection.mutable.Buffer[String]): Unit =
      spark.readStream.text(in).writeStream
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= b.as[String].collect() }
          ()
        }
        .start().awaitTermination()
    def write(in: String, name: String, lines: String*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$in/$name"), lines.mkString("", "\n", "\n"))

    it("resumes a checkpoint of Spark's default manager without re-reading a file") {
      val in = Files.createTempDirectory("graft-stream-compat-in").toString
      val cp = Files.createTempDirectory("graft-stream-compat-cp").toString
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      write(in, "b1.ndjson", """{"a": 1}""", """{"a": 2}""")
      defaultQuery(in, cp, seen)
      assert(seen.size == 2 && sidecars(cp).nonEmpty)
      write(in, "b2.ndjson", """{"b": "x"}""", "garbage-line")
      val evo = new InferStream.SchemaEvolution()
      InferStream.run(spark, in, cp, "t_stream_compat", "/loc", _ => (),
        trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      assert(evo.validLines == 1 && evo.invalidLines == 1)
      assert(evo.schema.map(_.fieldNames.toSeq).contains(Seq("b")))
      assert(spark.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
    }
    it("leaves a checkpoint Spark's default manager resumes without re-reading a file") {
      val in = Files.createTempDirectory("graft-stream-compat2-in").toString
      val cp = Files.createTempDirectory("graft-stream-compat2-cp").toString
      write(in, "b1.ndjson", """{"a": 1}""", """{"a": 2}""")
      val evo = new InferStream.SchemaEvolution()
      InferStream.run(spark, in, cp, "t_stream_compat2", "/loc", _ => (),
        trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      assert(evo.validLines == 2 && sidecars(cp).isEmpty)
      assert(spark.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
      write(in, "b2.ndjson", """{"b": "x"}""")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      defaultQuery(in, cp, seen)
      assert(seen.toSeq == Seq("""{"b": "x"}"""))
    }

    it("fails the query on an onDdl error before the batch commits; a restart re-reads it") {
      val in = Files.createTempDirectory("graft-stream-fail-in").toString
      val cp = Files.createTempDirectory("graft-stream-fail-cp").toString
      write(in, "b1.ndjson", """{"a": 1}""", """{"b": "x"}""")
      val boom = new IllegalStateException("register failed")
      val e = intercept[StreamingQueryException] {
        InferStream.run(spark, in, cp, "t_stream_fail", "/loc", _ => throw boom,
          trigger = Trigger.AvailableNow()).awaitTermination()
      }
      assert(e.getCause eq boom)
      assert(new java.io.File(s"$cp/offsets/0").exists && !new java.io.File(s"$cp/commits/0").exists)
      // At least once: the restart folds the uncommitted batch again and
      // emits its DDL.
      val ddls = scala.collection.mutable.ArrayBuffer.empty[String]
      val evo = new InferStream.SchemaEvolution()
      InferStream.run(spark, in, cp, "t_stream_fail", "/loc", ddl => ddls.synchronized { ddls += ddl },
        trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      assert(ddls.size == 1 && ddls.head.contains("`a` STRING") && ddls.head.contains("`b` STRING"))
      assert(evo.validLines == 2 && evo.invalidLines == 0)
      assert(new java.io.File(s"$cp/commits/0").exists)
    }
    it("merges a batch into a caller-held state only once onDdl returns, so a restart re-emits its DDL") {
      val in = Files.createTempDirectory("graft-stream-held-in").toString
      val cp = Files.createTempDirectory("graft-stream-held-cp").toString
      write(in, "b1.ndjson", """{"a": 1}""", """{"b": "x"}""")
      val evo = new InferStream.SchemaEvolution()
      intercept[StreamingQueryException] {
        InferStream.run(spark, in, cp, "t_stream_held", "/loc", _ => throw new IllegalStateException("register failed"),
          trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      }
      assert(evo.schema.isEmpty && evo.validLines == 0 && evo.invalidLines == 0)
      val ddls = scala.collection.mutable.ArrayBuffer.empty[String]
      InferStream.run(spark, in, cp, "t_stream_held", "/loc", ddl => ddls.synchronized { ddls += ddl },
        trigger = Trigger.AvailableNow(), state = Some(evo)).awaitTermination()
      assert(ddls.size == 1 && ddls.head.contains("`a` STRING") && ddls.head.contains("`b` STRING"))
      assert(evo.validLines == 2 && evo.invalidLines == 0)
    }
  }

  describe("InferStream.run's source (who lists the watched directory)") {
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog

    def write(dir: Path, name: String, lines: String*): Path = {
      val f = dir.resolve(name)
      Files.createDirectories(f.getParent)
      Files.writeString(f, lines.mkString("", "\n", "\n"))
    }
    /** Each logged batch of a checkpoint's first source: its files' paths
      * and mtimes. */
    def logged(cp: String): Seq[(Long, Set[(String, Long)])] =
      new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, s"$cp/sources/0").get(None, None).toSeq
        .map { case (id, files) => id -> files.map(f => f.path -> f.timestamp).toSet }
    def inputRows(q: StreamingQuery): Seq[Long] =
      q.recentProgress.filter(_.durationMs.containsKey("addBatch")).map(_.numInputRows).toSeq

    it("reads the same batches as FileStreamSource: hidden names, subdirectories, old mtimes, touched files") {
      val in = Files.createTempDirectory("graft-source-in")
      val graftCp = Files.createTempDirectory("graft-source-cp").toString
      val sparkCp = Files.createTempDirectory("graft-source-spark-cp").toString
      val evo = new InferStream.SchemaEvolution()
      /** One AvailableNow run of each query over `in` as it is now: each
        * run's `numInputRows` per batch. */
      def step(): (Seq[Long], Seq[Long]) = {
        val g = InferStream.run(spark, in.toString, graftCp, "t_source", "/loc", _ => (),
          trigger = Trigger.AvailableNow(), state = Some(evo))
        g.awaitTermination()
        val s = spark.readStream.text(in.toString).writeStream
          .option("checkpointLocation", sparkCp)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.collect(); () }
          .start()
        s.awaitTermination()
        assert(g.lastProgress == null || g.lastProgress.sources(0).description.startsWith("LocalTextSource["))
        inputRows(g) -> inputRows(s)
      }
      val line = """{"a": 1}"""
      write(in, "a.ndjson", line, line)
      Files.createFile(in.resolve("empty.ndjson"))
      // Logged as part of the batch, but never read.
      write(in, "_metadata.ndjson", line)
      // Hidden names, and files below the directory, which neither source
      // lists while the directory has no partition column.
      for (skipped <- Seq("_x.ndjson", ".x.ndjson", "x.ndjson._COPYING_", "sub/b.ndjson", "sub/deeper/c.ndjson",
          "_dir/d.ndjson", ".dir/d.ndjson"))
        write(in, skipped, line)
      assert(step() == (Seq(2L), Seq(2L)))
      // A new file older than every file seen so far, and a seen file
      // touched again.
      val old = write(in, "old.ndjson", line, line)
      Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
      Files.setLastModifiedTime(in.resolve("a.ndjson"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000L))
      assert(step() == (Seq(2L), Seq(2L)))
      // Nothing new: no batch on either side.
      assert(step() == (Nil, Nil))

      val batches = logged(graftCp)
      assert(batches == logged(sparkCp))
      val root = in.toUri.getPath
      assert(batches.map { case (id, files) => id -> files.map(_._1.stripPrefix("file://" + root)) } == Seq(
        0L -> Set("a.ndjson", "empty.ndjson", "_metadata.ndjson"),
        1L -> Set("old.ndjson")))
      assert(evo.validLines == 4)
    }

    it("names graft's source for a plain local directory and FileStreamSource for each fallback") {
      def dirWith(prefix: String, name: String): Path = {
        val dir = Files.createTempDirectory(prefix)
        write(dir, name, """{"a": 1}""", """{"b": 2}""")
        dir
      }
      def session(confs: (String, String)*): SparkSession = {
        val s = GraftBridge.cloneSession(spark)
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        s
      }
      def description(s: SparkSession, inPath: String): String = {
        val cp = Files.createTempDirectory("graft-which-cp").toString
        val evo = new InferStream.SchemaEvolution()
        val q = InferStream.run(s, inPath, cp, "t_which", "/loc", _ => (), trigger = Trigger.AvailableNow(),
          state = Some(evo))
        q.awaitTermination()
        assert(evo.validLines == 2 && q.lastProgress.numInputRows == 2, inPath)
        q.lastProgress.sources(0).description
      }
      val plain = dirWith("graft-which-plain", "a.ndjson")
      for (inPath <- Seq(plain.toString, plain.toUri.toString, "file:" + plain.toUri.getPath))
        assert(description(spark, inPath) == s"LocalTextSource[file:${plain.toUri.getPath.stripSuffix("/")}]")

      // A file sink's output, read through the sink's log.
      val sinkOut = Files.createTempDirectory("graft-which-sink").toString
      spark.readStream.text(dirWith("graft-which-sink-in", "a.ndjson").toString).writeStream.format("text")
        .option("path", sinkOut)
        .option("checkpointLocation", Files.createTempDirectory("graft-which-sink-cp").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val fallbacks = Seq(
        spark -> s"$plain/*",
        spark -> dirWith("graft-which-part", "k=1/a.ndjson").toString,
        spark -> sinkOut,
        session("fs.grafttest.impl" -> classOf[graft.sources.GraftTestFileSystem].getName) ->
          s"grafttest://$plain",
        session("fs.file.impl" -> classOf[graft.sources.SubclassedLocalFileSystem].getName,
          "fs.file.impl.disable.cache" -> "true") -> plain.toString)
      for ((s, inPath) <- fallbacks)
        assert(description(s, inPath).startsWith("FileStreamSource["), inPath)
    }
  }

  describe("InferStream.run's sink (which path a micro-batch takes)") {
    // Valid, invalid and empty lines, and a CRLF.
    val text = Seq("""{"a":1,"b":{"c":"x"}}""", "nope", """{"d":[1,2],"a":"y"}""", "", """{"e":null}""")
      .mkString("", "\n", "\r\n")
    def plain(dir: Path, name: String, copies: Int): Int = {
      Files.writeString(dir.resolve(name), text * copies)
      5 * copies
    }
    def gzip(dir: Path, name: String, copies: Int): Int = {
      val out = new GZIPOutputStream(Files.newOutputStream(dir.resolve(name)))
      try out.write((text * copies).getBytes("UTF-8")) finally out.close()
      5 * copies
    }
    def session(confs: (String, String)*): SparkSession = {
      val s = GraftBridge.cloneSession(spark)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }

    /** What one `InferStream.run` did: the RDD names of each stage of each
      * job it ran, each batch's `numInputRows`, each drop's lines, and its
      * state. */
    final case class Ran(jobs: Seq[Seq[Seq[String]]], inputRows: Seq[Long], lines: Seq[Long],
        evo: InferStream.SchemaEvolution, in: Path)

    /** Runs `InferStream` under `trigger` over `drops`, each of which
      * writes files into a directory and returns their lines; the files
      * are then moved into the watched directory, under `AvailableNow` all
      * before one run, under `ProcessingTime(0)` one drop per batch. */
    def run(s: SparkSession, trigger: Trigger, drops: (Path => Int)*): Ran = {
      val in = Files.createTempDirectory("graft-sink-in")
      val cp = Files.createTempDirectory("graft-sink-cp").toString
      val evo = new InferStream.SchemaEvolution()
      var q: StreamingQuery = null
      val lines = scala.collection.mutable.ArrayBuffer.empty[Long]
      def drop(d: Path => Int): Unit = {
        val staged = Files.createTempDirectory("graft-sink-staged")
        lines += d(staged)
        Files.list(staged).toArray(n => new Array[Path](n)).foreach(f =>
          Files.move(f, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      }
      def start(): Unit = q = InferStream.run(s, in.toString, cp, "t_sink", "/loc", _ => (),
        trigger = trigger, state = Some(evo))
      val jobs = TestSpark.jobsDuring {
        if (trigger == Trigger.AvailableNow()) {
          drops.foreach(drop)
          start()
          q.awaitTermination()
        } else {
          start()
          try drops.foreach { d => drop(d); q.processAllAvailable() } finally q.stop()
        }
      }
      val group = q.runId.toString
      val batches = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).map(_.numInputRows).toSeq
      Ran(jobs.collect { case (`group`, stages) => stages }, batches, lines.toSeq, evo, in)
    }
    def same(a: InferStream.SchemaEvolution, b: InferStream.SchemaEvolution): Boolean =
      a.schema == b.schema && a.validLines == b.validLines && a.invalidLines == b.invalidLines

    /** The number of ranges of each batch's byte plan: the AvailableNow
      * run's one batch holds both files, each ProcessingTime batch one. */
    def ranges(s: SparkSession, now: Ran, timed: Ran): Seq[Option[Int]] =
      (s.read.text(now.in.toString) +: Seq("a.ndjson", "b.ndjson").map(n => s.read.text(timed.in.resolve(n).toString)))
        .map(df => graft.sources.LineRanges.plan(df, "value").map(_.size))

    it("folds a plain batch off the file bytes: one job, one stage, LineRangeRDD, under both triggers") {
      // Ranges of at most 100 bytes: every batch's plan has several.
      val s = session("spark.sql.files.maxPartitionBytes" -> "100")
      val now = run(s, Trigger.AvailableNow(), plain(_, "a.ndjson", 30), plain(_, "b.ndjson", 2))
      assert(now.jobs == Seq(Seq(Seq("LineRangeRDD"))), now.jobs)
      val timed = run(s, Trigger.ProcessingTime(0L), plain(_, "a.ndjson", 30), plain(_, "b.ndjson", 2))
      assert(timed.jobs == Seq.fill(2)(Seq(Seq("LineRangeRDD"))), timed.jobs)
      assert(ranges(s, now, timed).forall(_.exists(_ >= 2)))
      assert(same(now.evo, timed.evo) && now.evo.validLines == 96 && now.evo.invalidLines == 64)
      assert(now.evo.schema.map(_.fieldNames.toSeq).contains(Seq("a", "b", "d", "e")))
    }

    it("folds a one-range plain batch on the stream thread: no job, under both triggers") {
      val now = run(spark, Trigger.AvailableNow(), plain(_, "a.ndjson", 30), plain(_, "b.ndjson", 2))
      val timed = run(spark, Trigger.ProcessingTime(0L), plain(_, "a.ndjson", 30), plain(_, "b.ndjson", 2))
      assert(ranges(spark, now, timed) == Seq.fill(3)(Some(1)))
      assert(now.jobs.isEmpty, now.jobs)
      assert(timed.jobs.isEmpty, timed.jobs)
      assert(same(now.evo, timed.evo) && now.evo.validLines == 96 && now.evo.invalidLines == 64)
    }

    it("stops a query while its batch folds in place, with no error") {
      // One ~30 MB file, a single range under a 1 GB open cost.
      val s = session("spark.sql.files.openCostInBytes" -> (1L << 30).toString)
      val in = Files.createTempDirectory("graft-sink-stop-in")
      val cp = Files.createTempDirectory("graft-sink-stop-cp")
      val big = Files.createTempDirectory("graft-sink-stop-staged").resolve("big.ndjson")
      val out = Files.newBufferedWriter(big)
      try (0 until 500000).foreach(_ => out.write(text)) finally out.close()
      assert(graft.sources.LineRanges.plan(s.read.text(big.toString), "value").map(_.size) == Some(1))
      Files.move(big, in.resolve("big.ndjson"), StandardCopyOption.ATOMIC_MOVE)
      val q = InferStream.run(s, in.toString, cp.toString, "t_sink_stop", "/loc", _ => (),
        trigger = Trigger.ProcessingTime(0L))
      // The batch's offsets are logged just before it runs.
      val deadline = System.nanoTime() + 60e9.toLong
      while (!Files.exists(cp.resolve("offsets/0")) && System.nanoTime() < deadline) Thread.sleep(1)
      Thread.sleep(50)
      try q.stop() finally Files.delete(in.resolve("big.ndjson"))
      // Wherever the stop landed (planning, the fold, the commit), it is a stop.
      assert(!q.isActive)
      assert(q.exception.isEmpty, q.exception)
    }

    it("folds a compressed file's or an ignoreCorruptFiles session's batch as rows, to the same state") {
      val bytes = run(spark, Trigger.AvailableNow(), plain(_, "a.ndjson", 30))
      val gz = run(spark, Trigger.AvailableNow(), gzip(_, "a.ndjson.gz", 30))
      val ignoring = run(session("spark.sql.files.ignoreCorruptFiles" -> "true"), Trigger.AvailableNow(),
        plain(_, "a.ndjson", 30))
      for ((ran, what) <- Seq(gz -> "gzip", ignoring -> "ignoreCorruptFiles")) {
        assert(ran.jobs.size == 1 && ran.jobs.head.size == 1, s"$what: ${ran.jobs}")
        assert(ran.jobs.head.head.contains("FileScanRDD") && !ran.jobs.head.head.contains("LineRangeRDD"),
          s"$what: ${ran.jobs}")
        assert(same(ran.evo, bytes.evo), what)
      }
    }

    it("reports each batch's lines as its numInputRows, on the byte path and the row path") {
      for (s <- Seq(spark, session("spark.sql.files.ignoreCorruptFiles" -> "true"))) {
        val ran = run(s, Trigger.ProcessingTime(0L),
          plain(_, "a.ndjson", 3), plain(_, "b.ndjson", 7), gzip(_, "c.ndjson.gz", 2))
        assert(ran.inputRows == ran.lines, ran.inputRows)
      }
      // All of one AvailableNow batch's files.
      val all = run(spark, Trigger.AvailableNow(), plain(_, "a.ndjson", 3), plain(_, "b.ndjson", 4))
      assert(all.inputRows == Seq(all.lines.sum), all.inputRows)
    }
  }

  describe("InferStream.windowedCounts (watermark + tumbling window)") {
    it("computes event-time windows on a streaming source") {
      val in = Files.createTempDirectory("graft-win-in").toString
      Files.writeString(java.nio.file.Paths.get(s"$in/e.json"),
        Seq(
          """{"ts": "2024-01-01T00:10:00Z", "event_type": "click"}""",
          """{"ts": "2024-01-01T00:20:00Z", "event_type": "click"}""",
          """{"ts": "2024-01-01T01:05:00Z", "event_type": "view"}""")
          .mkString("", "\n", "\n"))
      val schema = "ts TIMESTAMP, event_type STRING"
      val stream = spark.readStream.schema(schema).json(in)
      // Complete mode: every window is emitted each batch (append mode
      // would hold the unexpired windows back until a later batch moves
      // the watermark past them).
      val q = InferStream.windowedCounts(stream, "ts", "1 hour", "10 minutes")
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table("win_counts")
        .select($"event_type", $"n").as[(String, Long)].collect().toSet
      assert(rows == Set(("click", 2L), ("view", 1L)))
    }
  }

  describe("InferStream.windowedCounts (late data past the watermark)") {
    it("drops a late event instead of re-opening its closed window") {
      val in = Files.createTempDirectory("graft-late-in").toString
      val cp = Files.createTempDirectory("graft-late-cp").toString
      val out = Files.createTempDirectory("graft-late-out").toString
      val schema = "ts TIMESTAMP, event_type STRING"
      def run(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").json(in)
        val q = InferStream.windowedCounts(stream, "ts", "1 hour", "10 minutes")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // Run 1: one on-time click + a 03:00 event that advances the
      // watermark to 02:50, sealing the [00:00, 01:00) window.
      Files.writeString(java.nio.file.Paths.get(s"$in/a.json"),
        """{"ts": "2024-01-01T00:10:00Z", "event_type": "click"}""" + "\n" +
          """{"ts": "2024-01-01T03:00:00Z", "event_type": "click"}""" + "\n")
      run()
      // Run 2 (same checkpoint, so the watermark survives): a LATE
      // 00:20 event behind the 02:50 watermark plus a 06:00 event that
      // closes the 03:00 window too.
      Files.writeString(java.nio.file.Paths.get(s"$in/b.json"),
        """{"ts": "2024-01-01T00:20:00Z", "event_type": "click"}""" + "\n" +
          """{"ts": "2024-01-01T06:00:00Z", "event_type": "click"}""" + "\n")
      run()
      val got = spark.read.parquet(out)
        .select($"window_start".cast("string"), $"n")
        .as[(String, Long)].collect().toSet
      // The 00:00 window emits n=1 — the late 00:20 click was dropped,
      // not merged (n=2 would mean the watermark failed).
      assert(got == Set(
        ("2024-01-01 00:00:00", 1L), ("2024-01-01 03:00:00", 1L)))
    }
  }

  describe("InferStream.dedupStream (watermark-bounded exact dedup)") {
    it("drops duplicate ids within the watermark horizon") {
      val in = Files.createTempDirectory("graft-dedup-in").toString
      Files.writeString(java.nio.file.Paths.get(s"$in/e.json"),
        Seq(
          """{"ts": "2024-01-01T00:10:00Z", "id": 1}""",
          """{"ts": "2024-01-01T00:11:00Z", "id": 1}""",   // dup
          """{"ts": "2024-01-01T00:12:00Z", "id": 2}""",
          """{"ts": "2024-01-01T00:13:00Z", "id": 2}""",   // dup
          """{"ts": "2024-01-01T00:14:00Z", "id": 3}""")
          .mkString("", "\n", "\n"))
      val stream = spark.readStream.schema("ts TIMESTAMP, id LONG").json(in)
      val q = InferStream.dedupStream(stream, "ts", Seq("id"), "10 minutes")
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ids = spark.table("dedup_out").select($"id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    }
  }

  describe("InferStream.enrich (stream-static broadcast join)") {
    it("joins each micro-batch against the static dimension") {
      val in = Files.createTempDirectory("graft-enrich-in").toString
      Files.writeString(java.nio.file.Paths.get(s"$in/e.json"),
        Seq(
          """{"uid": 1, "v": 10}""",
          """{"uid": 2, "v": 20}""",
          """{"uid": 1, "v": 30}""",
          """{"uid": 9, "v": 99}""")   // no dimension row → dropped (inner)
          .mkString("", "\n", "\n"))
      val stream = spark.readStream.schema("uid LONG, v LONG").json(in)
      val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid2", "tier")
      val q = InferStream.enrich(stream, dim, $"uid" === $"uid2")
        .groupBy($"tier").agg(org.apache.spark.sql.functions.sum($"v").as("s"))
        .writeStream.format("memory").queryName("enrich_out")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table("enrich_out")
        .as[(String, Long)].collect().toSet
      assert(rows == Set(("gold", 40L), ("silver", 20L)))
    }
  }

  describe("Compact (small-file compaction)") {
    it("rewrites many small files into the planned number of outputs") {
      import graft.operators.Compact
      val in = Files.createTempDirectory("graft-compact-in").toString
      val out = Files.createTempDirectory("graft-compact-out").toString
      // 20 tiny files
      spark.range(0, 2000).repartition(20)
        .write.mode("overwrite").parquet(in)
      val nIn = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))
      assert(nIn == 20)
      val bytes = Compact.sizeOf(spark, in)
      assert(bytes > 0)
      assert(Compact.planPartitions(100, 50) == 2)
      assert(Compact.planPartitions(101, 50) == 3)
      assert(Compact.planPartitions(1, 1000) == 1)
      // Target = whole input in one file.
      val (reported, planned) = Compact.parquet(spark, in, out, targetBytes = bytes)
      assert(reported == bytes && planned == 1)
      val nOut = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
      assert(nOut == 1)
      assert(spark.read.parquet(out).count() == 2000)
      // Sorted variant keeps data + ordering within files.
      val out2 = Files.createTempDirectory("graft-compact-out2").toString
      Compact.parquetSorted(spark, in, out2, Seq("id"), targetBytes = bytes)
      assert(spark.read.parquet(out2).count() == 2000)
    }
  }

  describe("PerKeySchema.evolve (flatMapGroupsWithState)") {
    it("tracks one evolving schema per key (batch mode)") {
      val pairs = Seq(
        ("k1", """{"a": 1}"""),
        ("k1", """{"b": 2}"""),
        ("k2", """{"x": true}""")).toDS()
      val out = PerKeySchema.evolve(pairs).collect()
        .map(ks => ks.key -> ks.schema.json).toMap
      assert(out.keySet == Set("k1", "k2"))
      assert(out("k1").contains("\"a\"") && out("k1").contains("\"b\""))
      assert(out("k2").contains("\"x\""))
    }
    it("skips an invalid line instead of losing the key's batch") {
      val pairs = Seq(
        ("k", """{"x":1}"""), ("k", "nope"),
        ("bad", "nope"), ("bad", "[1]"), ("bad", null)).toDS()
      val out = PerKeySchema.evolve(pairs).collect()
        .map(ks => ks.key -> ks.schema.simpleString).toMap
      assert(out == Map("k" -> "struct<x:string>"))
    }
  }

  describe("batch-cut independence (PerKeySchema.evolve, InferStream.SchemaEvolution)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.schema.{JNull, JStruct, JType, JsonShape}
    import graft.sources.JsonIngest

    /** Struct fields sorted by name at every level: batch cuts may change
      * first-seen order, never the fields or their types. */
    def canon(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.sortBy(_.name).map(f => StructField(f.name, canon(f.dataType))))
      case ArrayType(e, n) => ArrayType(canon(e), n)
      case other           => other
    }
    /** Each key's whole-input fold over its valid lines, lowered. */
    def wholeFold(pairs: Seq[(String, String)]): Map[String, DataType] =
      pairs.filter { case (_, l) => JsonShape.of(l, typed = false).exists(_.isInstanceOf[JStruct]) }
        .groupBy(_._1).map { case (k, kls) =>
          k -> canon(JType.toDataType(
            kls.map(_._2).foldLeft(JNull: JType)(JsonShape.fold(_, _, typed = false))))
        }
    /** Streams `batches` through `PerKeySchema.evolve`, one micro-batch
      * each; every key's updates in order, lowered. */
    def evolved(batches: Seq[Seq[(String, String)]]): Map[String, Seq[DataType]] = {
      val in = MemoryStream[(String, String)](spark)
      val seen = scala.collection.mutable.ArrayBuffer.empty[KeyedSchema]
      val q = PerKeySchema.evolve(in.toDS()).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[KeyedSchema], _: Long) =>
          seen.synchronized { seen ++= b.collect() }; ()
        }
        .outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("graft-cut-cp").toString)
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      seen.toSeq.groupBy(_.key).map { case (k, us) => k -> us.map(u => canon(u.schema)) }
    }
    /** Feeds each batch's per-key `inferRoutedStats` shape to one
      * `SchemaEvolution` per key. */
    def streamed(batches: Seq[Seq[(String, String)]]): Map[String, DataType] = {
      val evos = scala.collection.mutable.Map.empty[String, InferStream.SchemaEvolution]
      batches.foreach(_.groupBy(_._1).foreach { case (k, kls) =>
        evos.getOrElseUpdate(k, new InferStream.SchemaEvolution())
          .add(JsonIngest.inferRoutedStats(kls.map(_._2).toDF("value"), "value"))(_ => ())
      })
      evos.flatMap { case (k, evo) => evo.schema.map(s => k -> canon(s)) }.toMap
    }
    /** The last update per key is the whole-input fold, and a key emits an
      * update only when its lowered schema changes. */
    def check(batches: Seq[Seq[(String, String)]]): Boolean = {
      val want = wholeFold(batches.flatten)
      val updates = evolved(batches)
      updates.values.forall(us => us.zip(us.drop(1)).forall { case (a, b) => a != b }) &&
        updates.map { case (k, us) => k -> us.last } == want && streamed(batches) == want
    }

    it("a null-only field widened in a later batch keeps its widest type") {
      val batches = Seq("""{"a":null,"b":null}""", """{"a":[1]}""", """{"b":"x"}""")
        .map(l => Seq("k" -> l))
      val want = canon(StructType.fromDDL("a ARRAY<STRING>, b STRING"))
      assert(wholeFold(batches.flatten) == Map("k" -> want))
      // The third batch turns `b` from null-only to STRING: no new update.
      assert(evolved(batches) == Map("k" -> Seq(
        canon(StructType.fromDDL("a STRING, b STRING")), want)))
      assert(streamed(batches) == Map("k" -> want))
    }

    // Values that start null-only and later widen to arrays or structs,
    // conflicting scalars and containers, and lines that are invalid.
    val valueGen: Gen[String] = Gen.oneOf("null", "null", "1", "\"x\"", "[]", "[1]",
      "[null]", "[{\"z\":null}]", "[{\"z\":[2]}]", "{\"y\":null}", "{\"y\":{\"w\":1}}")
    val lineGen: Gen[String] = Gen.frequency(
      8 -> Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"), valueGen)).map(fs =>
        fs.distinctBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")),
      1 -> Gen.oneOf("nope", "[1]", """{"a":""", "null"))
    val caseGen: Gen[Seq[Seq[(String, String)]]] = for {
      nKeys <- Gen.choose(1, 3)
      n     <- Gen.choose(1, 12)
      pairs <- Gen.listOfN(n, Gen.zip(Gen.oneOf(Seq("k1", "k2", "k3").take(nKeys)), lineGen))
      cuts  <- Gen.listOfN(3, Gen.choose(0, n)).map(cs => (0 +: cs.sorted :+ n).distinct)
    } yield cuts.sliding(2).collect { case Seq(a, b) if b > a => pairs.slice(a, b) }.toSeq

    it("every batch cut gives the whole-input fold, per key") {
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20)
        .withWorkers(1), Prop.forAllNoShrink(caseGen)(check))
      assert(r.passed, r.status.toString)
    }
  }

  describe("Sessionize.sessions (stateful sessionization across batches)") {
    it("retroactively merges sessions when late gap-filling rows arrive") {
      val in = Files.createTempDirectory("graft-sess-in").toString
      val cp = Files.createTempDirectory("graft-sess-cp").toString
      // foreachBatch collector (memory sink cannot recover a checkpoint).
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      def run(): Unit = {
        val pairs = spark.readStream.schema("k LONG, ts LONG").json(in)
          .select($"k", $"ts").as[(Long, Long)]
        val q = Sessionize.sessions(pairs, gapUs = 100L)
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long)],
             _: Long) => seen.synchronized { seen ++= b.collect() }; ()
          }
          .outputMode("update").option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // Batch 1: two events 200 apart (>= gap 100) → two singleton sessions.
      Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
        """{"k":1,"ts":0}""" + "\n" + """{"k":1,"ts":200}""" + "\n")
      run()
      assert(seen.toSet == Set((1L, 0L, 0L, 1L, 2L), (1L, 200L, 200L, 1L, 2L)))
      // Batch 2 (same checkpoint → same state): late events at 60 and 140
      // bridge the gap — all four events collapse into ONE session.
      seen.clear()
      Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
        """{"k":1,"ts":60}""" + "\n" + """{"k":1,"ts":140}""" + "\n")
      run()
      assert(seen.filter(_._5 == 4L).toSet == Set((1L, 0L, 200L, 4L, 4L)))
    }
  }

  describe("TwsRunningStats.perKey (transformWithState, RocksDB state)") {
    it("carries (count, max) state across micro-batches") {
      val in = Files.createTempDirectory("graft-tws-in").toString
      val cp = Files.createTempDirectory("graft-tws-cp").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val seen = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)]
        def run(): Unit = {
          val pairs = spark.readStream.schema("k LONG, v DOUBLE").json(in)
            .select($"k", $"v").as[(Long, Double)]
          val q = TwsRunningStats.perKey(pairs)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[(Long, Long, Double)],
               _: Long) => seen.synchronized { seen ++= b.collect() }; ()
            }
            .outputMode("update").option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
          """{"k":1,"v":2.5}""" + "\n" + """{"k":1,"v":1.0}""" + "\n" +
            """{"k":2,"v":-3.0}""" + "\n")
        run()
        assert(seen.toSet == Set((1L, 2L, 2.5), (2L, 1L, -3.0)))
        // Batch 2 on the same checkpoint: RocksDB state resumes — counts
        // keep climbing and key 2's max survives a smaller new value.
        seen.clear()
        Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
          """{"k":1,"v":9.0}""" + "\n" + """{"k":2,"v":-5.0}""" + "\n")
        run()
        assert(seen.toSet == Set((1L, 3L, 9.0), (2L, 2L, -3.0)))
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  describe("TwsLshGate.perBucket (TTL'd bucket-owner state)") {
    // VERDICT r08 #1(b): ownership must AGE OUT — after the TTL the
    // next arrival in the bucket is admitted and becomes the new owner,
    // and cross-batch admission is first-writer-wins (a smaller id
    // arriving later is the one rejected; an online gate cannot retract
    // an admission it already made).
    it("re-admits after the owner ages out, then the new owner wins") {
      val tmp = Files.createTempDirectory("graft-lshgate-ttl")
      val in = tmp.resolve("in"); Files.createDirectories(in)
      val stage = tmp.resolve("stage"); Files.createDirectories(stage)
      val cp = Files.createTempDirectory("graft-lshgate-cp").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val seen =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
        val rows = spark.readStream.schema("b INT, sig LONG, d LONG")
          .json(in.toString)
          .select($"b", $"sig", $"d").as[(Int, Long, Long)]
        val q = graft.streaming.TwsLshGate
          .perBucket(rows, ttl = java.time.Duration.ofSeconds(2))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[(Long, Boolean)], _: Long) =>
              seen.synchronized { seen ++= b.collect() }; ()
          }
          .outputMode("update").option("checkpointLocation", cp)
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .start()
        // every row targets ONE bucket (band 0, sig 42): each doc emits
        // exactly one output row, so seen.size is the arrival barrier
        def put(name: String, lines: String): Unit = {
          val f = stage.resolve(name)
          Files.writeString(f, lines)
          Files.move(f, in.resolve(name),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
        }
        def waitFor(n: Int): Unit = {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (seen.synchronized(seen.size) < n && q.exception.isEmpty &&
              System.nanoTime() < deadline)
            Thread.sleep(100)
          q.exception.foreach(throw _)
          assert(seen.synchronized(seen.size) >= n)
        }
        // batch 1: 100 seeds the bucket (admitted), 150 is flagged
        put("b1.json",
          """{"b":0,"sig":42,"d":100}""" + "\n" +
            """{"b":0,"sig":42,"d":150}""" + "\n")
        waitFor(2)
        assert(seen.synchronized(seen.toSet) ==
          Set((100L, false), (150L, true)))
        // owner 100 ages out (TTL 2 s) → 200 is RE-admitted as owner
        Thread.sleep(3000)
        seen.synchronized(seen.clear())
        put("b2.json", """{"b":0,"sig":42,"d":200}""" + "\n")
        waitFor(1)
        assert(seen.synchronized(seen.toSet) == Set((200L, false)))
        // 50 < 200 but arrives LATER, inside 200's TTL → rejected
        seen.synchronized(seen.clear())
        put("b3.json", """{"b":0,"sig":42,"d":50}""" + "\n")
        waitFor(1)
        assert(seen.synchronized(seen.toSet) == Set((50L, true)))
        q.stop(); q.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  describe("TwsSemGate.perCell (TTL'd admitted-vector state)") {
    // the ONLINE-greedy property that distinguishes the gate from
    // d36's batch rule: a REJECTED vector never enters the state, so a
    // later vector similar only to a rejected one is admitted; and
    // admission re-opens after the TTL ages the cell out.
    it("gates on admitted vectors only, and re-admits after TTL") {
      val tmp = Files.createTempDirectory("graft-semgate-ttl")
      val in = tmp.resolve("in"); Files.createDirectories(in)
      val stage = tmp.resolve("stage"); Files.createDirectories(stage)
      val cp = Files.createTempDirectory("graft-semgate-cp").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val seen =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
        val rows = spark.readStream
          .schema("b STRING, d LONG, v ARRAY<DOUBLE>").json(in.toString)
          .select($"b", $"d", $"v").as[(String, Long, Array[Double])]
        val q = graft.streaming.TwsSemGate
          .perCell(rows, theta = 0.35,
            ttl = java.time.Duration.ofSeconds(2))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[(Long, Boolean)], _: Long) =>
              seen.synchronized { seen ++= b.collect() }; ()
          }
          .outputMode("update").option("checkpointLocation", cp)
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .start()
        def put(name: String, lines: String): Unit = {
          val f = stage.resolve(name)
          Files.writeString(f, lines)
          Files.move(f, in.resolve(name),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
        }
        def waitFor(n: Int): Unit = {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (seen.synchronized(seen.size) < n && q.exception.isEmpty &&
              System.nanoTime() < deadline)
            Thread.sleep(100)
          q.exception.foreach(throw _)
          assert(seen.synchronized(seen.size) >= n)
        }
        // one cell; unit vectors at 0deg/60deg/120deg/5deg:
        // cos(A,B)=0.5>=0.35, cos(A,X)=-0.5, cos(B,X)=0.5
        // batch 1: A admitted; B rejected (hits A)
        put("b1.json",
          """{"b":"c","d":100,"v":[1.0,0.0]}""" + "\n" +
            """{"b":"c","d":150,"v":[0.5,0.8660254]}""" + "\n")
        waitFor(2)
        assert(seen.synchronized(seen.toSet) ==
          Set((100L, true), (150L, false)))
        // batch 2: X hits ONLY the rejected B -> admitted (B never
        // entered the state; d36's batch any-earlier rule would say no)
        seen.synchronized(seen.clear())
        put("b2.json",
          """{"b":"c","d":50,"v":[-0.5,0.8660254]}""" + "\n")
        waitFor(1)
        assert(seen.synchronized(seen.toSet) == Set((50L, true)))
        // state {A, X} ages out (TTL 2 s) -> Y at 5deg from A admitted
        Thread.sleep(3000)
        seen.synchronized(seen.clear())
        put("b3.json",
          """{"b":"c","d":200,"v":[0.9961947,0.08715574]}""" + "\n")
        waitFor(1)
        assert(seen.synchronized(seen.toSet) == Set((200L, true)))
        q.stop(); q.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }

    // the admitted-vector ListState must survive a query restart: the
    // gate's decisions after resuming from the checkpoint depend on
    // vectors admitted BEFORE the stop (w23's recovery contract for
    // the TwS ListState shape, which the agg/interval restart probes
    // don't cover).
    it("recovers the admitted set from the checkpoint across restart") {
      val tmp = Files.createTempDirectory("graft-semgate-ckpt")
      val in = tmp.resolve("in"); Files.createDirectories(in)
      val stage = tmp.resolve("stage"); Files.createDirectories(stage)
      val cp = Files.createTempDirectory("graft-semgate-cp2").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val seen =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
        def startQuery() = {
          val rows = spark.readStream
            .schema("b STRING, d LONG, v ARRAY<DOUBLE>").json(in.toString)
            .select($"b", $"d", $"v").as[(String, Long, Array[Double])]
          graft.streaming.TwsSemGate
            .perCell(rows, theta = 0.35,
              ttl = java.time.Duration.ofMinutes(10))
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[(Long, Boolean)], _: Long) =>
                seen.synchronized { seen ++= b.collect() }; ()
            }
            .outputMode("update").option("checkpointLocation", cp)
            .trigger(Trigger.ProcessingTime("100 milliseconds"))
            .start()
        }
        def put(name: String, lines: String): Unit = {
          val f = stage.resolve(name)
          Files.writeString(f, lines)
          Files.move(f, in.resolve(name),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
        }
        def waitFor(q: org.apache.spark.sql.streaming.StreamingQuery,
                    n: Int): Unit = {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (seen.synchronized(seen.size) < n && q.exception.isEmpty &&
              System.nanoTime() < deadline)
            Thread.sleep(100)
          q.exception.foreach(throw _)
          assert(seen.synchronized(seen.size) >= n)
        }
        // run 1: A admitted
        val q1 = startQuery()
        put("b1.json", """{"b":"c","d":100,"v":[1.0,0.0]}""" + "\n")
        waitFor(q1, 1)
        assert(seen.synchronized(seen.toSet) == Set((100L, true)))
        q1.stop(); q1.awaitTermination()
        // run 2, same checkpoint: B at 5deg from A must be REJECTED —
        // only possible if A's vector was recovered from the store
        seen.synchronized(seen.clear())
        val q2 = startQuery()
        put("b2.json",
          """{"b":"c","d":150,"v":[0.9961947,0.08715574]}""" + "\n" +
            """{"b":"c","d":151,"v":[0.0,1.0]}""" + "\n")
        waitFor(q2, 2)
        // foreachBatch is at-least-once: the restart may REPLAY the
        // last batch (re-emitting 100's decision) — filter to the new
        // ids; what matters is that 150 is rejected, which is only
        // possible if A's vector came back from the store
        assert(seen.synchronized(seen.toSet).filter(_._1 >= 150L) ==
          Set((150L, false), (151L, true)))
        q2.stop(); q2.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  describe("TwsTopK.perKey (transformWithState, ListState + ValueState)") {
    it("keeps an O(k) top-k list per key across micro-batches") {
      val in = Files.createTempDirectory("graft-twstk-in").toString
      val cp = Files.createTempDirectory("graft-twstk-cp").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val seen = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Seq[Double])]
        def run(): Unit = {
          val pairs = spark.readStream.schema("k LONG, v DOUBLE").json(in)
            .select($"k", $"v").as[(Long, Double)]
          val q = TwsTopK.perKey(pairs, k = 2)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[(Long, Long, Seq[Double])],
               _: Long) => seen.synchronized { seen ++= b.collect() }; ()
            }
            .outputMode("update").option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
          """{"k":1,"v":5.0}""" + "\n" + """{"k":1,"v":1.0}""" + "\n" +
            """{"k":1,"v":3.0}""" + "\n")
        run()
        assert(seen.toList == List((1L, 3L, Seq(5.0, 3.0))))
        // Batch 2 resumes the RocksDB list: 4.0 displaces 3.0, the
        // counter keeps climbing, and the list never exceeds k=2.
        seen.clear()
        Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
          """{"k":1,"v":4.0}""" + "\n" + """{"k":1,"v":0.5}""" + "\n")
        run()
        assert(seen.toList == List((1L, 5L, Seq(5.0, 4.0))))
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }
}
