package graft.sources

import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.util.Random

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.schema.{JNull, JTop, JType, JsonShape, RouteStats}

/** `file:` under another class than Hadoop's stock `LocalFileSystem`. */
class SubclassedLocalFileSystem extends LocalFileSystem

/** The local disk under the scheme `grafttest:`, which is not `file:`. */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("grafttest:///")
  override def getScheme: String = "grafttest"
}

/** The byte path of `SchemaInference.routedStats`: [[LineRanges]]' line
  * rules, its equivalence with Spark's text source, that a plain local
  * scan takes it, and that every other input keeps the row path. */
class LineRangeSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark

  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes("UTF-8").toSeq
    case i: Int    => Seq(i.toByte)
  }.toArray

  private def write(dir: Path, name: String, content: Array[Byte]): Path =
    Files.write(dir.resolve(name), content)

  private def file(content: Array[Byte]): Path =
    write(Files.createTempDirectory("graft-lines"), "data.ndjson", content)

  private def lines(r: FileRange): Seq[String] = {
    val out = Seq.newBuilder[String]
    LineRanges.read(r)(l => out += l.toString)
    out.result()
  }

  /** The lines of `f` read as ranges cut at `cuts`, in order. */
  private def cutAt(f: Path, cuts: Long*): Seq[Seq[String]] = {
    val ends = cuts :+ Files.size(f)
    (0L +: cuts).zip(ends).map { case (s, e) => lines(FileRange(f.toUri.toString, s, e)) }
  }

  /** The lines Spark's text source reads from `df`, as raw bytes. */
  private def sparkLines(df: DataFrame): Seq[UTF8String] =
    df.select(col("value").cast("binary")).collect().toSeq.map(r => UTF8String.fromBytes(r.getAs[Array[Byte]](0)))

  /** The routed stats of a sequential fold over `lines`, skipping each
    * invalid one. */
  private def seqStats(lines: Seq[UTF8String], typed: Boolean): RouteStats =
    lines.foldLeft(RouteStats(JNull, 0L, 0L)) { (s, l) =>
      val next = JsonShape.fold(s.shape, l, typed)
      if (next eq JTop) s.copy(nInvalid = s.nInvalid + 1) else RouteStats(next, s.nValid + 1, s.nInvalid)
    }

  /** The RDD names of every stage of every job `body` runs, one entry per job. */
  private def jobsOf(body: => Unit): Seq[Seq[Seq[String]]] = {
    val sc = spark.sparkContext
    val group = s"graft-line-range-${System.nanoTime()}"
    TestSpark.jobsDuring {
      sc.setJobGroup(group, "under test")
      try body finally sc.clearJobGroup()
    }.collect { case (`group`, stages) => stages }
  }

  describe("LineRanges line rules") {
    it("ends a line at LF, CR and CRLF") {
      val f = file(bytes("a\nb\rc\r\nd"))
      assert(cutAt(f) == Seq(Seq("a", "b", "c", "d")))
    }
    it("skips, past byte 0, up to and including the range's first terminator") {
      val f = file(bytes("ab\ncd\nef"))
      assert(cutAt(f, 1) == Seq(Seq("ab"), Seq("cd", "ef")))
      assert(cutAt(f, 4) == Seq(Seq("ab", "cd"), Seq("ef")))
      assert(lines(FileRange(f.toUri.toString, 1, 2)) == Nil)
      assert(lines(FileRange(f.toUri.toString, 1, 3)) == Seq("cd"))
      assert(lines(FileRange(f.toUri.toString, 4, 6)) == Seq("ef"))
    }
    it("reads the line that starts at the range's end, CRLF split by the boundary included") {
      val lf = file(bytes("ab\ncd\nef"))
      assert(cutAt(lf, 3) == Seq(Seq("ab", "cd"), Seq("ef")))
      assert(cutAt(lf, 3, 6) == Seq(Seq("ab", "cd"), Seq("ef"), Nil))
      val cr = file(bytes("ab\rcd"))
      assert(cutAt(cr, 3) == Seq(Seq("ab", "cd"), Nil))
      // The CRLF ends "ab"; the LF after the cut starts no line.
      val crlf = file(bytes("ab\r\ncd"))
      assert(cutAt(crlf, 3) == Seq(Seq("ab"), Seq("cd")))
      assert(cutAt(crlf, 2) == Seq(Seq("ab"), Seq("cd")))
      assert(cutAt(crlf, 4) == Seq(Seq("ab", "cd"), Nil))
    }
    it("drops a UTF-8 byte-order mark at the start of a file only") {
      val bom = Seq(0xef, 0xbb, 0xbf)
      assert(cutAt(file(bytes(bom ++ Seq("ab\ncd"): _*))) == Seq(Seq("ab", "cd")))
      assert(cutAt(file(bytes(bom ++ Seq("ab\ncd"): _*)), 1) == Seq(Seq("ab"), Seq("cd")))
      assert(cutAt(file(bytes(bom: _*))) == Seq(Nil))
      assert(cutAt(file(bytes(bom ++ Seq("\n"): _*))) == Seq(Seq("")))
      val mid = file(bytes(Seq("a\n") ++ bom ++ Seq("b"): _*))
      assert(cutAt(mid).map(_.map(_.getBytes("UTF-8").length)) == Seq(Seq(1, 4)))
    }
    it("reads an empty line as a line, which inference counts invalid; a final terminator adds none") {
      val f = file(bytes("{\"a\":1}\n\n\r\n{\"b\":1}\n"))
      assert(cutAt(f) == Seq(Seq("{\"a\":1}", "", "", "{\"b\":1}")))
      val stats = JsonIngest.inferRoutedStats(JsonIngest.readLines(spark, f.toString), "value")
      assert(stats.nValid == 2 && stats.nInvalid == 2)
      assert(cutAt(file(bytes("a\n"))) == Seq(Seq("a")))
      assert(cutAt(file(bytes(""))) == Seq(Nil))
    }
    it("grows its buffer only for a line longer than it, and reads past it") {
      val long = "x" * (LineRanges.MaxBuffer * 2 + 17)
      val f = file(bytes(s"a\n$long\nb\r\nc"))
      val all = Seq("a", long, "b", "c")
      for (cuts <- Seq(Nil, Seq(5L), Seq(1L, 100L, LineRanges.MaxBuffer.toLong), Seq(long.length + 3L)))
        assert(cutAt(f, cuts: _*).flatten == all, cuts)
    }
  }

  describe("LineRanges.cut") {
    it("cuts files in order into contiguous ranges of ceil(total / n) bytes") {
      val files = Seq("a" -> 5L, "b" -> 0L, "c" -> 7L)
      assert(LineRanges.cut(files, 1) == Seq(Seq(FileRange("a", 0, 5), FileRange("c", 0, 7))))
      assert(LineRanges.cut(files, 2) == Seq(
        Seq(FileRange("a", 0, 5), FileRange("c", 0, 1)), Seq(FileRange("c", 1, 7))))
      assert(LineRanges.cut(files, 5).map(_.map(r => r.end - r.start).sum) == Seq(3, 3, 3, 3))
      assert(LineRanges.cut(Seq("a" -> 0L), 2).isEmpty)
    }
  }

  describe("byte path equivalence with Spark's text source (random files)") {
    // Heavy in terminators and JSON punctuation, with multi-byte and
    // malformed UTF-8, and whole objects so that some lines are valid.
    val tokens: IndexedSeq[Array[Byte]] = IndexedSeq(
      bytes("\n"), bytes("\n"), bytes("\r"), bytes("\r"), bytes("\r\n"), bytes("{"), bytes("{"),
      bytes("\""), bytes("\""), bytes("}"), bytes(":"), bytes("1"), bytes("a"), bytes(" "),
      bytes("é"), bytes("日"), bytes(0x80), bytes(0xff), bytes(0xe6, 0x97), bytes(0xef, 0xbb, 0xbf),
      bytes("{\"a\":1}"), bytes("{\"b\":{\"c\":\"é\"}}"), bytes("{\"a\":\"x\",\"d\":[1.5]}"),
      bytes("{\"", 0xc3, "\":true}"), bytes("{\"e\":[]}"))

    def content(r: Random): Array[Byte] = {
      val body = Array.fill(r.nextInt(60))(tokens(r.nextInt(tokens.length))).flatten
      val bom = if (r.nextInt(4) == 0) bytes(0xef, 0xbb, 0xbf) else Array.emptyByteArray
      val end = if (r.nextBoolean()) bytes(Seq("\n", "\r", "\r\n")(r.nextInt(3))) else Array.emptyByteArray
      bom ++ body ++ end
    }

    it("reads Spark's lines in path order and folds them as the sequential fold, at 1-9 ranges") {
      var ranges = Set.empty[Int]
      for (seed <- 1 to 60) {
        val r = new Random(seed)
        val dir = Files.createTempDirectory("graft-lines-eq")
        val files = (0 until 1 + r.nextInt(5)).map(i => write(dir, f"part-${r.nextInt(100)}%02d-$i.ndjson", content(r)))
        write(dir, ".hidden.ndjson", bytes("{\"hidden\":1}\n"))
        write(dir, "_hidden.ndjson", bytes("{\"hidden\":2}\n"))
        val total = files.map(Files.size).sum
        val k = 1 + r.nextInt(9)
        val typed = r.nextBoolean()
        val session = GraftBridge.cloneSession(spark)
        session.conf.set("spark.sql.files.maxPartitionBytes", math.max(1L, (total + k - 1) / k).toString)
        val df = JsonIngest.readLines(session, dir.toString)

        val want = files.sortBy(_.toUri.toString).flatMap(f => sparkLines(spark.read.text(f.toString)))
        val plan = LineRanges.plan(df, "value")
        assert(plan.isDefined, s"seed $seed took the row path")
        ranges += plan.get.size
        val got = plan.get.flatten.flatMap { fr =>
          val out = Seq.newBuilder[UTF8String]
          LineRanges.read(fr)(l => out += l.clone())
          out.result()
        }
        assert(got == want, s"seed $seed: lines differ")
        val stats = JsonIngest.inferRoutedStats(df, "value", typed)
        assert(stats == seqStats(want, typed), s"seed $seed: stats differ")
      }
      assert(ranges.contains(1) && ranges.exists(_ >= 5), ranges)
    }
  }

  describe("which path routedStats takes") {
    val flowLines = Seq("""{"a":1,"b":{"c":"x"}}""", "nope", """{"d":[1,2],"a":"y"}""", "", """{"e":null}""")
    val plainText = flowLines.mkString("", "\n", "\n")

    def session(confs: (String, String)*): SparkSession = {
      val s = GraftBridge.cloneSession(spark)
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    /** A session whose byte plans cut input into ranges of at most `bytes`. */
    def splitAt(bytes: Int): SparkSession = session("spark.sql.files.maxPartitionBytes" -> bytes.toString)

    /** A directory of two plain files, and the lines Spark reads from them. */
    def twoFiles(): (Path, Seq[UTF8String]) = {
      val dir = Files.createTempDirectory("graft-lines-path")
      write(dir, "a.ndjson", bytes(plainText * 40))
      write(dir, "b.ndjson", bytes(plainText))
      dir -> Seq("a.ndjson", "b.ndjson").flatMap(n => sparkLines(spark.read.text(dir.resolve(n).toString)))
    }

    it("folds a plain local scan off the file bytes: one job, one stage, no FileScanRDD") {
      val (dir, want) = twoFiles()
      val s = splitAt(1024)
      assert(LineRanges.plan(JsonIngest.readLines(s, dir.toString), "value").exists(_.size >= 2))
      var stats: RouteStats = null
      val jobs = jobsOf {
        stats = JsonIngest.inferRoutedStats(JsonIngest.readLines(s, dir.toString), "value")
      }
      assert(jobs.size == 1, jobs)
      assert(jobs.head.size == 1, jobs)
      assert(jobs.head.head == Seq("LineRangeRDD"), jobs)
      assert(stats == seqStats(want, typed = false))
      // A projection of the value column keeps the byte path too.
      val projected = JsonIngest.readLines(s, dir.toString).select("value")
      assert(jobsOf(JsonIngest.inferRoutedStats(projected, "value")).flatten.flatten == Seq("LineRangeRDD"))
    }

    it("folds a one-range byte plan on the calling thread: no job, the same stats") {
      val (dir, want) = twoFiles()
      val df = JsonIngest.readLines(spark, dir.toString)
      assert(LineRanges.plan(df, "value").map(_.size) == Some(1))
      var stats: RouteStats = null
      assert(jobsOf { stats = JsonIngest.inferRoutedStats(df, "value") }.isEmpty)
      assert(stats == seqStats(want, typed = false))
      val projected = df.select("value")
      assert(LineRanges.plan(projected, "value").map(_.size) == Some(1))
      assert(jobsOf { stats = JsonIngest.inferRoutedStats(projected, "value") }.isEmpty)
      assert(stats == seqStats(want, typed = false))
    }

    /** Asserts `df` takes the row path and gives the stats of the lines
      * Spark reads from it. */
    def rowPath(df: DataFrame, what: String): Unit = {
      assert(LineRanges.plan(df, "value").isEmpty, what)
      var stats: RouteStats = null
      val jobs = jobsOf { stats = JsonIngest.inferRoutedStats(df, "value") }
      assert(jobs.size == 1 && jobs.head.size == 1, s"$what: $jobs")
      assert(jobs.head.head.contains("FileScanRDD"), s"$what: $jobs")
      assert(stats == seqStats(sparkLines(df), typed = false), what)
    }

    it("keeps the row path, with the same stats, for every input it cannot read as Spark would") {
      val plain = file(bytes(plainText))
      val base = JsonIngest.inferRoutedStats(JsonIngest.readLines(spark, plain.toString), "value")
      assert(base == seqStats(sparkLines(spark.read.text(plain.toString)), typed = false))

      rowPath(JsonIngest.readLines(spark, plain.toString).filter(col("value") =!= "nope"), "a filtered plan")
      rowPath(spark.read.option("lineSep", "\n").text(plain.toString), "lineSep")
      rowPath(spark.read.option("wholetext", "true").text(plain.toString), "wholetext")
      rowPath(spark.read.option("wholetext", "false").text(plain.toString), "wholetext=false")
      // `basePath` only says where partition discovery starts; with no
      // partition column it reads the same lines, so it keeps the byte path:
      // in place as one range, as one LineRangeRDD job as several.
      for ((s, ranges, stages) <- Seq((spark, 1, Nil), (splitAt(16), 4, Seq(Seq(Seq("LineRangeRDD")))))) {
        val based = s.read.option("basePath", plain.getParent.toString).text(plain.getParent.toString)
        assert(LineRanges.plan(based, "value").map(_.size) == Some(ranges))
        var basedStats: RouteStats = null
        assert(jobsOf { basedStats = JsonIngest.inferRoutedStats(based, "value") } == stages)
        assert(basedStats == base)
      }
      for (key <- Seq("spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles"))
        rowPath(JsonIngest.readLines(session(key -> "true"), plain.toString), key)
      rowPath(JsonIngest.readLines(session(
        "mapreduce.input.linerecordreader.line.maxlength" -> "100000"), plain.toString), "line.maxlength")
      rowPath(JsonIngest.readLines(session("fs.file.impl" -> classOf[SubclassedLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true"), plain.toString), "a LocalFileSystem subclass")
      rowPath(JsonIngest.readLines(session("fs.grafttest.impl" -> classOf[GraftTestFileSystem].getName),
        "grafttest://" + plain.toString), "a grafttest: file")

      val gz = Files.createTempDirectory("graft-lines-gz").resolve("data.ndjson.gz")
      val out = new GZIPOutputStream(Files.newOutputStream(gz))
      try out.write(bytes(plainText)) finally out.close()
      rowPath(JsonIngest.readLines(spark, gz.toString), "a gzip file")

      // Hadoop's LocalFileSystem writes a .<name>.crc beside the file.
      val crcDir = Files.createTempDirectory("graft-lines-crc")
      val fs = new HPath(crcDir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val o = fs.create(new HPath(crcDir.resolve("data.ndjson").toUri))
      try o.write(bytes(plainText)) finally o.close()
      assert(Files.exists(crcDir.resolve(".data.ndjson.crc")))
      rowPath(JsonIngest.readLines(spark, crcDir.toString), "a .crc sidecar")

      // Every row path above read the same lines, so folds to `base`.
      assert(JsonIngest.inferRoutedStats(JsonIngest.readLines(spark, gz.toString), "value") == base)
      assert(JsonIngest.inferRoutedStats(JsonIngest.readLines(spark, crcDir.toString), "value") == base)
    }
  }
}
