package graft.sources

import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.unsafe.types.UTF8String

/** Bytes `[start, end)` of one local file; `path` is its `file:` URI. */
final case class FileRange(path: String, start: Long, end: Long)

/** Reads the lines of local files by byte range, as Spark's text source
  * does through Hadoop's `LineRecordReader`, without a Spark scan: the
  * byte path of [[graft.schema.SchemaInference.routedStats]].
  *
  * '''Line rules''' (Hadoop's, with the default separator). A range owns
  * the lines that start inside it, so contiguous ranges of a file read
  * each of its lines exactly once, wherever they are cut:
  *  - LF, CR and CRLF each end a line;
  *  - a range that starts past byte 0 skips up to and including its first
  *    terminator (the range before it reads that line);
  *  - every range reads the line that starts at its end, so a CRLF split
  *    by the boundary ends the previous range's last line and starts no
  *    line of its own;
  *  - a UTF-8 byte-order mark at the start of a file is dropped;
  *  - an empty line is a line; a final terminator adds none.
  *
  * A range is read through one buffer of [[MinBuffer]] to [[MaxBuffer]]
  * bytes, grown only for a longer line; reads stop at the range's end and
  * go on in [[MinBuffer]] steps only to finish its last line.
  */
object LineRanges {

  final val MinBuffer: Int = 64 << 10
  /** Under half of a 1 MB G1 region (the region size of a 2 GB heap), so a
    * buffer is an ordinary young object, not a humongous one. */
  final val MaxBuffer: Int = 256 << 10

  /** The only read options the byte path takes; any other keeps the row
    * path. `basePath` and `__globPaths__` (which a streaming micro-batch's
    * relation always carries) act only while the file index is built:
    * `basePath` sets where partition discovery starts and `__globPaths__`
    * whether a path is expanded as a glob. The byte path reads the files
    * that index already holds, and only when it found no partition
    * column, so neither key changes which lines are read. */
  private val PathOptions = Set("path", "paths", "basepath", "__globpaths__")

  private val MaxLineLength = "mapreduce.input.linerecordreader.line.maxlength"

  /** The stock file systems for `file:`: Hadoop's `LocalFileSystem`, and
    * Hive's `ProxyLocalFileSystem`, which Spark's Hive jar registers for
    * `file:` and which reads through a `LocalFileSystem`. */
  private val StockLocal =
    Set(classOf[LocalFileSystem].getName, "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** True when `hadoop` maps `file:` to a stock local file system. */
  private[graft] def stockLocal(hadoop: Configuration): Boolean =
    StockLocal(FileSystem.getFileSystemClass("file", hadoop).getName)

  /** The byte ranges holding `df`'s column `col`, one sequence per
    * partition in index order; None unless the byte path reads exactly the
    * lines Spark's text scan would. See the other overload. */
  def plan(df: DataFrame, col: String): Option[IndexedSeq[Seq[FileRange]]] =
    plan(df.sparkSession, df.queryExecution.analyzed, col)

  /** The byte ranges holding column `col` of `analyzed`, an analyzed plan
    * of `spark`; None unless the byte path reads exactly the lines Spark's
    * text scan would. That needs `analyzed` to be a text relation with no
    * partition columns, batch or a streaming micro-batch's (optionally
    * under a `Project` that keeps or renames its attributes), `col` its
    * `value` column, text options no other than the path keys
    * ([[PathOptions]]), `spark.sql.files.ignoreCorruptFiles`/
    * `ignoreMissingFiles` off, no `line.maxlength`, and every file local
    * (`file:` on a stock local file system), uncompressed and without a
    * `.<name>.crc` sidecar, which Spark would verify.
    *
    * The files are read in path order, cut into about `defaultParallelism`
    * contiguous ranges of near-equal size: each no larger than
    * `spark.sql.files.maxPartitionBytes`, and fewer ranges where one would
    * be smaller than `spark.sql.files.openCostInBytes`. */
  def plan(spark: SparkSession, analyzed: LogicalPlan, col: String): Option[IndexedSeq[Seq[FileRange]]] = {
    val sql = GraftBridge.sqlConf(spark)
    for {
      (fs, values) <- textRelation(analyzed)
      value <- analyzed.output.find(a => sql.resolver(a.name, col))
      if values.contains(value.exprId) && !sql.ignoreCorruptFiles && !sql.ignoreMissingFiles
      hadoop = GraftBridge.hadoopConf(spark, fs.options)
      if hadoop.get(MaxLineLength) == null
      files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus).sortBy(_.getPath.toString)
      if files.isEmpty || stockLocal(hadoop)
      codecs = new CompressionCodecFactory(hadoop)
      if files.forall(f => plainLocal(f.getPath, codecs))
    } yield {
      val total = files.map(_.getLen).sum
      val n = math.max(ceilDiv(total, sql.filesMaxPartitionBytes),
        math.min(spark.sparkContext.defaultParallelism.toLong, ceilDiv(total, sql.filesOpenCostInBytes)))
      cut(files.map(f => f.getPath.toUri.toString -> f.getLen), n.toInt)
    }
  }

  /** `plan` as a bare text relation: its file relation, and the output
    * columns of `plan` that carry the relation's `value` column. */
  private def textRelation(plan: LogicalPlan): Option[(HadoopFsRelation, Seq[ExprId])] = {
    // Each output column and the relation column it passes on, if any.
    val (child, passed) = plan match {
      case Project(list, child) => child -> list.map {
        case a: AttributeReference => Some(a.exprId -> a.exprId)
        case al @ Alias(a: AttributeReference, _) => Some(al.exprId -> a.exprId)
        case _ => None
      }
      case p => p -> p.output.map(a => Some(a.exprId -> a.exprId))
    }
    child match {
      case LogicalRelation(fs: HadoopFsRelation, output, _, _, _)
          if fs.fileFormat.getClass == classOf[TextFileFormat] && fs.partitionSchema.isEmpty &&
            fs.bucketSpec.isEmpty && fs.options.keys.forall(k => PathOptions(k.toLowerCase(Locale.ROOT))) &&
            passed.forall(_.exists(p => output.exists(_.exprId == p._2))) =>
        Some(fs -> passed.flatten.collect { case (out, in) if in == output.head.exprId => out })
      case _ => None
    }
  }

  private def plainLocal(p: Path, codecs: CompressionCodecFactory): Boolean =
    p.toUri.getScheme == "file" && p.toUri.getAuthority == null && codecs.getCodec(p) == null &&
      !Files.exists(Paths.get(new Path(p.getParent, s".${p.getName}.crc").toUri))

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / math.max(1L, b)

  /** `files` (URI, length), concatenated in order, cut into at most `n`
    * contiguous ranges of `ceil(total / n)` bytes; a range that spans a
    * file boundary holds one piece per file. */
  def cut(files: Seq[(String, Long)], n: Int): IndexedSeq[Seq[FileRange]] = {
    val total = files.map(_._2).sum
    if (total == 0 || n < 1) return IndexedSeq.empty
    val size = ceilDiv(total, n)
    val out = Array.fill(n)(Vector.newBuilder[FileRange])
    var base = 0L
    for ((path, len) <- files) {
      var at = base
      while (at < base + len) {
        val k = (at / size).toInt
        val stop = math.min(base + len, (k + 1) * size)
        out(k) += FileRange(path, at - base, stop - base)
        at = stop
      }
      base += len
    }
    out.iterator.map(_.result()).filter(_.nonEmpty).toIndexedSeq
  }

  /** Calls `f` on each line `r` owns, in order, with the line's bytes where
    * they sit in the read buffer: a line is valid only until `f` returns.
    * Returns the bytes read from the file. */
  def read(r: FileRange)(f: UTF8String => Unit): Long = {
    val ch = FileChannel.open(Paths.get(new URI(r.path)), StandardOpenOption.READ)
    try {
      ch.position(r.start)
      val reader = new RangeReader(ch, r)
      reader.run(f)
      reader.bytesRead
    } finally ch.close()
  }

  private final class RangeReader(ch: FileChannel, r: FileRange) {
    private var buf = new Array[Byte](math.min(MaxBuffer.toLong, math.max(MinBuffer.toLong, r.end - r.start)).toInt)
    private var lo, hi = 0      // unread bytes: buf[lo, hi)
    private var pos = r.start   // file offset of buf(lo)
    private var filePos = r.start // file offset of buf(hi)
    private var eof = false
    var bytesRead = 0L
    // The line at buf(lo), set by `scan`: `len` content bytes, then a
    // terminator of `term` bytes (0 at the end of the file).
    private var len, term = 0

    def run(f: UTF8String => Unit): Unit = {
      if (r.start > 0 && scan()) consume()
      while (pos <= r.end && scan()) {
        val bom = pos == 0 && len >= 3 &&
          buf(lo) == 0xef.toByte && buf(lo + 1) == 0xbb.toByte && buf(lo + 2) == 0xbf.toByte
        val from = if (bom) lo + 3 else lo
        val n = if (bom) len - 3 else len
        // A file that holds only a byte-order mark has no line.
        if (n > 0 || term > 0) f(UTF8String.fromBytes(buf, from, n))
        consume()
      }
    }

    private def consume(): Unit = {
      lo += len + term
      pos += len + term
    }

    /** Finds the line at buf(lo); false when no byte is left. */
    private def scan(): Boolean = {
      var i = lo
      while (true) {
        while (i < hi) {
          val b = buf(i)
          if (b == '\n' || b == '\r') {
            len = i - lo
            term = 1
            if (b == '\r') {
              if (i + 1 == hi) {
                val k = i - lo
                fill()
                i = lo + k
              }
              if (i + 1 < hi && buf(i + 1) == '\n') term = 2
            }
            return true
          }
          i += 1
        }
        val k = i - lo
        val more = fill()
        i = lo + k
        if (!more) {
          len = hi - lo
          term = 0
          return len > 0
        }
      }
      false
    }

    /** Reads more bytes after buf(hi), first moving buf[lo, hi) to the
      * front and, when one line fills the buffer, doubling it. False at the
      * end of the file. */
    private def fill(): Boolean = {
      if (eof) return false
      if (lo > 0) {
        System.arraycopy(buf, lo, buf, 0, hi - lo)
        hi -= lo
        lo = 0
      }
      if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val room = buf.length - hi
      val want = if (filePos < r.end) math.min(room.toLong, r.end - filePos).toInt else math.min(room, MinBuffer)
      var n = 0
      while (n == 0) n = ch.read(ByteBuffer.wrap(buf, hi, want))
      if (n < 0) { eof = true; false }
      else {
        hi += n
        filePos += n
        bytesRead += n
        true
      }
    }
  }
}

/** One partition of [[LineRangeRDD]]: the ranges one task reads. */
private[graft] final class LineRangePartition(val index: Int, val ranges: Seq[FileRange]) extends Partition

/** The byte path's input: partition `i` yields `ranges(i)`, which the job's
  * function reads with [[LineRanges.read]]. */
private[graft] final class LineRangeRDD(sc: SparkContext, @transient private val ranges: IndexedSeq[Seq[FileRange]])
    extends RDD[FileRange](sc, Nil) {
  override protected def getPartitions: Array[Partition] =
    ranges.indices.map(i => new LineRangePartition(i, ranges(i)): Partition).toArray
  override def compute(split: Partition, context: TaskContext): Iterator[FileRange] =
    split.asInstanceOf[LineRangePartition].ranges.iterator
}
